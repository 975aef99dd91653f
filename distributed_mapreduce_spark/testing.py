"""Driver-emulating oracle parity checker.

Mirrors the driver's CORRECTNESS gate (__spark_entry__.py contract):
run a registered Spark query and its DuckDB oracle SQL on the same
parquet tables, then compare row count, column names, and the
order-insensitive multiset of values. This is the Spark-era analog of
the reference's `sort mr-out* | cmp` golden diff
(/root/reference/src/main/test-mr.sh:59-67).

Floats compare with a small relative tolerance locally (the queries
themselves round any engine-order-sensitive aggregate so the driver's
exact hash also matches).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import SparkSession

from distributed_mapreduce_spark.caching import cache_scope
from distributed_mapreduce_spark.sources import TABLES


@dataclass
class ParityResult:
    name: str
    ok: bool
    detail: str = ""


def _duckdb_result(sql: str, sf_dir: str):
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        return con.sql(sql).fetchall(), [d[0] for d in con.sql(sql).description]
    finally:
        con.close()


def _canon_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # ~9 significant digits: tolerant of engine-order fp drift,
        # strict enough to catch real bugs.
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(int(v))
    if v is None:
        return "NULL"
    return str(v)


def _canon_rows(rows, col_names):
    order = sorted(range(len(col_names)), key=lambda i: col_names[i])
    return sorted(tuple(_canon_cell(r[i]) for i in order) for r in rows)


def check_query(spark: SparkSession, name: str, fn, sql: str, sf_dir: str) -> ParityResult:
    with cache_scope(spark):
        sdf = fn(spark, sf_dir)
        spark_cols = sdf.columns
        spark_rows = [tuple(r) for r in sdf.collect()]
    duck_rows, duck_cols = _duckdb_result(sql, sf_dir)

    if sorted(c.lower() for c in spark_cols) != sorted(c.lower() for c in duck_cols):
        return ParityResult(name, False, f"columns differ: spark={spark_cols} duck={duck_cols}")
    if len(spark_rows) != len(duck_rows):
        return ParityResult(
            name, False, f"row count differs: spark={len(spark_rows)} duck={len(duck_rows)}"
        )
    a = _canon_rows(spark_rows, [c.lower() for c in spark_cols])
    b = _canon_rows(duck_rows, [c.lower() for c in duck_cols])
    if a != b:
        diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
        return ParityResult(name, False, f"values differ; first diffs (spark,duck): {diffs}")
    return ParityResult(name, True, f"{len(spark_rows)} rows")
