#!/usr/bin/env python3
"""Bit-exact oracle comparison — stricter than scripts/parity.py.

parity.py canonicalizes floats to 9 significant digits, which is the
right day-to-day gate but can mask ulp-level engine divergence that the
round driver's exact value-hash WILL catch (round-1 lesson: 4 green-
locally queries failed the driver hash on an Arrow type artifact).
This script compares exact double repr() and a type tag per cell, so a
pass here means the driver's hash comparison can only disagree on
canonicalization bugs, not on values or types.

Usage: python scripts/strict_parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys

sys.path.insert(0, ".")


def _canon(v):
    if isinstance(v, bool):
        return ("b", int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        return ("f", repr(v))  # exact double repr — bit-level
    if v is None:
        return ("n",)
    # type initial distinguishes e.g. int from Decimal: a DuckDB
    # HUGEINT/decimal128 leak shows up as a type-tag mismatch even when
    # the numeric value is equal.
    return (type(v).__name__[0], str(v))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from pyspark.sql import SparkSession

    import __spark_entry__ as e
    from distributed_mapreduce_spark.caching import cache_scope
    from distributed_mapreduce_spark.testing import _duckdb_result

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("strict-parity")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs, oracles = e.queries(), e.oracle_sql()
    # Shadow-tier queries never see the driver's hash, but they carry
    # the same bit-exactness contract — include them so a new shadow
    # oracle gets the strict check before its first round ends.
    from distributed_mapreduce_spark.registry import shadow_oracles, shadow_queries

    qs = {**qs, **shadow_queries()}
    oracles = {**oracles, **shadow_oracles()}

    bad = []
    for name in sorted(oracles):
        if only and name not in only:
            continue
        with cache_scope(spark):
            sdf = qs[name](spark, sf_dir)
            cols = [c.lower() for c in sdf.columns]
            order = sorted(range(len(cols)), key=lambda i: cols[i])
            srows = sorted(
                tuple(_canon(t[i]) for i in order)
                for t in (tuple(r) for r in sdf.collect())
            )
        drows_raw, dcols = _duckdb_result(oracles[name], sf_dir)
        dcols = [c.lower() for c in dcols]
        dorder = sorted(range(len(dcols)), key=lambda i: dcols[i])
        drows = sorted(tuple(_canon(t[i]) for i in dorder) for t in drows_raw)
        if srows != drows:
            diffs = [(a, b) for a, b in zip(srows, drows) if a != b][:2]
            bad.append(name)
            print(f"STRICT-DIFF {name}: {diffs}")
        else:
            print(f"exact {name}")
    print(f"\nstrict mismatches: {len(bad)} {bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
