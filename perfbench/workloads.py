"""The benchmark's workloads: what one pass calls, how each call is
checked, and the set-up each workload needs.

Every workload is a closed loop with one client: the next call starts
only after the previous one has returned. The workload seed fixes the
order of calls in every pass and the served-get key sequence; the
fixture tables never depend on it.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
from dataclasses import dataclass, field
from typing import Callable

import numpy as np

from distributed_mapreduce_spark import testing
from distributed_mapreduce_spark.registry import (
    all_oracles,
    all_queries,
    shadow_oracles,
)

# Heavy LLM-data queries: operator kernels and shuffle set the time.
PIPELINE = (
    "dedup_q6_embedding_cosine",
    "contam_q1_benchmark_overlap",
)

GETS_PER_PASS = 4  # closed-loop served gets per ingest-serve pass
KEY_SKEW = 1.1  # Zipf exponent of the served-get key ranks
KEYSPACE = [str(k) for k in range(100)]  # operators.kv.ops_projection keys


@dataclass
class Call:
    """One client call. `build` returns the DataFrame the client
    collects; `check` returns an error string or None."""

    name: str
    build: Callable
    check: Callable
    kind: str = "query"
    after: Callable | None = None
    info: dict = field(default_factory=dict)


def digest(cols, rows) -> str:
    canon = testing._canon_rows(rows, [c.lower() for c in cols])
    return hashlib.sha1(repr(canon).encode()).hexdigest()


def oracle_digest(sql: str, fixtures: str) -> str:
    rows, cols = testing._duckdb_result(sql, fixtures)
    return digest(cols, rows)


def fresh_dir(work: str, prefix: str) -> str:
    return tempfile.mkdtemp(prefix=prefix, dir=work)


class RegistryWorkload:
    """Registered queries, each called with the session and the fixture
    directory, as `__spark_entry__.queries()` exposes them."""

    def __init__(self, name: str, names: tuple[str, ...], nominal_pass_s: float):
        self.name = name
        self.names = names
        self.nominal_pass_s = nominal_pass_s

    def setup(self, spark, fixtures: str, work: str) -> None:
        self.fixtures = fixtures
        self.fns = all_queries()

    def oracles(self, fixtures: str) -> dict:
        """The DuckDB oracle digest of every call."""
        sql = all_oracles()
        return {n: oracle_digest(sql[n], fixtures) for n in self.names}

    def gate(self, expected: dict) -> None:
        self.expected = expected

    def calls(self, rng: np.random.Generator) -> list[Call]:
        order = rng.permutation(len(self.names))
        return [self._call(self.names[i]) for i in order]

    def _call(self, name: str) -> Call:
        fn = self.fns[name]

        def check(cols, rows):
            if digest(cols, rows) != self.expected[name]:
                return f"{name}: result differs from its DuckDB oracle"
            return None

        return Call(name, lambda spark: fn(spark, self.fixtures), check)


class IngestServeWorkload:
    """Writes beside reads on the streaming layer: the KV-serving sink
    folds the events op log in micro-batches into a fresh store
    (manifest-committed, exactly-once), then closed-loop point gets are
    served from that store."""

    name = "ingest-serve"
    nominal_pass_s = 7.0

    def setup(self, spark, fixtures: str, work: str) -> None:
        import pyarrow.parquet as pq

        from distributed_mapreduce_spark.queries.streaming_queries import N_CHUNKS
        from distributed_mapreduce_spark.streaming.replay import stage_event_chunks

        self.work = work
        self.ev_chunks = stage_event_chunks(
            fixtures, N_CHUNKS, workdir=fresh_dir(work, "events_")
        )
        self.ev_bytes = _tree_bytes(self.ev_chunks)
        self.n_ops = pq.ParquetFile(f"{fixtures}/events.parquet").metadata.num_rows
        self.kv_store = None
        self.keys = None

    def oracles(self, fixtures: str) -> dict:
        """The kv_q1 fold (digest and key -> value) and the kv_q5 served
        multi-get digest."""
        sql = {**all_oracles(), **shadow_oracles()}
        rows, cols = testing._duckdb_result(sql["kv_q1_state_fold"], fixtures)
        return {
            "fold_digest": digest(cols, rows),
            "fold": {k: v for k, v in rows},
            "kv_q5_digest": oracle_digest(sql["kv_q5_served_get"], fixtures),
        }

    def gate(self, expected: dict) -> None:
        self.expected_fold = expected["fold_digest"]
        self.fold = expected["fold"]
        self.kv_q5_digest = expected["kv_q5_digest"]

    def calls(self, rng: np.random.Generator) -> list[Call]:
        if self.keys is None:
            # one seeded key multiset per run, so passes repeat exactly;
            # only its order changes from pass to pass
            ranks = rng.permutation(len(KEYSPACE))
            p = 1.0 / np.arange(1, len(KEYSPACE) + 1) ** KEY_SKEW
            picks = rng.choice(len(KEYSPACE), GETS_PER_PASS, p=p / p.sum())
            self.keys = [KEYSPACE[ranks[i]] for i in picks]
        keys = [self.keys[i] for i in rng.permutation(len(self.keys))]
        return [self._fold()] + [self._get(k) for k in keys]

    def _fold(self) -> Call:
        from distributed_mapreduce_spark.operators.kv import ops_projection
        from distributed_mapreduce_spark.queries.streaming_queries import (
            STREAM_SHUFFLE_PARTITIONS,
        )
        from distributed_mapreduce_spark.streaming import kv_serving
        from distributed_mapreduce_spark.streaming.replay import event_stream

        store = fresh_dir(self.work, "kv_store_")
        ckpt = fresh_dir(self.work, "kv_ckpt_")
        info = {"in_bytes": self.ev_bytes, "rows": self.n_ops}

        def build(spark):
            prev = spark.conf.get("spark.sql.shuffle.partitions")
            spark.conf.set(
                "spark.sql.shuffle.partitions", str(STREAM_SHUFFLE_PARTITIONS)
            )
            try:
                q = kv_serving.foreach_batch_kv_serving(
                    ops_projection(event_stream(spark, self.ev_chunks)),
                    f"{store}/t",
                    ckpt,
                )
                q.awaitTermination()
            finally:
                spark.conf.set("spark.sql.shuffle.partitions", prev)
            self.kv_store = f"{store}/t"
            return kv_serving.read_kv_state(spark, self.kv_store)

        def check(cols, rows):
            if digest(cols, rows) != self.expected_fold:
                return "kv fold: state differs from the kv_q1 fold oracle"
            return None

        def after():
            info["store_bytes"] = _tree_bytes(store)
            info["store_files"] = _tree_files(store)
            shutil.rmtree(ckpt, ignore_errors=True)

        return Call("kv_fold", build, check, "kv_fold", after, info)

    def _get(self, key: str) -> Call:
        from distributed_mapreduce_spark.streaming import kv_serving

        def build(spark):
            return kv_serving.kv_served_get(spark, self.kv_store, key)

        def check(cols, rows):
            got = [tuple(r) for r in rows]
            want = [(key, self.fold.get(key, ""))]
            if got != want:
                return f"get {key!r}: served {got}, fold oracle {want}"
            return None

        return Call("get", build, check, "get")

    def gate_served(self, spark) -> str | None:
        """kv_q5's served multi-get shape (head and as-of snapshots) on
        the folded store, against the kv_q5_served_get oracle."""
        from pyspark.sql import functions as F

        from distributed_mapreduce_spark.queries.streaming_queries import (
            AS_OF_BATCH,
            KV_SERVE_KEYS,
        )
        from distributed_mapreduce_spark.streaming.kv_serving import (
            kv_served_multi_get,
        )

        head = kv_served_multi_get(spark, self.kv_store, KV_SERVE_KEYS)
        asof = kv_served_multi_get(
            spark, self.kv_store, KV_SERVE_KEYS, as_of=AS_OF_BATCH
        )
        df = head.select(F.lit("head").alias("snap"), "key", "value").unionByName(
            asof.select(F.lit("asof").alias("snap"), "key", "value")
        )
        got = digest(df.columns, [tuple(r) for r in df.collect()])
        if got != self.kv_q5_digest:
            return "kv_q5 served multi-get differs from its oracle"
        return None


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def _tree_files(path: str) -> int:
    return sum(len(files) for _, _, files in os.walk(path))


# nominal_pass_s: a warm pass on a 4-core host; with --seconds it fixes
# how many passes a run measures.
WORKLOADS = {
    "pipeline": lambda: RegistryWorkload("pipeline", PIPELINE, 3.9),
    "ingest-serve": IngestServeWorkload,
}


def oracle_results(workload: str, fixtures: str) -> dict:
    """The workload's oracle results. The benchmark runs this in a child
    process, so DuckDB's memory never counts in the measured process
    tree."""
    return WORKLOADS[workload]().oracles(fixtures)
