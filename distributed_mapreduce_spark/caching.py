"""Scoped lifetime for cached and checkpointed blocks.

Several operators and query builders persist a subtree that the lazy
DataFrame they return reads more than once (the training set of an
iterative ML fold, the shingle pass feeding signatures + verify +
sizes in the dedup tier), or localCheckpoint an iteration's state to
truncate its lineage. They cannot free those blocks before returning:
the caller's action is what consumes them. The caller owns their
lifetime instead, with one scope around the build and the action:

    with cache_scope(spark):
        rows = query(spark, sf_dir).collect()

Every frame persisted through :func:`persist` and every RDD created by
:func:`local_checkpoint` while a scope is active registers in the
innermost one. The active scope lives in a ``contextvars.ContextVar``,
so it is per thread: a foreachBatch callback opens its own. On exit,
normal or by exception, the scope unpersists exactly what registered
in it and nothing else. With no active scope the helpers only persist
or checkpoint, and nothing releases the blocks.

A localCheckpoint truncates lineage: once its scope exits, no frame
built over the checkpoint can be queried again. Consume a result
inside the scope that built it. Iterative operators free a superseded
checkpoint generation early with :func:`unpersist_rdd_ids` on the ids
:func:`local_checkpoint` returned.
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar
from typing import Iterator

from pyspark.sql import DataFrame

# innermost active scope: (persisted frames, checkpoint RDD ids)
_ACTIVE: ContextVar[tuple[list, set] | None] = ContextVar(
    "dmr_cache_scope", default=None
)


@contextmanager
def cache_scope(spark) -> Iterator[None]:
    """Release every frame and checkpoint registered inside the block
    when it exits, on success and on exception alike. Scopes nest: a
    helper registers in the innermost one only."""
    frames: list = []
    rdd_ids: set = set()
    token = _ACTIVE.set((frames, rdd_ids))
    try:
        yield
    finally:
        _ACTIVE.reset(token)
        for df in frames:
            df.unpersist()
        unpersist_rdd_ids(spark, rdd_ids)


def persist(df: DataFrame) -> DataFrame:
    """`df.persist()`, registered in the active scope if there is one."""
    df = df.persist()
    scope = _ACTIVE.get()
    if scope is not None:
        scope[0].append(df)
    return df


def local_checkpoint(df: DataFrame) -> tuple[DataFrame, frozenset]:
    """Eager `df.localCheckpoint()` plus the ids of the RDDs it
    persisted, registered in the active scope if there is one.

    The blocks have no CacheManager entry, so `DataFrame.unpersist`
    cannot reach them; the ids come from a persistent-RDD diff taken
    around this one call."""
    spark = df.sparkSession
    before = persistent_rdd_ids(spark)
    df = df.localCheckpoint(eager=True)
    ids = persistent_rdd_ids(spark) - before
    scope = _ACTIVE.get()
    if scope is not None:
        scope[1].update(ids)
    return df, ids


def persistent_rdd_ids(spark) -> frozenset:
    """Ids of every currently persisted RDD (JVM registry)."""
    return frozenset(
        spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    )


def unpersist_rdd_ids(spark, ids, blocking: bool = False) -> None:
    """Unpersist the given RDD ids if still registered (idempotent —
    ids already released are skipped)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for i in ids:
        jrdd = jmap.get(i)
        if jrdd is not None:
            jrdd.unpersist(blocking)
