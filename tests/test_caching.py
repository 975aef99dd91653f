"""Scoped cache lifetime (caching.cache_scope).

Every persist and localCheckpoint in the package goes through
caching.persist / caching.local_checkpoint, which register the blocks
in the innermost active cache_scope; the scope releases exactly those
on exit. The integration tests here run each persisting operator inside
a scope, materialize its result, and assert the persistent-RDD set
(`spark.sparkContext._jsc.getPersistentRDDs`) after the scope equals
the set before it, with no cached plan left in the CacheManager.
(Cached plans enter that set once materialized, which every test here
does; the CacheManager-empty check lives in test_oracle_parity, which
starts from an empty cache.)
"""

from __future__ import annotations

import pytest

from distributed_mapreduce_spark.caching import (
    cache_scope,
    local_checkpoint,
    persist,
    persistent_rdd_ids,
    unpersist_rdd_ids,
)


def _assert_released(spark, mk):
    """Build and materialize `mk()` inside a scope; assert it cached
    something and the scope released all of it."""
    before = persistent_rdd_ids(spark)
    with cache_scope(spark):
        mk().count()
        assert persistent_rdd_ids(spark) - before, (
            "operator did not persist anything — the site this test "
            "covers was removed; update the test"
        )
    assert persistent_rdd_ids(spark) == before


def test_scope_releases_what_registered(spark):
    """persist and local_checkpoint register in the active scope, which
    releases them on exit; a bare persist inside the scope is not the
    scope's to release."""
    before = persistent_rdd_ids(spark)
    with cache_scope(spark):
        a = persist(spark.range(10).selectExpr("id * 3 AS id"))
        b, ids = local_checkpoint(spark.range(7).selectExpr("id * 5 AS id"))
        assert ids and ids <= persistent_rdd_ids(spark)
        assert a.count() == 10 and b.count() == 7
        mid = persistent_rdd_ids(spark)
        bare = spark.range(6).selectExpr("id * 7 AS id").persist()
        bare.count()
        bare_ids = persistent_rdd_ids(spark) - mid
    assert bare_ids and persistent_rdd_ids(spark) - before == bare_ids
    bare.unpersist()
    assert persistent_rdd_ids(spark) == before


def test_scope_releases_on_exception_and_nests(spark):
    """Release runs on an exception too; an inner scope releases only
    its own registrations, the outer keeps its own until it exits."""
    before = persistent_rdd_ids(spark)
    with pytest.raises(RuntimeError):
        with cache_scope(spark):
            persist(spark.range(11).selectExpr("id * 2 AS id")).count()
            local_checkpoint(spark.range(12).selectExpr("id * 2 AS id"))
            raise RuntimeError("boom")
    assert persistent_rdd_ids(spark) == before

    with cache_scope(spark):
        outer, outer_ids = local_checkpoint(spark.range(13).selectExpr("id AS x"))
        with cache_scope(spark):
            local_checkpoint(spark.range(14).selectExpr("id AS y"))
        assert persistent_rdd_ids(spark) - before == outer_ids
        assert outer.count() == 13
    assert persistent_rdd_ids(spark) == before


def test_scope_is_per_thread(spark):
    """A scope does not capture what another driver thread persists
    while it is open (a foreachBatch callback thread opens its own)."""
    import threading

    before = persistent_rdd_ids(spark)
    other: list = []

    def work():
        df = persist(spark.range(17).selectExpr("id * 17 AS id"))
        df.count()
        other.append(df)

    with cache_scope(spark):
        persist(spark.range(18).selectExpr("id * 19 AS id")).count()
        t = threading.Thread(target=work)
        t.start()
        t.join(timeout=120)
        assert not t.is_alive() and other
    assert len(persistent_rdd_ids(spark) - before) == 1  # the thread's
    other[0].unpersist()
    assert persistent_rdd_ids(spark) == before


def test_helpers_without_scope_only_persist(spark):
    """With no active scope the helpers persist/checkpoint and nothing
    releases the blocks (the caller owns them)."""
    before = persistent_rdd_ids(spark)
    df = persist(spark.range(15).selectExpr("id * 11 AS id"))
    df.count()
    _, ids = local_checkpoint(spark.range(16).selectExpr("id * 13 AS id"))
    assert ids and len(persistent_rdd_ids(spark) - before) == len(ids) + 1
    df.unpersist()
    unpersist_rdd_ids(spark, ids)
    assert persistent_rdd_ids(spark) == before


def _docs(spark, n=40):
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    rows = [
        (i, " ".join(words[(i + j) % len(words)] for j in range(12)))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _emb(spark, n=30, dim=4):
    rows = [
        (i, i % 3, [float((i * 7 + j * 3) % 11) / 10 + 0.1 for j in range(dim)])
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "vec_id bigint, label int, embedding array<float>"
    )


def test_dedup_operators_release(spark):
    from distributed_mapreduce_spark.operators.dedup import (
        doc_shingles,
        dup_span_coverage,
        incremental_minhash_pairs,
        jaccard_pairs,
        minhash_near_dup_pairs,
        simhash_near_dup_pairs,
        span_scrub,
    )

    docs = _docs(spark)
    for mk in (
        lambda: jaccard_pairs(doc_shingles(docs), 0.5),
        lambda: minhash_near_dup_pairs(docs, 0.5),
        lambda: incremental_minhash_pairs(
            doc_shingles(docs, carry=((docs.doc_id % 2 == 0).alias("is_new"),))
        ),
        lambda: simhash_near_dup_pairs(docs),
        lambda: dup_span_coverage(docs),
        lambda: span_scrub(docs),
    ):
        _assert_released(spark, mk)


def test_iterative_ml_operators_release(spark):
    from distributed_mapreduce_spark.operators.regression import (
        linreg_gd,
        linsvm_gd,
    )
    from distributed_mapreduce_spark.operators.similarity import (
        kmeans_lloyd,
        power_iteration,
    )

    emb = _emb(spark)
    xy = spark.createDataFrame(
        [(float(i), 2.0 * i + 1.0) for i in range(20)], "x double, y double"
    )
    svm = spark.createDataFrame(
        [(float(i % 5), float(i % 7), 1.0 if i % 2 else -1.0) for i in range(20)],
        "f1 double, f2 double, y double",
    )
    for mk in (
        lambda: kmeans_lloyd(emb, dim=4, k=3, iters=2),
        lambda: power_iteration(emb, dim=4, iters=2),
        lambda: linreg_gd(xy, iters=2),
        lambda: linsvm_gd(svm, ["f1", "f2"], iters=2),
    ):
        _assert_released(spark, mk)


def test_similarity_and_sampling_release(spark):
    from distributed_mapreduce_spark.operators.sampling import (
        global_shuffle_index,
    )
    from distributed_mapreduce_spark.operators.similarity import (
        knn_join_ivf,
        train_centroids_kmeans,
    )

    emb = _emb(spark)
    cents = train_centroids_kmeans(emb, num_cells=3)
    _assert_released(spark, lambda: knn_join_ivf(emb, cents, k=2, nprobe=2))
    _assert_released(spark, lambda: global_shuffle_index(_docs(spark), "doc_id"))


def test_query_builders_release(spark):
    from distributed_mapreduce_spark.queries.simops import (
        label_centroid_profile,
        semdedup_representatives,
    )

    emb = _emb(spark)
    _assert_released(spark, lambda: label_centroid_profile(emb, dim=4))
    _assert_released(
        spark, lambda: semdedup_representatives(emb, dim=4, k=3, iters=1)
    )


def test_graph_checkpoints_release(spark):
    """connected_components / pagerank checkpoint (no CacheManager
    entry — DataFrame.unpersist can't reach the blocks): superseded
    generations and the edge checkpoints are freed inside the operator,
    so only the final checkpoint the result reads is left for the
    caller's scope. The driver union-find branch frees its edge
    checkpoint itself and returns a driver-built frame."""
    from distributed_mapreduce_spark.operators.components import (
        connected_components,
        pagerank,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_i bigint, id_j bigint"
    )
    before = persistent_rdd_ids(spark)
    # driver branch: checkpoint freed inside the operator, no scope
    assert connected_components(edges).count() == 5
    assert persistent_rdd_ids(spark) == before
    with cache_scope(spark):
        # distributed branch: only the final label checkpoint survives
        ccd = connected_components(edges, driver_max_edges=0)
        got = {r.id: r.component for r in ccd.collect()}
        assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}
        assert len(persistent_rdd_ids(spark) - before) == 1
    assert persistent_rdd_ids(spark) == before
    with cache_scope(spark):
        assert pagerank(edges).count() == 5
        assert len(persistent_rdd_ids(spark) - before) == 1  # final ranks
    assert persistent_rdd_ids(spark) == before
    # iters=0 edge: the lazy result still reads the deg checkpoint —
    # it must stay alive until the scope exits (r14 self-review)
    with cache_scope(spark):
        pr0 = pagerank(edges, iters=0)
        assert pr0.count() == 5 and {r.pr for r in pr0.collect()} == {0.2}
    assert persistent_rdd_ids(spark) == before


def test_bpe_releases_vocab_generations(spark, monkeypatch):
    """bpe_train / bpe_train_batched free each superseded vocab
    checkpoint in-loop (at most two generations live, at the moment a
    new one lands) and leave nothing persisted once they return."""
    from distributed_mapreduce_spark import caching
    from distributed_mapreduce_spark.operators.bpe import (
        CHECKPOINT_EVERY,
        bpe_train,
        bpe_train_batched,
    )

    docs = _docs(spark, n=12)
    real = caching.local_checkpoint
    live: list[int] = []

    def counting(df):
        out = real(df)
        live.append(len(persistent_rdd_ids(spark) - before))
        return out

    monkeypatch.setattr(caching, "local_checkpoint", counting)
    n = 2 * CHECKPOINT_EVERY  # the fixture corpus has ~23 merges
    for train in (
        lambda: bpe_train(docs, n),
        lambda: bpe_train_batched(docs, n, batch_size=1),
    ):
        before = persistent_rdd_ids(spark)
        live.clear()
        assert len(train()) == n
        assert len(live) == 3  # initial vocab + one per CHECKPOINT_EVERY
        assert max(live) == 2 * live[0]
        assert persistent_rdd_ids(spark) == before


def test_error_paths_do_not_leak_blocks(spark):
    """The refusal paths unpersist before raising, with no scope:
    zero-variance / empty power_iteration, NULL-key shuffle index."""
    from distributed_mapreduce_spark.operators.sampling import (
        global_shuffle_index,
    )
    from distributed_mapreduce_spark.operators.similarity import power_iteration

    before = persistent_rdd_ids(spark)
    flatd = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(5)],
        "vec_id bigint, embedding array<float>",
    )
    with pytest.raises(ValueError):
        power_iteration(flatd, dim=4)
    docs = spark.createDataFrame(
        [(None, "x"), (1, "y")], "doc_id bigint, text string"
    )
    with pytest.raises(ValueError):
        global_shuffle_index(docs, "doc_id").count()
    assert persistent_rdd_ids(spark) == before
