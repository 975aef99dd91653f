#!/usr/bin/env python
"""Targeted sub-plan timing harness for the optimization rounds.

Times named DataFrame builders with the bench's own methodology (noop
sink, min over K interleaved passes, per-query cache hygiene) without
running the whole tier. Experiments live in EXPERIMENTS below — the
round's scratchpad; results are copied into OPTIMIZATION notes, never
read by bench.py or the driver.

Usage: python scripts/microbench.py <experiment> [passes]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, ".")

from distributed_mapreduce_spark import caching  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run(spark, builders: dict, passes: int = 3) -> None:
    samples = {n: [] for n in builders}
    # warm pass identical to bench warmup: first execution pays codegen
    for name in builders:
        try:
            with caching.cache_scope(spark):
                force(builders[name](spark))
        except Exception as exc:
            print(f"  warm {name} FAILED: {exc}")
    for _ in range(passes):
        for name in builders:
            with caching.cache_scope(spark):
                t0 = time.perf_counter()
                force(builders[name](spark))
                samples[name].append(time.perf_counter() - t0)
    for name, v in samples.items():
        print(f"  {min(v):7.3f}s min (max {max(v):.3f})  {name}")


def main() -> int:
    exp = sys.argv[1]
    passes = int(sys.argv[2]) if len(sys.argv) > 2 else 3

    from distributed_mapreduce_spark.session import get_spark

    spark = get_spark(app_name=f"microbench-{exp}")
    from pyspark.sql import functions as F  # noqa: F401

    from distributed_mapreduce_spark.sources import table, widen  # noqa: F401

    builders = EXPERIMENTS[exp](spark)
    # engine warmup (bench.py parity)
    n = spark.sparkContext.defaultParallelism
    warm = spark.range(n * 1000).repartition(n)
    force(warm.groupBy((F.col("id") % 7).alias("k")).count())
    run(spark, builders, passes)
    return 0


# --- experiments -------------------------------------------------------------


def _exp_lineitem_agg(spark):
    """Where does rel_q1's time go: scan, exchange, or agg?"""
    from distributed_mapreduce_spark.queries.relational import (
        rel_q1_pricing_summary,
    )

    def scan_only(s):
        return table(s, SF_DIR, "lineitem")

    def q1_current(s):
        return rel_q1_pricing_summary(s, SF_DIR)

    return {
        "scan_noop_full_rows": lambda s: scan_only(s),
        "rel_q1_current": q1_current,
    }


def _exp_contam_prefilter(spark):
    """contam_q1 (r17): broadcast bench-key prefilter of the train side
    vs the old full train distinct (VERDICT r16 #3)."""
    from pyspark.sql import functions as F

    from distributed_mapreduce_spark.operators.contamination import (
        contamination_report,
    )
    from distributed_mapreduce_spark.operators.dedup import doc_shingles
    from distributed_mapreduce_spark.queries.pipeline_queries import (
        BENCH_SOURCE,
        CONTAM_MIN_OVERLAP,
        contam_q1_benchmark_overlap,
    )
    from distributed_mapreduce_spark.sources import table, widen

    def old_shape(s):
        docs = widen(table(s, SF_DIR, "documents"))
        sh = caching.persist(
            doc_shingles(
                docs, carry=((F.col("source") == BENCH_SOURCE).alias("is_bench"),)
            )
        )
        bench_sh = sh.where(F.col("is_bench")).select("id", "shingle")
        train_sh = sh.where(~F.col("is_bench")).select("id", "shingle")
        rep = contamination_report(bench_sh, train_sh, CONTAM_MIN_OVERLAP)
        return rep.select(
            F.col("id").alias("doc_id"), "n_shingles", "n_hit", "overlap",
            F.col("contaminated").cast("int").alias("contaminated"),
        )

    def string_prefilter(s):
        docs = widen(table(s, SF_DIR, "documents"))
        sh = caching.persist(
            doc_shingles(
                docs, carry=((F.col("source") == BENCH_SOURCE).alias("is_bench"),)
            )
        )
        bench_sh = sh.where(F.col("is_bench")).select("id", "shingle")
        train_sh = sh.where(~F.col("is_bench")).select("id", "shingle")
        bench_keys = bench_sh.select("shingle").distinct()
        train_pref = train_sh.join(F.broadcast(bench_keys), "shingle", "left_semi")
        rep = contamination_report(bench_sh, train_pref, CONTAM_MIN_OVERLAP)
        return rep.select(
            F.col("id").alias("doc_id"), "n_shingles", "n_hit", "overlap",
            F.col("contaminated").cast("int").alias("contaminated"),
        )

    def expansion_only(s):
        docs = widen(table(s, SF_DIR, "documents"))
        return doc_shingles(
            docs, carry=((F.col("source") == BENCH_SOURCE).alias("is_bench"),)
        )

    def one_pass(s):
        docs = widen(table(s, SF_DIR, "documents"))
        sh = caching.persist(
            doc_shingles(
                docs, carry=((F.col("source") == BENCH_SOURCE).alias("is_bench"),)
            )
        )
        # per-shingle train-hit flag in ONE agg over the tagged
        # expansion; bench rows broadcast onto it; one groupBy(id)
        # replaces sizes+hits+outer-join
        flags = sh.groupBy("shingle").agg(
            F.max(F.when(~F.col("is_bench"), 1).otherwise(0)).alias("hit")
        )
        bench_sh = sh.where(F.col("is_bench")).select("id", "shingle")
        per = flags.join(F.broadcast(bench_sh), "shingle")
        agg = per.groupBy("id").agg(
            F.count("*").alias("n_shingles"), F.sum("hit").alias("n_hit")
        )
        return agg.select(
            F.col("id").alias("doc_id"),
            "n_shingles",
            "n_hit",
            F.round(F.col("n_hit") / F.col("n_shingles"), 6).alias("overlap"),
            (
                F.round(F.col("n_hit") / F.col("n_shingles"), 6) >= CONTAM_MIN_OVERLAP
            ).cast("int").alias("contaminated"),
        )

    return {
        "contam_q1_old_full_distinct": old_shape,
        "contam_q1_new_prefilter": lambda s: contam_q1_benchmark_overlap(s, SF_DIR),
        "contam_q1_string_prefilter": string_prefilter,
        "contam_q1_expansion_only": expansion_only,
        "contam_q1_one_pass": one_pass,
    }


def _exp_q6_width(spark):
    """dedup_q6 width tax (VERDICT r16 #7): 65-column flat self-join vs
    keeping the normalized ARRAY through the grid join with (b) an
    interpreted HOF fold and (c) an unrolled element_at chain."""
    from pyspark.sql import functions as F

    from distributed_mapreduce_spark.functions.vectors import (
        norm,
        unrolled_dot_expr_spark,
    )
    from distributed_mapreduce_spark.queries.simops import (
        DIM,
        EMB_DUP_THRESHOLD,
        EMB_GRID_BLOCKS,
        _grid_self_pair_join,
        dedup_q6_embedding_cosine,
    )
    from distributed_mapreduce_spark.sources import table, widen

    def _norm_array(s):
        emb = table(s, SF_DIR, "embeddings")
        return caching.persist(
            widen(
                emb.withColumn("__n", norm(F.col("embedding")))
                .where(F.col("__n") > 0)
                .select(
                    F.col("vec_id").alias("id"),
                    F.transform("embedding", lambda x: x.cast("double") / F.col("__n")).alias("__v"),
                )
            )
        )

    def _pairs(s, dot):
        flat = _norm_array(s)
        return (
            _grid_self_pair_join(flat, EMB_GRID_BLOCKS)
            .select(
                F.least(F.col("a.id"), F.col("b.id")).alias("id_i"),
                F.greatest(F.col("a.id"), F.col("b.id")).alias("id_j"),
                F.round(dot, 6).alias("cos_sim"),
            )
            .where(F.col("cos_sim") >= EMB_DUP_THRESHOLD)
        )

    def array_hof(s):
        dot = F.aggregate(
            F.zip_with(F.col("a.__v"), F.col("b.__v"), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return _pairs(s, dot)

    def array_unrolled(s):
        dot = F.expr(
            " + ".join(
                f"element_at(a.__v, {i}) * element_at(b.__v, {i})"
                for i in range(1, DIM + 1)
            )
        )
        return _pairs(s, dot)

    return {
        "q6_flat65_current": lambda s: dedup_q6_embedding_cosine(s, SF_DIR),
        "q6_array_hof": array_hof,
        "q6_array_unrolled": array_unrolled,
    }


def _exp_rel_widen(spark):
    """rel_q3/rel_q2 (r17): widen+project the lineitem side before the
    orderkey join — the rel_q1 treatment (r16) applied to the join
    queries whose scan+probe+partial-agg stage profiled single-task."""
    from pyspark.sql import functions as F

    from distributed_mapreduce_spark.queries.relational import (
        dec,
        money,
        rel_q2_region_revenue,
        rel_q3_top_customers,
    )
    from distributed_mapreduce_spark.sources import load, table, widen

    def q3_widened(s):
        t = load(s, SF_DIR, "lineitem", "orders", "customer")
        li = widen(
            t["lineitem"].select("l_orderkey", "l_extendedprice", "l_discount")
        )
        return (
            li.join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
            .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
            .groupBy("c_custkey", "c_name")
            .agg(money(F.sum(dec("l_extendedprice") * (1 - dec("l_discount")))).alias("revenue"))
            .orderBy(F.desc("revenue"), F.asc("c_custkey"))
            .limit(10)
        )

    def q2_widened(s):
        t = load(s, SF_DIR, "lineitem", "orders", "customer", "nation", "region")
        orders = t["orders"].where(
            (F.col("o_orderdate") >= F.lit("1996-01-01"))
            & (F.col("o_orderdate") < F.lit("1998-01-01"))
        )
        li = widen(
            t["lineitem"].select("l_orderkey", "l_extendedprice", "l_discount")
        )
        return (
            li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
            .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
            .groupBy("r_name", "n_name")
            .agg(
                money(F.sum(dec("l_extendedprice") * (1 - dec("l_discount")))).alias("revenue"),
                F.count("*").alias("n_items"),
            )
        )

    return {
        "rel_q3_current": lambda s: rel_q3_top_customers(s, SF_DIR),
        "rel_q3_widened": q3_widened,
        "rel_q2_current": lambda s: rel_q2_region_revenue(s, SF_DIR),
        "rel_q2_widened": q2_widened,
    }


EXPERIMENTS = {
    "lineitem_agg": _exp_lineitem_agg,
    "contam_prefilter": _exp_contam_prefilter,
    "q6_width": _exp_q6_width,
    "rel_widen": _exp_rel_widen,
}


if __name__ == "__main__":
    sys.exit(main())
