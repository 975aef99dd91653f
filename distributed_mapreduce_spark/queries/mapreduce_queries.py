"""The reference's MapReduce query workload (SURVEY.md §2.2), Spark-first.

Q1 wc        — /root/reference/src/mrapps/wc.go:21-44
Q2 indexer   — /root/reference/src/mrapps/indexer.go:20-39
Q3/Q4 crash/nocrash sorted-concat agg — /root/reference/src/mrapps/crash.go:34-55,
               nocrash.go:26-47 (identical query, crash disabled)

Each is a declarative DataFrame plan: tokenize with JVM-side
split/explode, aggregate with hash-agg + map-side partial aggregation
(the reference ships one KV pair per word occurrence with no combiner,
wc.go:29-33 — at 100 TB the partial agg is the difference between a
~vocabulary-sized shuffle and a ~corpus-sized one).

The generic map/reduce *UDF* surface (arbitrary user mapf/reducef,
SURVEY O2/O6) lives in operators/mapreduce.py; these are the idiomatic
fast paths for the same workloads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_mapreduce_spark import caching
from distributed_mapreduce_spark.sources import table

# Same token rule as the reference: words are maximal letter runs
# (unicode.IsLetter split, wc.go:23-26). ASCII classes keep Spark's
# Java regex and DuckDB's RE2 in exact agreement.
TOKEN_SPLIT = "[^A-Za-z]+"


def words(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Tokenize: one row per word occurrence. Map side of Q1."""
    return docs.select(
        F.explode(F.split(F.col(text_col), TOKEN_SPLIT)).alias("word")
    ).where(F.col("word") != "")


def mr_q1_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 wc: word → occurrence count over the documents corpus.

    Reference: map emits (word,"1") per occurrence (wc.go:29-33), reduce
    counts (wc.go:41-44). Here: split+explode then count — Catalyst
    plans scan(text only) → partial_count → shuffle(word) → final count.
    """
    docs = table(spark, sf_dir, "documents")
    return words(docs).groupBy("word").agg(F.count("*").alias("cnt"))


def mr_q2_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 indexer: word → (#docs, sorted comma-joined doc list).

    Reference: map dedups words per document via a set
    (indexer.go:21-26) and emits (word, docname); reduce sorts the doc
    list and emits "<count> <d1,d2,...>" (indexer.go:36-39). Here the
    map-side distinct is `.distinct()` on (word, doc) — a partial-agg
    shuffle — and the reduce is collect_list + sort_array + concat_ws.
    Doc ids render as strings, so the sort is lexicographic on both the
    Spark and oracle sides.
    """
    docs = table(spark, sf_dir, "documents")
    word_doc = (
        docs.select(
            F.explode(F.split("text", TOKEN_SPLIT)).alias("word"),
            F.col("doc_id").cast("string").alias("doc"),
        )
        .where(F.col("word") != "")
        .distinct()
    )
    return word_doc.groupBy("word").agg(
        F.count("doc").alias("n_docs"),
        F.concat_ws(",", F.sort_array(F.collect_list("doc"))).alias("docs"),
    )


def mr_q3_sorted_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3/Q4 crash/nocrash query semantics: 4 fixed keys per input doc,
    values space-joined in sorted order.

    Reference map emits a→filename, b→len(filename), c→len(contents),
    d→"xyzzy" per document (crash.go:34-43); reduce sorts values and
    joins with " " (crash.go:45-55). The crash/sleep fault injection
    maps to Spark task retry (built-in), not to the query. Here the
    4-way emit is an inline array + explode (no UDF), and the reduce is
    sort_array + array_join — one shuffle, partial-agg eligible.
    """
    docs = table(spark, sf_dir, "documents")
    kv = docs.select(
        F.explode(
            F.array(
                F.struct(F.lit("a").alias("key"), F.col("source").alias("value")),
                F.struct(
                    F.lit("b").alias("key"),
                    F.length("source").cast("string").alias("value"),
                ),
                F.struct(
                    F.lit("c").alias("key"),
                    F.length("text").cast("string").alias("value"),
                ),
                F.struct(F.lit("d").alias("key"), F.lit("xyzzy").alias("value")),
            )
        ).alias("kv")
    ).select("kv.key", "kv.value")
    return kv.groupBy("key").agg(
        F.array_join(F.sort_array(F.collect_list("value")), " ").alias("value")
    )


def mr_q4_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 + O7 end-to-end: the wordcount result flows through BOTH
    reference wire formats and must survive byte-exact — first the
    JSON-lines intermediate ({"Key":...,"Value":...},
    /root/reference/src/mr/worker.go:103-140), then the final
    `"key value"` text sink (worker.go:217-218), each written with
    Spark's atomic output commit and read back cold. The returned rows
    are parsed from the text sink, so the oracle comparison certifies
    the sink/scan formats, not just the in-memory plan."""
    import shutil
    import tempfile

    from distributed_mapreduce_spark.sources.catalog import write_kv_text
    from distributed_mapreduce_spark.sources.files import read_jsonl_kv, write_jsonl_kv

    wc = mr_q1_wordcount(spark, sf_dir).select(
        F.col("word").alias("key"), F.col("cnt").alias("value")
    )
    tmp = tempfile.mkdtemp(prefix="mr_q4_roundtrip_")
    try:
        write_jsonl_kv(wc, f"{tmp}/shuffle")  # O4 intermediate format
        inter = read_jsonl_kv(spark, f"{tmp}/shuffle")
        write_kv_text(inter, f"{tmp}/out")  # O7 final text sink
        lines = spark.read.text(f"{tmp}/out")
        parsed = lines.select(
            F.split("value", " ", 2)[0].alias("key"),
            F.split("value", " ", 2)[1].alias("value"),
        )
        # Materialize before the temp dir vanishes: the count forces the
        # full read and the localCheckpoint pins the parsed rows.
        return caching.local_checkpoint(parsed)[0]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


ORACLES = {
    "mr_q1_wordcount": f"""
        SELECT word, count(*) AS cnt
        FROM (
            SELECT unnest(regexp_split_to_array(text, '{TOKEN_SPLIT}')) AS word
            FROM documents
        )
        WHERE word <> ''
        GROUP BY word
    """,
    "mr_q2_inverted_index": f"""
        WITH word_doc AS (
            SELECT DISTINCT word, doc FROM (
                SELECT unnest(regexp_split_to_array(text, '{TOKEN_SPLIT}')) AS word,
                       CAST(doc_id AS VARCHAR) AS doc
                FROM documents
            )
            WHERE word <> ''
        )
        SELECT word,
               count(doc) AS n_docs,
               string_agg(doc, ',' ORDER BY doc) AS docs
        FROM word_doc
        GROUP BY word
    """,
    "mr_q3_sorted_concat": """
        WITH kv AS (
            SELECT 'a' AS key, source AS value FROM documents
            UNION ALL
            SELECT 'b', CAST(length(source) AS VARCHAR) FROM documents
            UNION ALL
            SELECT 'c', CAST(length(text) AS VARCHAR) FROM documents
            UNION ALL
            SELECT 'd', 'xyzzy' FROM documents
        )
        SELECT key, string_agg(value, ' ' ORDER BY value) AS value
        FROM kv
        GROUP BY key
    """,
}

QUERIES = {
    "mr_q1_wordcount": mr_q1_wordcount,
    "mr_q2_inverted_index": mr_q2_inverted_index,
    "mr_q3_sorted_concat": mr_q3_sorted_concat,
}

# The sink/scan roundtrip writes temp directories per call, so it rides
# the shadow tier (pytest parity) rather than spending a grading slot
# on what is operationally a format test (registry.py docstring).
SHADOW_QUERIES = {
    "mr_q4_sink_roundtrip": mr_q4_sink_roundtrip,
}

SHADOW_ORACLES = {
    "mr_q4_sink_roundtrip": f"""
        SELECT word AS key, CAST(count(*) AS VARCHAR) AS value
        FROM (
            SELECT unnest(regexp_split_to_array(text, '{TOKEN_SPLIT}')) AS word
            FROM documents
        )
        WHERE word <> ''
        GROUP BY word
    """,
}
