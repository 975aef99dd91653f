"""BPE merge training ([EXT] — the vocabulary-induction step of an LLM
pipeline): learn the top-N byte-pair merges from a corpus, distributed.

Algorithm (Sennrich et al. 2016, word-internal BPE): represent each
WORD TYPE as its character-symbol sequence with the word's corpus
frequency; repeatedly (1) count adjacent symbol pairs weighted by word
frequency, (2) take the most frequent pair (deterministic lexicographic
tiebreak), (3) merge every non-overlapping occurrence left-to-right.

Why this decomposition scales: the iteration state is the WORD-TYPE
table (vocabulary-sized — millions of rows at 100 TB corpus scale, not
corpus-sized), built once by the same keyed wordcount aggregation as
mr_q1. Each round is one pair-count aggregation (map-side partial agg,
shuffle ∝ distinct pairs) + a 1-row driver argmax (the bounded-collect
kind) + an Arrow-batched merge application. Lineage is truncated every
few rounds with localCheckpoint, the same discipline as
operators/components.py's iterative min-label loop.

The merge application is genuinely sequential per word (leftmost-first,
non-overlapping) — a per-row Python fold over a vocabulary-sized table
via mapInPandas, not a corpus scan; the corpus itself is touched once.

Correctness gate: tests/test_bpe.py replays the identical algorithm as
a pure sequential Python fold (the run_mapreduce/testing.py pattern)
and asserts the learned merge tables are equal, plus golden merges on a
hand-computable corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from distributed_mapreduce_spark import caching
from distributed_mapreduce_spark.functions.text import tokens

# Truncate iteration lineage every K merge rounds: each round stacks a
# mapInPandas + aggregation on the plan; unchecked, analysis cost grows
# superlinearly with merges (same rationale as components.MAX_ITERS).
CHECKPOINT_EVERY = 8

END = "</w>"  # end-of-word marker (standard BPE; lets merges learn suffixes)


def word_types(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(symbols array<string>, freq bigint) — one row per word TYPE:
    characters + end-of-word marker, weighted by corpus frequency.
    This is the one corpus-wide pass; everything after iterates on the
    vocabulary."""
    return (
        docs.select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
        .select(
            F.concat(F.split("w", ""), F.array(F.lit(END))).alias("symbols"),
            "freq",
        )
    )


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """(left, right, pair_count): adjacent symbol pairs of every word
    type, weighted by the word's corpus frequency."""
    return (
        vocab.select(
            "freq",
            F.explode(
                F.arrays_zip(
                    F.slice("symbols", 1, F.size("symbols") - 1).alias("l"),
                    F.slice("symbols", 2, F.size("symbols") - 1).alias("r"),
                )
            ).alias("p"),
        )
        .groupBy(F.col("p.l").alias("left"), F.col("p.r").alias("right"))
        .agg(F.sum("freq").alias("pair_count"))
    )


def _checkpoint(vocab: DataFrame, ids: frozenset) -> tuple[DataFrame, frozenset]:
    """Checkpoint the next vocab generation (eager), then free the
    generation it supersedes."""
    nxt, nxt_ids = caching.local_checkpoint(vocab)
    caching.unpersist_rdd_ids(vocab.sparkSession, ids)
    return nxt, nxt_ids


def _merge_symbols(symbols: list[str], left: str, right: str) -> list[str]:
    """Leftmost-first non-overlapping merge of (left, right) → left+right."""
    out: list[str] = []
    i = 0
    n = len(symbols)
    while i < n:
        if i + 1 < n and symbols[i] == left and symbols[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(symbols[i])
            i += 1
    return out


def bpe_train(docs: DataFrame, n_merges: int, text_col: str = "text") -> list[dict]:
    """Learn `n_merges` BPE merges; returns the merge table as a list
    of {rank, left, right, pair_count} dicts (driver-sized: one row
    per merge — the artifact a tokenizer ships)."""
    import pandas as pd

    with caching.cache_scope(docs.sparkSession):
        vocab, ids = caching.local_checkpoint(word_types(docs, text_col))
        merges: list[dict] = []
        for rank in range(n_merges):
            pairs = _pair_counts(vocab)
            # deterministic argmax: highest count, then lexicographic pair —
            # a bounded 1-row collect (the driver never sees the vocabulary)
            top = pairs.orderBy(
                F.desc("pair_count"), F.asc("left"), F.asc("right")
            ).first()
            if top is None or top.pair_count is None:
                break
            left, right = top.left, top.right
            merges.append(
                {
                    "rank": rank,
                    "left": left,
                    "right": right,
                    "pair_count": int(top.pair_count),
                }
            )

            def apply(batches, left=left, right=right):
                for pdf in batches:
                    yield pd.DataFrame(
                        {
                            "symbols": [
                                _merge_symbols(list(s), left, right)
                                for s in pdf["symbols"]
                            ],
                            "freq": pdf["freq"],
                        }
                    )

            vocab = vocab.mapInPandas(apply, schema="symbols array<string>, freq bigint")
            if (rank + 1) % CHECKPOINT_EVERY == 0:
                vocab, ids = _checkpoint(vocab, ids)
    return merges


def _select_disjoint(
    candidates: list[tuple[str, str, int]], m: int
) -> list[tuple[str, str, int]]:
    """Greedy batch selection over ranked (left, right, count)
    candidates: take up to `m` pairs whose left, right AND merge output
    (left+right) are all pairwise non-interacting. `used` holds every
    chosen pair's three strings; a candidate is skipped if any of ITS
    three strings is already reserved — so no chosen pair consumes a
    token another chosen merge creates ((a,b) then (ab,c)) and no two
    chosen merges create the same token (('a','bc') vs ('ab','c'),
    both → 'abc'); see bpe_train_batched's collision argument."""
    chosen: list[tuple[str, str, int]] = []
    used: set[str] = set()
    for left, right, count in candidates:
        if left in used or right in used or (left + right) in used:
            continue
        chosen.append((left, right, count))
        used.update((left, right, left + right))
        if len(chosen) == m:
            break
    return chosen


def bpe_train_batched(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    batch_size: int = 8,
) -> list[dict]:
    """Batched BPE training (VERDICT r5 #6): apply up to `batch_size`
    SYMBOL-DISJOINT merges per round instead of one, so a real 30k-merge
    vocabulary costs ~30k/batch_size Spark jobs rather than 30k
    sequential ones — the standard scale practice (SentencePiece's BPE
    trainer batches the same way).

    Why symbol-disjointness keeps the within-round counts exact: a
    merge (a,b)→ab never makes two previously non-adjacent symbols
    adjacent (it replaces two adjacent symbols with one), so it can
    only change counts of pairs that SHARE a symbol with it. Pairs
    chosen from one count snapshot whose symbols are pairwise disjoint
    therefore all still have their snapshot counts when applied.
    Disjointness is checked on the pairs' left/right symbols AND their
    merge OUTPUTS (left+right): without the output guard, two chosen
    pairs can interact via string collision — e.g. a chosen pair
    consuming a token that another chosen merge creates ((a,b) then
    (ab,c)), or ('a','bc') and ('ab','c') both producing 'abc' — and
    then within-round applications no longer commute (ADVICE r6).
    With it, no chosen pair reads or writes any symbol another chosen
    pair reads or writes, so applications commute and counts stay
    exact. Selection is greedy in the sequential order (-count, left,
    right), skipping pairs that collide with an already-chosen symbol
    or output.

    Approximation contract: batch_size=1 is EXACTLY bpe_train (tested
    ≡); for batch_size>1 the learned table can diverge from sequential
    BPE only where sequential's next-best pair would have involved a
    just-created symbol — rank order within a batch still follows the
    sequential tiebreak, and every recorded pair_count is the true
    corpus count at its round's start.

    Scale model: per round, one pair-count aggregation (map-side
    partial agg, shuffle ∝ distinct pairs) + one bounded collect of the
    top ~4×batch_size candidate rows (batch-sized, never
    vocabulary-sized) + one Arrow-batched merge application over the
    word-TYPE table. Rounds ≈ n_merges / batch_size."""
    import pandas as pd

    with caching.cache_scope(docs.sparkSession):
        vocab, ids = caching.local_checkpoint(word_types(docs, text_col))
        merges: list[dict] = []
        rounds = 0
        while len(merges) < n_merges:
            pairs = _pair_counts(vocab)
            m = min(batch_size, n_merges - len(merges))
            # bounded collect: enough candidates that the disjointness
            # filter usually fills the batch; worst case the round applies
            # fewer merges (never wrong, just an extra round).
            top = (
                pairs.orderBy(F.desc("pair_count"), F.asc("left"), F.asc("right"))
                .limit(max(4 * m, 16))
                .collect()
            )
            if not top or top[0].pair_count is None:
                break
            chosen = _select_disjoint(
                [(r.left, r.right, int(r.pair_count)) for r in top], m
            )
            for left, right, c in chosen:
                merges.append(
                    {
                        "rank": len(merges),
                        "left": left,
                        "right": right,
                        "pair_count": c,
                    }
                )

            def apply(batches, chosen=tuple(chosen)):
                for pdf in batches:
                    out = []
                    for s in pdf["symbols"]:
                        syms = list(s)
                        for left, right, _ in chosen:
                            syms = _merge_symbols(syms, left, right)
                        out.append(syms)
                    yield pd.DataFrame({"symbols": out, "freq": pdf["freq"]})

            vocab = vocab.mapInPandas(apply, schema="symbols array<string>, freq bigint")
            rounds += 1
            if rounds % CHECKPOINT_EVERY == 0:
                vocab, ids = _checkpoint(vocab, ids)
    return merges


def bpe_train_sequential(word_freqs: dict[str, int], n_merges: int) -> list[dict]:
    """Pure-Python sequential oracle: the identical algorithm over a
    {word: freq} dict (tests compare bpe_train against this — the
    testing.py mrsequential pattern)."""
    from collections import Counter

    vocab = {w: [*w, END] for w in word_freqs}
    merges: list[dict] = []
    for rank in range(n_merges):
        counts: Counter = Counter()
        for w, syms in vocab.items():
            f = word_freqs[w]
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] += f
        if not counts:
            break
        (left, right), c = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append({"rank": rank, "left": left, "right": right, "pair_count": c})
        vocab = {w: _merge_symbols(s, left, right) for w, s in vocab.items()}
    return merges


def bpe_encode(
    docs: DataFrame, merges: list[dict], text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Tokenize with a learned merge table: per document, split words
    to character symbols and apply every merge in rank order
    (leftmost-first, the training rule) — returns
    (id, n_words, n_symbols) where n_symbols is the document's BPE
    token count, the unit an LLM pipeline bills by once the vocab is
    fixed.

    Scale shape: the merge table is a driver-side list (one row per
    merge — broadcast by closure) and encoding is a pure per-row map
    over an Arrow batch: corpus-scan speed, no shuffle beyond the
    final per-doc aggregation (which the select avoids entirely —
    counts are computed in the same pass)."""
    import pandas as pd

    ordered = [(m["left"], m["right"]) for m in sorted(merges, key=lambda m: m["rank"])]

    def encode_word(w: str) -> int:
        syms = [*w, END]
        for left, right in ordered:
            if len(syms) < 2:
                break
            syms = _merge_symbols(syms, left, right)
        return len(syms)

    def run(batches):
        for pdf in batches:
            n_words = []
            n_symbols = []
            for toks_ in pdf["ts"]:
                words = list(toks_)
                n_words.append(len(words))
                n_symbols.append(sum(encode_word(w) for w in words))
            yield pd.DataFrame(
                {"id": pdf["id"], "n_words": n_words, "n_symbols": n_symbols}
            )

    prepped = docs.select(
        F.col(id_col).alias("id"), tokens(text_col).alias("ts")
    )
    return prepped.mapInPandas(run, schema="id bigint, n_words bigint, n_symbols bigint")
