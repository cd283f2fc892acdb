"""Byte-pair-encoding tokenizer induction over the corpus word
histogram — the "train a tokenizer on the data you're about to train
on" step of an LLM data pipeline (Sennrich et al. 2016; the reference
has no text surface at all — this is a driver-contract LLM-data op).

The 100 TB shape is the whole point: BPE training NEVER iterates over
the corpus. The corpus is scanned ONCE into the (word, count)
histogram — a vocabulary-bounded frame (millions of rows at web scale,
kilobytes here) — and every merge iteration runs on that histogram
alone, exactly like the reference Sennrich implementation's
`get_stats`/`merge_vocab` loop over a dict. Encoding then applies the
learned merge table to the DISTINCT-word frame and broadcast-joins the
segmentation back to the token stream, so per-document work is one
dictionary lookup per token.

Greedy-leftmost merge semantics (the BPE standard) are implemented as a
sequential array fold: scan the symbol sequence, and an element merges
with the accumulator's last symbol iff (last == left, current == right).
That fold is exactly equivalent to the closed form the SQL oracle uses
(merge at every match when left ≠ right — overlaps are impossible; for
left == right, merge at odd streak offsets within each run), which is
what makes the trainer hash-checkable against DuckDB despite being
iterative: like the Lloyd-unrolled k-means oracles, a fixed merge count
unrolls into CTEs (plans/llmdata.py:_bpe_oracle).

Each learned merge is collected driver-side (one 3-string row per
iteration — the merge TABLE is the trainer's output artifact, exactly
what production writes to disk), and the histogram is re-folded and
localCheckpointed per iteration so plan depth stays O(1) per merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..artifacts import materialize
from .textops import tokens


def word_histogram(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, cnt) over the corpus — the ONE corpus-wide aggregate BPE
    training needs (map-side combinable). Empty words (whitespace-only
    documents tokenize to ['']) are excluded: they carry no symbols, and
    the oracle's position-explode rewrite would silently drop them from
    the vocabulary while the fold kept them — filter identically on
    both sides instead."""
    return (
        docs.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    )


def _chars(word):
    """Initial symbol sequence: one-character symbols (ASCII corpus;
    regexp keeps the construction identical to the oracle's
    regexp_extract_all(word, '.'))."""
    return F.regexp_extract_all(word, F.lit("."), 0)


def _adjacent_pairs(syms):
    """Array of (a, b) structs for each adjacent symbol position —
    slice-zip, no window, NULL-safe for 1-symbol words."""
    n1 = F.greatest(F.size(syms) - 1, F.lit(0))
    return F.arrays_zip(F.slice(syms, 1, n1).alias("a"),
                        F.slice(syms, 2, n1).alias("b"))


def merge_fold(syms, left: str, right: str):
    """Greedy-leftmost merge of the (left, right) pair in one symbol
    array — a sequential fold, so overlapping candidates resolve exactly
    as BPE specifies ('aaa' + (a,a) → [aa, a]); the merged symbol can
    never re-trigger as `left` within the pass because it is strictly
    longer than `left`."""
    merged = left + right
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1),
                     F.array(F.lit(merged)))
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_train(hist: DataFrame, n_merges: int):
    """Learn ``n_merges`` BPE merges from a (word, cnt) histogram.

    Returns ``(merges, vocab)``: merges is a list of
    (rank, left, right, merged, pair_count) tuples — the tokenizer
    artifact — and vocab is the histogram with a ``syms`` column holding
    each word's final segmentation under those merges.

    Ties in pair frequency break on (left, right) lexicographic order so
    training is deterministic on any engine or partitioning. Every
    iteration is one pair-count aggregate over the histogram + one
    row-local re-fold; the per-iteration best-pair collect is 3 strings.
    """
    if n_merges <= 0:
        raise ValueError("n_merges must be positive")
    vocab = materialize(
        hist.select("word", "cnt", _chars(F.col("word")).alias("syms")),
        "eager")
    merges: list[tuple] = []
    for rank in range(1, n_merges + 1):
        best = (
            vocab.select("cnt", F.explode(
                _adjacent_pairs(F.col("syms"))).alias("z"))
            .select(F.col("z.a").alias("a"), F.col("z.b").alias("b"), "cnt")
            .groupBy("a", "b").agg(F.sum("cnt").alias("c"))
            .orderBy(F.col("c").desc(), "a", "b")
            .limit(1)
            .collect()
        )
        if not best:
            break
        left, right, c = best[0]["a"], best[0]["b"], int(best[0]["c"])
        merges.append((rank, left, right, left + right, c))
        vocab = materialize(vocab.withColumn(
            "syms", merge_fold(F.col("syms"), left, right)), "eager")
    return merges, vocab


def bpe_segment_counts(docs: DataFrame, vocab: DataFrame,
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Per-document BPE token count under a trained vocab: explode the
    token stream, broadcast-join each word's segmentation length from
    the vocabulary-bounded ``vocab`` frame, partial-agg per document —
    the corpus is never re-folded, only dictionary-joined."""
    seg = vocab.select("word", F.size("syms").alias("n_sub"))
    tok = docs.select(id_col, F.explode(
        tokens(F.col(text_col))).alias("word"))
    return (
        tok.join(F.broadcast(seg), "word")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_tokens"),
             F.sum("n_sub").alias("n_bpe_tokens"))
        .select(id_col,
                F.col("n_tokens").cast("bigint").alias("n_tokens"),
                F.col("n_bpe_tokens").cast("bigint").alias("n_bpe_tokens"))
    )
