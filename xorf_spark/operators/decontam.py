"""Benchmark decontamination: drop (or flag) training documents that share
any n-word shingle with an evaluation/benchmark set.

This is the canonical LLM-pipeline use of the reference's filter family
(the "fast filter in front of the slower exact check" pattern,
reference src/lib.rs:2-4) at corpus scale:

1. derive 64-bit shingle keys per training doc (pure Catalyst — split →
   explode(sequence) → xxhash64 over the words, no python in the row
   path);
2. the eval set's distinct shingle keys build a binary-fuse filter via the
   scale-routed inline build (broadcast ≤64MB / addFile-mmap / cogrouped —
   ``dataflow.filter_semi_join``), which eliminates ~(1-FPP) of training
   shingles BEFORE any shuffle;
3. the surviving candidates hit the exact semi-join backstop, so the
   contaminated-id set is EXACT over the 64-bit keys (a cross-doc xxhash64
   shingle collision, p ≈ n_shingles²/2⁶⁴, is the only approximation — the
   same convention as every *_zero_fn oracle query).

Eval sets are tiny next to training corpora (thousands vs billions of
docs), so the filter build is cheap and the probe-side saving is the whole
game at 100 TB: contaminated docs are rare, and ~99.6%+ of shingle probes
die in the JVM-side filter without shuffling a byte.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..dataflow import filter_semi_join


def shingle_keys(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", n: int = 8) -> DataFrame:
    """``(id, key)`` rows: xxhash64 of every n-word shingle of ``text_col``
    (whitespace tokens, the corpus-wide convention). Docs shorter than n
    words emit no rows."""
    # Split once into a projected column, then hash each shingle as n
    # scalar word accesses: xxhash64(w[i], …, w[i+n-1]). The earlier
    # array_join(slice(...)) form allocated an n-element array AND a
    # joined string per position — measured 3× slower at sf0.1
    # (BENCH/ROUND4_NOTES.md). Key values are internal (train and eval
    # shingles hash identically); word-boundary identity is unchanged
    # (xxhash64 folds each word separately, so "a b"+"c" vs "a"+"b c"
    # collide no more than the joined form did). explode_shingles keeps
    # the per-shingle work in compiled code (no transform lambda).
    from ..functions import explode_shingles

    words = df.select(F.col(id_col),
                      F.expr(f"split({text_col}, ' ')").alias("__w"))
    return explode_shingles(words, "__w", n, "key").drop("__w")


def contaminated_ids(train: DataFrame, eval_df: DataFrame,
                     text_col: str = "text", id_col: str = "doc_id",
                     n: int = 8, kind: str = "bfuse16") -> DataFrame:
    """Distinct ids of training docs sharing ≥1 n-shingle with the eval
    set (exact; filter pre-pass + exact backstop)."""
    tsh = shingle_keys(train, text_col, id_col, n)
    esh = shingle_keys(eval_df, text_col, id_col, n) \
        .select("key").distinct()
    return (filter_semi_join(tsh, esh, "key", "key", kind=kind)
            .select(id_col).distinct())


def decontaminate(train: DataFrame, eval_df: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  n: int = 8, kind: str = "bfuse16",
                  mode: str = "drop") -> DataFrame:
    """``mode="drop"``: training rows with contaminated docs removed
    (anti-join on the exact contaminated-id set). ``mode="flag"``: all
    training rows plus a boolean ``contaminated`` column."""
    if mode not in ("drop", "flag"):
        raise ValueError("mode must be 'drop' or 'flag'")
    bad = contaminated_ids(train, eval_df, text_col, id_col, n, kind)
    if mode == "drop":
        return train.join(bad, id_col, "left_anti")
    marked = bad.withColumn("contaminated", F.lit(True))
    return (train.join(marked, id_col, "left")
            .fillna(False, subset=["contaminated"]))


def contamination_report(train: DataFrame, eval_df: DataFrame,
                         text_col: str = "text", id_col: str = "doc_id",
                         n: int = 8, kind: str = "bfuse16") -> DataFrame:
    """Diagnostic twin of :func:`decontaminate`: one row per contaminated
    (train doc, eval doc) pair with the number of shared n-shingles —
    the evidence trail an eval-set audit needs, not just the drop list.

    Scale shape: the filter pre-pass (``filter_semi_join``) kills
    ~(1-FPP) of training shingles before any shuffle — only surviving
    candidates join against the eval posting table, and eval sets are
    tiny, so the pair join's build side broadcasts. Output columns:
    ``train_<id_col>``, ``eval_<id_col>``, ``n_shared``."""
    # n_shared counts DISTINCT shared shingles, not occurrences of a
    # repeated 8-gram — the (doc, key) distinct runs AFTER the filter
    # pre-pass, so the corpus-scale shuffle only sees surviving
    # candidates, never the full training shingle stream
    tsh = shingle_keys(train, text_col, id_col, n)
    esh = shingle_keys(eval_df, text_col, id_col, n).distinct()
    cand = filter_semi_join(tsh, esh.select("key").distinct(),
                            "key", "key", kind=kind).distinct()
    pairs = (cand.join(F.broadcast(esh.withColumnRenamed(
                id_col, f"eval_{id_col}")), "key")
             .groupBy(F.col(id_col).alias(f"train_{id_col}"),
                      f"eval_{id_col}")
             .agg(F.count(F.lit(1)).alias("n_shared")))
    return pairs
