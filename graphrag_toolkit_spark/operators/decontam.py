"""Benchmark decontamination for training corpora (north-star extras,
alongside ``dedup.py``/``sampling.py``; no reference analog — the reference
stops at ingestion, but any corpus feeding a trained model needs this).

The standard public recipe (GPT-3 appendix C / PaLM §B: n-gram collision
against the eval set) re-expressed relationally:

1. shingle the (small) eval/benchmark set into word n-gram hashes,
2. shingle the training corpus the same way,
3. flag every training document sharing at least one n-gram with any eval
   document, with overlap counts for thresholded filtering.

100 TB shape: eval benchmarks are MBs, the corpus is TBs — the eval shingle
set is ``distinct``-ed and **broadcast**, so the corpus side is one narrow
shingle expression + a broadcast semi-join + one groupBy(doc) count. No
corpus-side self-join, no shuffle of the raw text. At extreme eval-set sizes
the same plan degrades gracefully: drop the ``broadcast`` hint and AQE picks
a shuffle join; or substitute a Bloom filter built from the eval hashes
(sketch leg, noted in SCALE.md) — the operator contract stays identical.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graphrag_toolkit_spark.functions.text import word_grams


def _gram_hashes(toks: Column, n: int) -> Column:
    """md5 hashes of word n-grams (space-joined) — empty below n tokens.
    md5 keeps the shingle arithmetic engine-portable (same hashes in the
    DuckDB oracle). Carried as the 16-byte UNHEXed digest, not the 32-char
    hex string: hex↔bytes is a bijection, so every equality join, distinct
    and count downstream is unchanged (gram values never reach any result
    — only counts do), while the gram column's shuffle/checkpoint bytes
    halve (guide §2.3 "narrower types")."""
    return F.transform(word_grams(toks, n), lambda g: F.unhex(F.md5(g)))


def shingle_hashes(
    df: DataFrame, text_col: str, id_col: str, n: int = 8
) -> DataFrame:
    """(id, gram) — distinct word n-gram hashes per document.

    Requires ONE input row per id (true of every caller: document tables
    keyed by their id). Dedup therefore never crosses rows and runs IN-ROW
    (``array_distinct`` before the explode) — the former corpus-wide
    ``.distinct()`` was a full shuffle of the exploded gram table just to
    dedup within each document."""
    toks = F.split(F.lower(F.col(text_col)), r"\s+")
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(_gram_hashes(toks, n))).alias("gram"),
    )


def contamination(
    corpus: DataFrame,
    eval_set: DataFrame,
    text_col: str = "text",
    id_col: str = "id",
    n: int = 8,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Per-corpus-document contamination report against ``eval_set``:
    (id, n_grams — distinct shingles in the doc, n_hit — shingles also in
    the eval set, contamination — n_hit/n_grams). Only contaminated docs
    (n_hit > 0) are returned: at corpus scale the clean rows are the bulk
    and the report must stay small.

    ``broadcast_eval=True`` is the benchmark-decontamination shape (the
    eval set is KBs–MBs of shingles). For corpus-vs-corpus checks —
    split-leakage audits, where the "eval" side is a full training split —
    pass ``broadcast_eval=False`` to shuffle-join on the gram hash instead
    of shipping the big side to every executor."""
    from graphrag_toolkit_spark.functions.skew import widen_partitions

    # widen before the explode so the shingle fan-out parallelizes even off
    # a single input file; the pre-explode shuffle moves only compact rows
    corpus_grams = shingle_hashes(widen_partitions(corpus), text_col, id_col, n)
    eval_grams = (
        shingle_hashes(widen_partitions(eval_set), text_col, id_col, n)
        .select("gram")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    if broadcast_eval:
        eval_grams = F.broadcast(eval_grams)
    # ONE pass over the corpus shingles: broadcast mark-join, then a single
    # per-doc aggregate counting total and hit shingles together (the naive
    # totals ⋈ hits formulation re-runs the whole explode+distinct twice)
    marked = corpus_grams.join(eval_grams, "gram", "left")
    return (
        marked.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("_hit").alias("n_hit"),
        )
        .filter(F.col("n_hit") > 0)
        .select(
            "id",
            "n_grams",
            "n_hit",
            (F.col("n_hit").cast("double") / F.col("n_grams")).alias("contamination"),
        )
    )


def embedding_decontaminate(
    test: DataFrame,
    train: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    n_planes: int = 6,
    dim: int = 64,
) -> DataFrame:
    """SEMANTIC decontamination — the embedding-space complement of the
    n-gram `contamination` pass (GPT-3 appendix C catches copies; this
    catches paraphrases and translations that share no 13-gram): flag
    every test item whose embedding is cosine-≥-threshold to some train
    item. Candidates come from the same one-bucket sign-LSH as
    `dedup.embedding_near_dup_pairs_lsh`; the verify is the exact
    quantized cosine.

    Scale shape: the join is test×train THROUGH the bucket key — the
    train corpus never self-joins, and only co-bucketed cross-split pairs
    form (work ∝ Σ_b |test_b|·|train_b|, never |test|·|train|). Both
    sides project to (id, quantized vec, norm, bucket) once. Recall < 1
    is the LSH trade, measurable exactly as `embedding_neardup_recall`
    does for the dedup leg.

    Returns (test_id, train_id, cos) for every flagged pair."""
    from graphrag_toolkit_spark.operators import ann
    from graphrag_toolkit_spark.operators.dedup import (
        _cosine_at_least,
        _quantized,
        _side,
    )

    planes = ann.hyperplanes(n_planes, dim)
    t = _side(_quantized(test, id_col, vec_col, planes=planes), "a", "bucket")
    r = _side(_quantized(train, id_col, vec_col, planes=planes), "b", "bucket")
    return _cosine_at_least(t.join(r, "bucket"), threshold).select(
        F.col("id_a").alias("test_id"), F.col("id_b").alias("train_id"), "cos"
    )
