"""Exact-substring (duplicated n-gram span) deduplication — the Lee et al.
"Deduplicating Training Data Makes Language Models Better" (2021) exact-dedup
leg, re-expressed relationally (north-star extras alongside ``dedup.py``; no
reference analog — the reference stops at ingestion).

The published recipe builds a corpus-wide suffix array and removes every
substring of ≥ L tokens that appears more than once. A suffix array is a
single global sorted structure — the wrong shape for a 1000-executor
cluster. The distributed equivalent used here: fixed-length word n-grams as
the duplication witness (a duplicated span of length ≥ n contains a
duplicated n-gram, and a duplicated n-gram IS a duplicated n-token span), so

1. explode each document into its n-gram *starts* ``(id, pos, gram)``,
2. one groupBy(gram) finds grams occurring in ≥ 2 documents — and elects the
   global first occurrence (min (id, pos)) as the copy to keep,
3. a semi-join marks each document's duplicated starts; the covered-token
   arithmetic is a running-max interval union inside a per-document window —
   no self-join, no per-token join.

100 TB shape: the only wide operations are the groupBy(gram) (partial-agg
combines; gram hashes distribute uniformly, boilerplate mega-grams are
bounded by the count-distinct semantics) and the start⋈dup-set equi-join on
gram. Window steps partition by document id — co-partitioned with the
explode, one shuffle each. The raw text shuffles at most once (scrub
reconstruction); coverage stats never shuffle text at all.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from graphrag_toolkit_spark.functions.skew import widen_partitions
from graphrag_toolkit_spark.functions.text import word_grams


def _tokens(text_col: str) -> Column:
    return F.split(F.lower(F.col(text_col)), r"\s+")


def ngram_starts(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """(id, pos, gram): md5 of each word n-gram by 0-based start position.
    md5 keeps the gram key engine-portable (identical literals in the DuckDB
    oracle) and fixed-width for the shuffle."""
    grams = F.transform(word_grams(_tokens(text_col), n), F.md5)
    return widen_partitions(df).select(
        F.col(id_col).alias("id"), F.posexplode(grams).alias("pos", "gram")
    )


def hot_grams(
    df: DataFrame, text_col: str, id_col: str, n: int = 3, k: int = 20
) -> DataFrame:
    """Boilerplate report: the ``k`` most document-frequent word n-grams
    (gram TEXT, not hash — this is a human-facing report), with total and
    document frequencies. Makes the cutoffs elsewhere observable: the grams
    dropped by n-gram-Jaccard's doc-freq cutoff or flagged by span dedup
    are exactly the head of this list — at 100 TB you read this before
    choosing ``max_doc_freq``/span ``n``, instead of guessing.

    Shape: one groupBy(gram) with partial aggregation, then a global top-k
    (orderBy.limit → per-partition partial top-k merge, no full sort)."""
    grams = word_grams(_tokens(text_col), n)
    return (
        widen_partitions(df)
        .select(F.col(id_col).alias("id"), F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.count_distinct("id").alias("df"),
        )
        .orderBy(F.desc("df"), F.desc("tf"), F.asc("gram"))
        .limit(k)
    )


def duplicated_grams(starts: DataFrame) -> DataFrame:
    """Grams seen in ≥ 2 documents, with the global first occurrence
    (lexicographic min (id, pos)) elected as the canonical copy:
    (gram, first_id, first_pos)."""
    return (
        starts.groupBy("gram")
        .agg(
            F.count_distinct("id").alias("_docs"),
            F.min(F.struct("id", "pos")).alias("_first"),
        )
        .filter(F.col("_docs") >= 2)
        .select(
            "gram",
            F.col("_first.id").alias("first_id"),
            F.col("_first.pos").alias("first_pos"),
        )
    )


def _interval_union_len(starts: DataFrame, n: int) -> DataFrame:
    """Union length of the per-document interval set {[pos, pos+n-1]}:
    (id, covered). Running-max-of-ends window — each interval contributes
    its length minus the overlap with everything already covered to its
    left. One window over (id, pos); no self-join."""
    w = Window.partitionBy("id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, -1
    )
    prev_end = F.max(F.col("pos")).over(w) + (n - 1)
    contrib = (F.col("pos") + (n - 1)) - F.greatest(
        F.col("pos") - 1, F.coalesce(prev_end, F.lit(-1))
    )
    return (
        starts.withColumn("_c", contrib)
        .groupBy("id")
        .agg(F.sum("_c").alias("covered"))
    )


def duplicated_span_coverage(
    df: DataFrame, text_col: str, id_col: str, n: int = 6
) -> DataFrame:
    """Per-document duplication report: (id, n_tokens, dup_starts — n-gram
    positions duplicated somewhere in the corpus, covered_tokens — union
    length of those spans, dup_fraction). Every document appears (clean docs
    with zeros) — this is the measurement half of exact-substring dedup, the
    quality signal corpora are filtered on."""
    starts = ngram_starts(df, text_col, id_col, n)
    dup = duplicated_grams(starts).select("gram")
    # marked feeds BOTH per-doc aggregates (dup_starts count + the interval
    # union window), which materialize concurrently in the final join —
    # without a break each one re-runs the full n-gram explode + semi-join
    # (guide §3.3). Duplicated-position rows are duplication-rate-sized, so
    # the eager checkpoint stores a corpus fraction, never the gram table.
    marked = starts.join(dup, "gram", "left_semi").localCheckpoint(eager=True)
    per_doc = (
        marked.groupBy("id")
        .agg(F.count(F.lit(1)).alias("dup_starts"))
        .join(_interval_union_len(marked, n), "id")
    )
    return (
        df.select(
            F.col(id_col).alias("id"),
            F.size(_tokens(text_col)).alias("n_tokens"),
        )
        .join(per_doc, "id", "left")
        .select(
            "id",
            "n_tokens",
            F.coalesce("dup_starts", F.lit(0)).alias("dup_starts"),
            F.coalesce("covered", F.lit(0)).alias("covered_tokens"),
            (
                F.coalesce("covered", F.lit(0)).cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("dup_fraction"),
        )
    )


def scrub_duplicated_spans(
    df: DataFrame, text_col: str, id_col: str, n: int = 6
) -> DataFrame:
    """The removal half: (id, text_scrubbed) with every token covered by a
    *non-first* occurrence of a corpus-duplicated n-gram dropped; the global
    first occurrence of each gram survives, so exactly one copy of every
    duplicated span remains corpus-wide (Lee et al. §4 semantics at
    span-granularity n).

    Token-level coverage without a token⋈interval theta-join: token rows and
    removal-start rows merge into one per-document stream ordered by
    position (starts sort before the token at the same position); a token is
    dropped iff the running max of interval ends at its position reaches it.
    Scrubbed text = space-join of surviving tokens in order; fully-removed
    documents yield ''.
    """
    starts = ngram_starts(df, text_col, id_col, n)
    dup = duplicated_grams(starts)
    removals = starts.join(dup, "gram").filter(
        ~((F.col("id") == F.col("first_id")) & (F.col("pos") == F.col("first_pos")))
    )
    toks = widen_partitions(df).select(
        F.col(id_col).alias("id"),
        F.posexplode(_tokens(text_col)).alias("pos", "tok"),
    )
    merged = toks.select(
        "id", "pos", "tok", F.lit(None).cast("int").alias("end"), F.lit(1).alias("kind")
    ).unionByName(
        removals.select(
            "id", "pos", F.lit(None).cast("string").alias("tok"),
            (F.col("pos") + (n - 1)).alias("end"), F.lit(0).alias("kind"),
        )
    )
    w = Window.partitionBy("id").orderBy("pos", "kind").rowsBetween(
        Window.unboundedPreceding, 0
    )
    kept = (
        merged.withColumn("_reach", F.max("end").over(w))
        .filter(
            (F.col("kind") == 1)
            & (F.coalesce(F.col("_reach"), F.lit(-1)) < F.col("pos"))
        )
        .groupBy("id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("text_scrubbed")
        )
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(kept, "id", "left")
        .select("id", F.coalesce("text_scrubbed", F.lit("")).alias("text_scrubbed"))
    )
