"""Result-processor chain (SURVEY.md §2.4 A5-A6, §2.7 T2-T11).

The reference applies an ordered list of processors to the nested
SearchResultCollection (``traversal_based_base_retriever.py:24-46``). Here
every processor is a lazy ``DataFrame -> DataFrame`` over the FLAT statement
rows (see ``rollup.py`` for the flat-then-nest rationale), so the whole chain
fuses into one Catalyst plan — no materialization between steps. A
processor that reads its input twice (a keep-set or scalar aggregate joined
back) re-reads it inside that plan, which is cheap over a materialized
input, so materialization is the caller's: ``query_engine`` checkpoints each
retrieval chain's deduped statement pool once (seed-bounded, see its module
docstring), and every processor after that reads the checkpoint.

Flat row contract: columns at least
``source_id, topic_id, topic, chunk_id, statement_id, value, details, facts,
score`` (what ``rollup.scored_statement_context`` produces).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

Processor = Callable[[DataFrame], DataFrame]


def apply_chain(flat: DataFrame, processors: list[Processor]) -> DataFrame:
    out = flat
    for p in processors:
        out = p(out)
    return out


def dedup_results(flat: DataFrame) -> DataFrame:
    """A5: merge duplicate statements surfaced by multiple retrievers — sum
    their scores, keep a DETERMINISTIC survivor for context columns.
    Reference: ``retrieval/processors/dedup_results.py:45-110``.

    ``F.first`` is shuffle-order-dependent, so if merged duplicates ever
    differ in a non-key column the survivor would vary between runs; instead
    take ``min(struct(col))`` per column — the smallest non-null value, a
    total order, matching the deterministic-survivor discipline used in
    ``indexing.py`` (stmt_nodes)."""
    others = [
        c for c in flat.columns
        if c not in ("source_id", "topic_id", "statement_id", "score")
    ]
    # min() skips nulls and orders arrays/strings/numerics lexicographically,
    # so the survivor is run-independent.
    return flat.groupBy("source_id", "topic_id", "statement_id").agg(
        F.sum("score").alias("score"),
        *[F.min(c).alias(c) for c in others],
    )


def rescore_results(flat: DataFrame) -> DataFrame:
    """A6: append ``result_score`` = mean over the source's topics of the max
    statement score. Reference: ``retrieval/processors/rescore_results.py:39-80``."""
    per_topic = Window.partitionBy("source_id", "topic_id")
    with_max = flat.withColumn("_topic_max", F.max("score").over(per_topic))
    # mean over DISTINCT topics: average the per-topic max once per topic
    topic_means = (
        with_max.select("source_id", "topic_id", "_topic_max")
        .distinct()
        .groupBy("source_id")
        .agg(F.avg("_topic_max").alias("result_score"))
    )
    return with_max.drop("_topic_max").join(topic_means, "source_id")


def truncate_statements(max_per_topic: int = 10) -> Processor:
    """T2: keep top-N statements per topic (score desc, id asc).
    Reference: ``processors/truncate_statements.py:41-75``."""

    def _p(flat: DataFrame) -> DataFrame:
        w = Window.partitionBy("source_id", "topic_id").orderBy(
            F.desc("score"), F.asc("statement_id")
        )
        return flat.withColumn("_rn", F.row_number().over(w)).filter(
            F.col("_rn") <= max_per_topic
        ).drop("_rn")

    return _p


def truncate_results(max_results: int = 5) -> Processor:
    """T3: keep the top-N sources by summed statement score.
    Reference: ``processors/truncate_results.py``."""

    def _p(flat: DataFrame) -> DataFrame:
        keep = (
            flat.groupBy("source_id")
            .agg(F.sum("score").alias("_s"))
            .orderBy(F.desc("_s"), F.asc("source_id"))
            .limit(max_results)
            .select("source_id")
        )
        return flat.join(F.broadcast(keep), "source_id")

    return _p


def truncate_by_tokens(max_tokens: int, text_col: str = "value") -> Processor:
    """T4: global-rank token budget — statements ranked by score, kept while
    the running token sum fits. Token count = whitespace tokens (the
    reference counts model-tokenizer tokens; the budget semantics — running
    sum over rank — are what's reproduced). Reference:
    ``processors/truncate_by_tokens.py``.

    The running sum rides the two-phase distributed cumsum (ranks.py,
    bucketed on −score): on the result sets the chain normally feeds the
    bucket machinery is noise, but it makes the operator corpus-safe —
    "token-budget the whole corpus by quality score" is a real selection
    policy, and no single-partition window appears at any input size."""

    def _p(flat: DataFrame) -> DataFrame:
        from graphrag_toolkit_spark.operators import ranks

        toks = F.size(F.split(F.col(text_col), r"\s+"))
        # ranks.py's bucket contract is non-null keys, but this generic
        # processor accepts arbitrary frames: a NULL score yields a NULL
        # bucket and the broadcast equi-join would silently DROP the row.
        # Pin NULL scores into a dedicated trailing bucket — F.desc() is
        # NULLS LAST, so that is exactly where the old global window
        # ordered them (after every real score, tiebroken by id).
        bucketed = ranks.with_range_bucket(flat, -F.col("score"))
        bucketed = bucketed.withColumn(
            ranks.BUCKET_COL,
            F.coalesce(F.col(ranks.BUCKET_COL), F.lit(ranks.DEFAULT_BUCKETS)),
        )
        cum = ranks.two_phase_cumsum(
            bucketed,
            [F.desc("score"), F.asc("statement_id")],
            toks,
            out_col="_cum",
        )
        return cum.filter(F.col("_cum") <= max_tokens).drop("_cum")

    return _p


def prune_statements(factor: float = 0.05) -> Processor:
    """T5: drop statements scoring below ``factor × global max``.
    Reference: ``processors/prune_statements.py:16-46``."""

    def _p(flat: DataFrame) -> DataFrame:
        # scalar-aggregate broadcast instead of max() OVER () — the empty
        # window spec single-partitions the whole frame; the one-row cross
        # join costs an extra (fully parallel) pass and stays bounded at
        # any input size.
        mx = flat.agg(F.max("score").alias("_max"))
        return (
            flat.crossJoin(F.broadcast(mx))
            .filter(F.col("score") >= factor * F.col("_max"))
            .drop("_max")
        )

    return _p


def union_weighted(branches: list[tuple[DataFrame, float]]) -> DataFrame:
    """T8: composite retriever union — per-branch weight scales scores before
    the merge (the reference scales ``max_search_results`` per weight;
    score-scaling + shared dedup achieves the same blend in one plan).
    Reference: ``composite_traversal_based_retriever.py:162-205``."""
    out = None
    for df, weight in branches:
        scaled = df.withColumn("score", F.col("score") * F.lit(float(weight)))
        out = scaled if out is None else out.unionByName(scaled)
    return out


def ordered_dedup(df: DataFrame, key: str, order: str) -> DataFrame:
    """T11: keep first occurrence by insertion order (byokg context lists).
    Reference: ``byokg_query_engine.py:101-116``."""
    w = Window.partitionBy(key).orderBy(F.asc(order))
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def rrf_fuse(
    legs: list[DataFrame],
    id_col: str = "id",
    score_col: str = "score",
    k: int = 60,
    quantize: int = 9,
) -> DataFrame:
    """Reciprocal-rank fusion of retriever legs (the hybrid-search merge:
    keyword BM25 + vector + any other ranked leg): per leg, rank under the
    total order (score desc, id asc); fused score = Σ 1/(k + rank).

    Contributions are rounded to the decimal grid before the per-id sum, so
    the fused score is order- and engine-exact. Ranking is inherently
    GLOBAL — fuse after each leg's bounded top-N (TakeOrderedAndProject),
    exactly as the reference's processor chain fuses already-truncated
    result sets; never hand this a full corpus leg.
    """
    parts = []
    for leg in legs:
        w = Window.orderBy(F.desc(score_col), F.asc(id_col))
        parts.append(
            leg.withColumn("_rank", F.row_number().over(w)).select(
                F.col(id_col).alias("id"),
                F.round(F.lit(1.0) / (F.lit(k) + F.col("_rank")), quantize)
                .cast(f"decimal(12,{quantize})")
                .alias("_c"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.groupBy("id").agg(
        F.sum("_c").cast("double").alias("rrf"),
        F.count(F.lit(1)).alias("n_legs"),
    )
