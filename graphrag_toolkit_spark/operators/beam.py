"""Beam search over graph neighborhoods (SURVEY §2.6 B1-B3).

Parity target: ``retrieval/retrievers/beam_search_base.py:14-167`` — a
priority-queue beam with visited set, four scoring modes, depth ≤ 8 — plus
its topic (``topic_beam_search.py:101-263``) and chunk
(``semantic_chunk_beam_search.py:20-200``) instantiations.

Spark mapping (SURVEY §4): the frontier is tiny (beam ≤ 100), so the loop
runs on the driver with one DataFrame job per level; neighbor generation and
scoring stay distributed (the neighbor join touches the full edge tables).
Scores use the same cosine expression as VSS; tie-breaks are (score desc,
id asc) everywhere so expansion order is total and reproducible.

Scoring modes (beam_search_base.py:46-92):
- ``cosine``          score(n) = cos(q, n)
- ``path_weighted``   score(n) = cos(q, n) × (1 + cos(p, n)) / 2
- ``path_propagated`` score(n) = cos(q, p) × cos(p, n)
- ``attention``       score(n) = cos(q, n) × (1 + softmax_p(dot(n, p)/√dim))
  — softmax taken over each parent's surviving (non-visited) neighbor set,
  max-subtracted for stability exactly like the reference's numpy version;
  with ``quantized`` the exp weights are rounded to 9 decimals and summed
  in DECIMAL so the weights are bit-reproducible across engines.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from graphrag_toolkit_spark.fixtures import SparkGraphTables
from graphrag_toolkit_spark.functions.loop import checkpoint_nonempty, pinned
from graphrag_toolkit_spark.functions.vector import (
    cosine_score_prequantized,
    cosine_similarity,
    cosine_similarity_quantized,
    dot,
    dot_quantized,
    quantized_query_lit,
)
from graphrag_toolkit_spark.operators.traversal import (
    topic_adjacency,
    topic_cooccurrence,
    topic_entity_overlap,
)
from graphrag_toolkit_spark.operators.vss import query_vector_lit, top_k

NeighborFn = Callable[[DataFrame], DataFrame]
# NeighborFn: frontier(node_id) -> candidates(node_id, parent_id)


def beam_search(
    embeddings: DataFrame,          # (id, embedding)
    seeds: DataFrame,               # (node_id)
    neighbors: NeighborFn,
    query_vector: Sequence[float],
    beam_width: int = 100,
    max_depth: int = 6,
    scoring: str = "cosine",
    quantized: bool = False,
) -> DataFrame:
    """B1: generic beam. Returns visited (node_id, depth, score) — every node
    that ever entered the beam, like the reference's result accumulation.
    ``quantized`` switches the cosine to the decimal-exact variant
    (oracle-reproducible scores)."""
    cos = cosine_similarity_quantized if quantized else cosine_similarity
    q = query_vector_lit(query_vector)
    # query-side scoring: prequantize the fixed query vector once (constant-
    # folded literals + folded norm) instead of re-quantizing it per row —
    # bit-identical scores (see cosine_score_prequantized)
    if quantized:
        _q_arr, _q_norm = quantized_query_lit(query_vector)
        cos_q = lambda c: cosine_score_prequantized(c, _q_arr, _q_norm)
    else:
        cos_q = lambda c: cosine_similarity(c, q)
    emb = embeddings.select(F.col("id").alias("node_id"), "embedding")

    scored_seeds = (
        seeds.join(emb, "node_id")
        .withColumn("score", cos_q(F.col("embedding")))
        .select("node_id", "score")
        .orderBy(F.desc("score"), F.asc("node_id"))
        .limit(beam_width)
        .localCheckpoint(eager=True)
    )
    visited = scored_seeds.withColumn("depth", F.lit(0))
    frontier = scored_seeds

    # hoist the per-candidate scoring expressions OUT of the depth loop:
    # Column objects are immutable unresolved trees, reusable across
    # frames, and building the quantized-cosine expressions costs dozens
    # of py4j driver round-trips each (~0.9 ms/round-trip here) — per
    # depth, that was pure driver time inside the timed span
    _score_q = cos_q(F.col("embedding"))
    _cos_pn = cos(F.col("embedding"), F.col("parent_embedding"))
    _cos_qp = cos_q(F.col("parent_embedding"))
    if scoring == "attention":
        _dot_fn = dot_quantized if quantized else dot
        _pw = Window.partitionBy("parent_id")
        _logit = _dot_fn(
            F.col("embedding"), F.col("parent_embedding")
        ) / F.sqrt(F.size(F.col("embedding")).cast("double"))
        _e = F.exp(F.col("_logit") - F.max("_logit").over(_pw))
        if quantized:
            # decimal-grid the exp weights so the per-parent sum is
            # exact in any order and identical across engines
            _e = F.round(_e, 9).cast("decimal(12,9)")
        _w_attn = F.col("_e").cast("double") / F.sum("_e").over(_pw).cast(
            "double"
        )

    for depth in range(1, max_depth + 1):
        cand = neighbors(F.broadcast(frontier.select("node_id"))).join(
            visited.select("node_id"), "node_id", "left_anti"
        )
        if scoring == "cosine":
            # parent-independent score: collapse to DISTINCT nodes BEFORE the
            # embedding join, so each node is embedded and scored once. The
            # old shape scored every (node, parent) candidate row and then
            # kept one per node with a row_number window — same
            # (node_id, score) set (the window's orderBy(desc score) was a
            # tie among identical per-node scores), strictly more cosine
            # evaluations plus a per-level sort. The distinct is a map-side-
            # partial aggregate over narrow (node_id) rows (guide §2.3).
            cand = (
                cand.select("node_id")
                .distinct()
                .join(emb, "node_id")
                .withColumn("score", _score_q)
            )
        else:
            cand = cand.join(emb, "node_id")
            parent_emb = emb.select(
                F.col("node_id").alias("parent_id"),
                F.col("embedding").alias("parent_embedding"),
            )
            cand = cand.join(parent_emb, "parent_id")
            cos_qn = _score_q
            cos_pn = _cos_pn
            if scoring == "path_weighted":
                cand = cand.withColumn("score", cos_qn * (1.0 + cos_pn) / 2.0)
            elif scoring == "path_propagated":
                cos_qp = _cos_qp
                cand = cand.withColumn("score", cos_qp * cos_pn)
            elif scoring == "attention":
                # softmax over each parent's neighbor set (reference:
                # beam_search_base.py:81-87): logit = dot(n, p)/sqrt(dim),
                # max-subtracted, exp, normalized per parent — all window
                # functions over parent_id, no extra shuffle beyond the
                # score stage's own partitioning (expressions hoisted
                # above the loop)
                cand = cand.withColumn("_logit", _logit)
                cand = cand.withColumn("_e", _e)
                cand = cand.withColumn("score", cos_qn * (1.0 + _w_attn)).drop(
                    "_logit", "_e"
                )
            else:
                raise ValueError(f"unknown scoring mode: {scoring}")
        # same node via several parents → keep best score, then beam cut
        # (cosine already holds one row per node after the distinct above;
        # only the parent-dependent scorings need the per-node argmax)
        if scoring == "cosine":
            dedup = cand.select("node_id", "score")
        else:
            dedup = (
                cand.withColumn(
                    "_rn",
                    F.row_number().over(
                        Window.partitionBy("node_id").orderBy(
                            F.desc("score"), F.asc("parent_id")
                        )
                    ),
                )
                .filter(F.col("_rn") == 1)
                .select("node_id", "score")
            )
        best = checkpoint_nonempty(
            dedup.orderBy(F.desc("score"), F.asc("node_id")).limit(beam_width)
        )
        if best is None:
            break
        visited = visited.unionByName(best.withColumn("depth", F.lit(depth)))
        frontier = best
    return visited


def topic_beam_search(
    g: SparkGraphTables,
    query_vector: Sequence[float],
    seed_top_k: int = 50,
    beam_width: int = 100,
    max_depth: int = 6,
    scoring: str = "path_weighted",
    statements_per_topic: int = 25,
) -> DataFrame:
    """B2: seeds = topic VSS top-k; neighbors = co-occurrence ∪ adjacency ∪
    entity-overlap (J6/J7/J8); winners expand to ≤N statements per topic.
    Returns (topic_id, depth, topic_score, statement_id)."""
    seeds = top_k(
        g.embeddings_topic, query_vector, id_col="id", k=seed_top_k
    ).select(F.col("id").alias("node_id"))

    def nbrs(frontier: DataFrame) -> DataFrame:
        f = frontier.withColumnRenamed("node_id", "topic_id")
        co = topic_cooccurrence(g, f)
        adj = topic_adjacency(g, f)
        ov = topic_entity_overlap(g, f, top_n=10).select("topic_id", "other_topic_id")
        alln = co.unionByName(adj).unionByName(ov).distinct()
        return alln.select(
            F.col("other_topic_id").alias("node_id"), F.col("topic_id").alias("parent_id")
        )

    visited = beam_search(
        g.embeddings_topic, seeds, nbrs, query_vector,
        beam_width=beam_width, max_depth=max_depth, scoring=scoring,
    ).withColumnsRenamed({"node_id": "topic_id", "score": "topic_score"})

    belongs = g.edges_of("BELONGS_TO").select(
        F.col("src").alias("statement_id"), F.col("dst").alias("topic_id")
    )
    w = Window.partitionBy("topic_id").orderBy(F.asc("statement_id"))
    stmts = (
        belongs.join(F.broadcast(visited.select("topic_id").distinct()), "topic_id")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= statements_per_topic)
        .drop("_rn")
    )
    return visited.join(stmts, "topic_id")


def chunk_beam_search(
    g: SparkGraphTables,
    query_vector: Sequence[float],
    seed_top_k: int = 50,
    beam_width: int = 10,
    max_depth: int = 3,
    scoring: str = "cosine",
) -> DataFrame:
    """B3: chunk beam via shared-entity sibling chunks
    (``semantic_chunk_beam_search.py:40-66``): chunk → its entities (via
    statements→facts) → other chunks mentioning those entities."""
    seeds = top_k(
        g.embeddings_chunk, query_vector, id_col="id", k=seed_top_k
    ).select(F.col("id").alias("node_id"))

    ms = g.edges_of("MENTIONED_IN_S").select(
        F.col("src").alias("statement_id"), F.col("dst").alias("chunk_id")
    )
    supports = g.edges_of("SUPPORTS").select(
        F.col("src").alias("fact_id"), F.col("dst").alias("statement_id")
    )
    subj = g.edges_of("SUBJECT").select(
        F.col("src").alias("entity_id"), F.col("dst").alias("fact_id")
    )
    chunk_entity = (
        ms.join(supports, "statement_id").join(subj, "fact_id")
        .select("chunk_id", "entity_id").distinct()
    )

    def nbrs(frontier: DataFrame) -> DataFrame:
        f = frontier.withColumnRenamed("node_id", "chunk_id")
        ents = chunk_entity.join(f, "chunk_id")
        sib = chunk_entity.withColumnsRenamed({"chunk_id": "other_chunk_id"})
        return (
            ents.join(sib, "entity_id")
            .filter(F.col("chunk_id") != F.col("other_chunk_id"))
            .select(
                F.col("other_chunk_id").alias("node_id"),
                F.col("chunk_id").alias("parent_id"),
            )
            .distinct()
        )

    with pinned(chunk_entity):
        return beam_search(
            g.embeddings_chunk, seeds, nbrs, query_vector,
            beam_width=beam_width, max_depth=max_depth, scoring=scoring,
        ).withColumnRenamed("node_id", "chunk_id")
