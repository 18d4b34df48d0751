"""Entity lookup and context-frontier expansion (SURVEY §2.3 J9-J10, §2.4 A3).

Parity targets:
- J9 keyword → entity lookup with exact-then-prefix fallback:
  ``retrieval/query_context/entity_provider.py:24-110``.
- J10 bounded frontier expansion scored by relation count, visited-set
  exclusion, per-node top-N: ``retrieval/query_context/entity_context_provider.py:26-107``.

J10 is a bounded iterative op (depth ≤ 3, frontier ≤ beam width): the loop
runs on the driver but each level is one DataFrame job; per-level
``localCheckpoint`` truncates lineage so the plan doesn't grow with depth
(SURVEY §4 "custom work" item 1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from graphrag_toolkit_spark.fixtures import SparkGraphTables
from graphrag_toolkit_spark.functions.loop import checkpoint_nonempty, pinned
from graphrag_toolkit_spark.functions.text import search_string

LOCAL_ENTITY = "__Local_Entity__"


def lookup_entities(
    g: SparkGraphTables,
    keywords: DataFrame,
    include_local: bool = False,
    allow_prefix_fallback: bool = True,
) -> DataFrame:
    """J9: resolve keywords to entities.

    ``keywords(keyword [, classification])``. Exact match on the normalized
    ``search_str`` first; keywords with no exact hit fall back to a prefix
    (STARTS WITH) match. Local entities excluded unless ``include_local``
    (reference ``config.py:49`` DEFAULT_INCLUDE_LOCAL_ENTITIES=False).
    Returns (keyword, entity_id, value, classification, match_type).
    """
    ents = g.entities
    if not include_local:
        ents = ents.filter(F.col("classification") != LOCAL_ENTITY)
    # hint discipline: broadcast() marks ONLY the joins it can serve. The
    # keyword set is the LEFT side of the `missed` anti-join below — a
    # broadcast hint there is unusable (an anti join can't build its left
    # side; Spark logs "build left for left anti join" and silently drops
    # the hint), so the hint goes on the per-join small sides instead.
    kw = keywords.select(search_string(F.col("keyword")).alias("kw")).distinct()
    exact = ents.join(F.broadcast(kw), ents.search_str == F.col("kw")).select(
        F.col("kw").alias("keyword"), "entity_id", "value", "classification",
        F.lit("exact").alias("match_type"),
    )
    if not allow_prefix_fallback:
        return exact
    # exact hits feed the output union AND the missed anti-join: truncate
    # the keyword-bounded result so the entity-table probe runs once (§3.3)
    exact = exact.localCheckpoint(eager=False)
    missed = kw.join(
        F.broadcast(exact.select(F.col("keyword").alias("kw")).distinct()),
        "kw",
        "left_anti",
    )
    prefix = ents.join(
        F.broadcast(missed), ents.search_str.startswith(F.col("kw"))
    ).select(
        F.col("kw").alias("keyword"), "entity_id", "value", "classification",
        F.lit("prefix").alias("match_type"),
    )
    return exact.unionByName(prefix)


def vss_entities(
    g: SparkGraphTables,
    query_vector: list[float],
    index: str = "chunk",
    top_k_nodes: int = 3,
    limit: int = 50,
    include_local: bool = False,
) -> DataFrame:
    """The ``ec_entity_provider='vss'`` leg
    (``retrieval/query_context/entity_vss_provider.py:24-110``): VSS top-k
    over the topic or chunk index, then every entity reachable from those
    nodes (topic: BELONGS_TO; chunk: MENTIONED_IN_S — then SUPPORTS →
    SUBJECT|OBJECT), local entities excluded, ranked by GLOBAL entity degree
    (the reference's ``count(r)`` over all SUBJECT|OBJECT edges), top
    ``limit``. Returns (entity_id, value, classification, score).

    Scale shape: the top-k node set (≤ k rows) broadcasts down the edge
    walk; the degree aggregate reuses A3's one groupBy; final cut is a
    global ``orderBy.limit`` over ≤ |reachable entities| rows."""
    from graphrag_toolkit_spark.operators.rollup import entity_degree
    from graphrag_toolkit_spark.operators.vss import top_k

    emb = g.embeddings_topic if index == "topic" else g.embeddings_chunk
    nodes = F.broadcast(
        top_k(emb, query_vector, id_col="id", k=top_k_nodes).select(
            F.col("id").alias("node_id")
        )
    )
    supports = g.edges_of("SUPPORTS").select(
        F.col("src").alias("fact_id"), F.col("dst").alias("statement_id")
    )
    if index == "topic":
        stmt = g.edges_of("BELONGS_TO").select(
            F.col("src").alias("statement_id"), F.col("dst").alias("node_id")
        )
    else:
        stmt = g.edges_of("MENTIONED_IN_S").select(
            F.col("src").alias("statement_id"), F.col("dst").alias("node_id")
        )
    ent_edges = (
        g.edges_of("SUBJECT").unionByName(g.edges_of("OBJECT"))
        .select(F.col("src").alias("entity_id"), F.col("dst").alias("fact_id"))
    )
    reached = (
        stmt.join(nodes, "node_id")
        .join(supports, "statement_id")
        .join(ent_edges, "fact_id")
        .select("entity_id")
        .distinct()
    )
    ents = g.entities
    if not include_local:
        ents = ents.filter(F.col("classification") != LOCAL_ENTITY)
    return (
        reached.join(ents, "entity_id")
        .join(entity_degree(g), "entity_id")
        .select(
            "entity_id", "value", "classification",
            F.col("degree").cast("long").alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("entity_id"))
        .limit(limit)
    )


def entities_from_top_statement(
    g: SparkGraphTables,
    query_text: str,
    query_vector: list[float],
    index: str = "chunk",
    top_k_nodes: int = 3,
    include_local: bool = False,
) -> DataFrame:
    """The top-statement entity provider
    (``query_context/entity_from_top_statement_provider.py:27-117``): VSS
    top-k nodes → their statements → TF-IDF-score the statement texts
    against the query → the single best statement's entities, degree-ranked
    (local excluded). Returns (entity_id, value, classification, score).

    Stays distributed until the one-statement cut: candidate statements are
    bounded by top_k_nodes × statements-per-node, the TF-IDF scorer is the
    same relational pipeline as V5, and the final entity walk broadcasts a
    single statement id."""
    from graphrag_toolkit_spark.operators.rollup import entity_degree
    from graphrag_toolkit_spark.operators.tfidf import tfidf_cosine_scores
    from graphrag_toolkit_spark.operators.vss import top_k

    emb = g.embeddings_topic if index == "topic" else g.embeddings_chunk
    nodes = F.broadcast(
        top_k(emb, query_vector, id_col="id", k=top_k_nodes).select(
            F.col("id").alias("node_id")
        )
    )
    if index == "topic":
        member = g.edges_of("BELONGS_TO").select(
            F.col("src").alias("statement_id"), F.col("dst").alias("node_id")
        )
    else:
        member = g.edges_of("MENTIONED_IN_S").select(
            F.col("src").alias("statement_id"), F.col("dst").alias("node_id")
        )
    cand = (
        member.join(nodes, "node_id")
        .join(g.statements.select("statement_id", "value"), "statement_id")
        .select("statement_id", "value")
        .distinct()
    )
    scored = tfidf_cosine_scores(cand, query_text, "value", "statement_id")
    top_stmt = F.broadcast(
        scored.orderBy(F.desc("tfidf_score"), F.asc("id"))
        .limit(1)
        .select(F.col("id").alias("statement_id"))
    )
    supports = g.edges_of("SUPPORTS").select(
        F.col("src").alias("fact_id"), F.col("dst").alias("statement_id")
    )
    ent_edges = (
        g.edges_of("SUBJECT").unionByName(g.edges_of("OBJECT"))
        .select(F.col("src").alias("entity_id"), F.col("dst").alias("fact_id"))
    )
    reached = (
        supports.join(top_stmt, "statement_id")
        .join(ent_edges, "fact_id")
        .select("entity_id")
        .distinct()
    )
    ents = g.entities
    if not include_local:
        ents = ents.filter(F.col("classification") != LOCAL_ENTITY)
    return (
        reached.join(ents, "entity_id")
        .join(entity_degree(g), "entity_id")
        .select(
            "entity_id", "value", "classification",
            F.col("degree").cast("long").alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("entity_id"))
    )


def expand_entity_context(
    g: SparkGraphTables,
    seed_entities: DataFrame,
    max_depth: int = 3,
    per_node_limit: int = 5,
) -> DataFrame:
    """J10 over a lexical graph's RELATION edges (see ``expand_context``)."""
    return expand_context(
        g.edges_of("RELATION").select("src", "dst"),
        seed_entities, max_depth=max_depth, per_node_limit=per_node_limit,
    )


def expand_context(
    rel_edges: DataFrame | None,
    seed_entities: DataFrame,
    max_depth: int = 3,
    per_node_limit: int = 5,
    touching_fn=None,
) -> DataFrame:
    """J10: iterative frontier expansion over (src, dst) relation edges.

    Per level: frontier ⋈ edges (undirected, multiplicity-counted), neighbors
    scored by relation multiplicity (``count(r)``), per-source-node
    top-``per_node_limit``, minus already-visited nodes; a node reached via
    several parents keeps its strongest edge. Returns the accumulated context
    tree as (entity_id, parent_id, depth, strength); seeds have depth 0,
    null parent.

    Scale shape: the full undirected adjacency (groupBy over 2× the edge
    table — the dominant shuffle at corpus scale) is NEVER materialized.
    The frontier is tiny by construction (seeds × per_node_limit^depth), so
    each level broadcast-joins it against the raw edge list and aggregates
    multiplicities over only the frontier-incident edges — per-level work is
    an in-memory scan of the persisted edge list plus a near-empty shuffle.

    ``touching_fn`` (frontier pushdown): when the edge table is itself a
    DERIVED expansion (e.g. co-occurrence pairs, quadratic per group), even
    building+persisting it once is corpus-sized work the traversal mostly
    discards. A caller that can enumerate frontier-incident adjacencies
    straight from the LINEAR source tables passes
    ``touching_fn(frontier) -> (src, dst)`` and ``rel_edges=None``; the
    function must return, for each frontier node f, one oriented row
    (f, neighbor) per underlying adjacency occurrence — exactly the multiset
    the default path gets from the orientation-union join below (results are
    identical by contract; the oracle gate pins it). The derived edge table
    then never exists at any scale.
    """
    with pinned() as pin:
        if touching_fn is None:
            # loop-invariant input (often itself a computed join):
            # materialize once
            rel = pin(rel_edges.select("src", "dst"))
            id_type = dict(rel.dtypes)["src"]
        else:
            id_type = dict(seed_entities.dtypes)["entity_id"]
        visited = (
            seed_entities.select(F.col("entity_id")).distinct()
            .localCheckpoint(eager=True)
        )
        frontier = visited
        acc = visited.select(
            "entity_id",
            F.lit(None).cast(id_type).alias("parent_id"),
            F.lit(0).alias("depth"),
            F.lit(0).cast("long").alias("strength"),
        )
        for depth in range(1, max_depth + 1):
            # frontier-incident edges, both orientations, parallel edges kept
            # (multiplicity = strength)
            if touching_fn is not None:
                touching = touching_fn(frontier).select("src", "dst")
            else:
                touching = (
                    rel.join(
                        F.broadcast(frontier.withColumnRenamed("entity_id", "src")), "src"
                    )
                    .select("src", "dst")
                    .unionByName(
                        rel.join(
                            F.broadcast(frontier.withColumnRenamed("entity_id", "dst")),
                            "dst",
                        ).select(F.col("dst").alias("src"), F.col("src").alias("dst"))
                    )
                )
            cand = (
                touching.join(
                    F.broadcast(visited.withColumnRenamed("entity_id", "dst")),
                    "dst",
                    "left_anti",
                )
                .groupBy("src", "dst")
                .agg(F.count(F.lit(1)).alias("strength"))
            )
            w = Window.partitionBy("src").orderBy(F.desc("strength"), F.asc("dst"))
            nxt = checkpoint_nonempty(
                cand.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") <= per_node_limit)
                .select(
                    F.col("dst").alias("entity_id"),
                    F.col("src").alias("parent_id"),
                    F.lit(depth).alias("depth"),
                    F.col("strength"),
                )
                # a node reachable from two frontier parents: keep strongest edge
                .withColumn(
                    "_rn2",
                    F.row_number().over(
                        Window.partitionBy("entity_id").orderBy(
                            F.desc("strength"), F.asc("parent_id")
                        )
                    ),
                )
                .filter(F.col("_rn2") == 1)
                .drop("_rn2")
            )
            if nxt is None:
                break
            acc = acc.unionByName(nxt)
            frontier = nxt.select("entity_id")
            # nxt is checkpointed, per-entity deduped (_rn2), and disjoint from
            # visited (anti-join above) — the union is already distinct and its
            # pieces are checkpointed, so no re-checkpoint/dedup per level
            visited = visited.unionByName(frontier)
    return acc
