"""byokg-rag graph traversal over a triples table (SURVEY §2.3 J12-J15,
§2.4 A8).

Parity targets (``byokg-rag/src/graphrag_toolkit/byokg_rag/``):
- J12 one-hop expansion:        ``graph_retrievers/graph_traversal.py:14-79``
- J13 multi-hop union:          ``graph_traversal.py:94-113``
- J14 metapath follow:          ``graph_traversal.py:115-154``
- J15 BFS shortest paths:       ``graph_traversal.py:156-231``
- A8 merge-verbalize:           ``graph_retrievers/graph_verbalizer.py:108-135``
- schema:                       ``graphstore/graphstore.py:151-166``

The reference's store is an adjacency dict; ours is ONE DataFrame
``triples(src, rel, dst)``. Frontiers are small (entity-linked seeds) and
broadcast; the triples table is the big side and never moves. The BFS loop
is driver-bounded with per-level ``localCheckpoint`` (lineage truncation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from graphrag_toolkit_spark.functions.loop import checkpoint_nonempty, pinned


def schema_relations(triples: DataFrame) -> DataFrame:
    """Graph 'schema' = distinct relation labels (J12 companion)."""
    return triples.select("rel").distinct()


def one_hop(
    triples: DataFrame, frontier: DataFrame, rels: list[str] | None = None
) -> DataFrame:
    """J12: triplets whose src is in the frontier (optional relation filter).
    ``frontier(node_id)`` → (src, rel, dst)."""
    t = triples if rels is None else triples.filter(F.col("rel").isin(rels))
    return t.join(
        F.broadcast(frontier.select(F.col("node_id").alias("src")).distinct()), "src"
    ).select("src", "rel", "dst")


def multi_hop(
    triples: DataFrame, frontier: DataFrame, hops: int = 2,
    rels: list[str] | None = None,
) -> DataFrame:
    """J13: union of triplets reached in ≤ ``hops`` rounds of one-hop."""
    t = triples if rels is None else triples.filter(F.col("rel").isin(rels))
    # triples may be a computed DF (unions/distincts over base tables):
    # pinned once so each hop joins against the materialized table instead
    # of re-running the upstream shuffles per level
    with pinned(t) as t:
        acc = None
        cur = frontier.select("node_id").distinct()
        for _ in range(hops):
            # step empty ⇔ the next frontier (a projection + distinct of
            # step) is empty, so one emptiness test per hop suffices
            step = checkpoint_nonempty(one_hop(t, cur))
            if step is None:
                break
            acc = step if acc is None else acc.unionByName(step)
            cur = step.select(F.col("dst").alias("node_id")).distinct()
    if acc is None:
        return triples.select("src", "rel", "dst").limit(0)
    return acc.distinct()


def follow_metapath(
    triples: DataFrame, frontier: DataFrame, metapath: list[str]
) -> DataFrame:
    """J14: BFS constrained to an edge-type sequence — one filtered join per
    metapath position. Returns (start_id, end_id) pairs of complete paths."""
    # one materialization of the (possibly computed) triples table; per-level
    # rel filters then scan the cached table, not the upstream plan
    with pinned(triples.filter(F.col("rel").isin(list(metapath)))) as t:
        cur = frontier.select(
            F.col("node_id").alias("start_id"), F.col("node_id").alias("cur_id")
        ).distinct()
        for rel in metapath:
            step = t.filter(F.col("rel") == rel).select(
                F.col("src").alias("cur_id"), F.col("dst").alias("nxt_id")
            )
            level = (
                cur.join(step, "cur_id")
                .select("start_id", F.col("nxt_id").alias("cur_id"))
                .distinct()
            )
            cur = checkpoint_nonempty(level)
            if cur is None:
                cur = level.limit(0)
                break
    return cur.select("start_id", F.col("cur_id").alias("end_id"))


def shortest_paths(
    triples: DataFrame,
    sources: DataFrame,
    targets: DataFrame | None = None,
    max_depth: int = 6,
    directed: bool = True,
    edges_unique: bool = False,
) -> DataFrame:
    """J15: unit-weight BFS from source nodes. Returns
    (node_id, dist, path — '->'-joined node sequence of ONE shortest path,
    deterministically the lexicographically smallest at each settle step).
    If ``targets`` given, rows are filtered to target nodes at the end.

    ``edges_unique=True`` skips the (src, dst) dedup shuffle when the caller
    guarantees the directed triple table has no duplicate (src, dst) —
    duplicate edges don't change BFS *results* (the per-node row_number dedups
    candidates), only the per-level join fan-out, so the flag is safe either
    way; it trades the one-time distinct against per-level duplicate work.
    """
    edges = triples.select("src", "dst")
    if not directed:
        edges = edges.unionByName(
            triples.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()
    elif not edges_unique:
        edges = edges.distinct()
    # materialize the deduped edge table once; every BFS level re-joins it
    with pinned(edges):
        settled = (
            sources.select(F.col("node_id"))
            .distinct()
            .withColumn("dist", F.lit(0))
            .withColumn("path", F.col("node_id"))
            .localCheckpoint(eager=True)
        )
        frontier = settled
        for depth in range(1, max_depth + 1):
            cand = (
                edges.join(
                    F.broadcast(frontier.select(F.col("node_id").alias("src"), "path")), "src"
                )
                .select(
                    F.col("dst").alias("node_id"),
                    F.concat(F.col("path"), F.lit("->"), F.col("dst")).alias("path"),
                )
                # NOTE: no broadcast hint on settled — it grows monotonically with
                # every level (all reached nodes), so forcing a broadcast would
                # eventually blow the 8 GB broadcast / driver-memory limit on
                # large dense graphs. AQE picks broadcast while it's small and
                # falls back to a shuffle anti-join once it isn't. The frontier
                # broadcast above is safe: one level, bounded by the graph's
                # max level width.
                .join(settled.select("node_id"), "node_id", "left_anti")
            )
            nxt = checkpoint_nonempty(
                cand.withColumn(
                    "_rn",
                    F.row_number().over(
                        Window.partitionBy("node_id").orderBy(F.asc("path"))
                    ),
                )
                .filter(F.col("_rn") == 1)
                .select("node_id", F.lit(depth).alias("dist"), "path")
            )
            if nxt is None:
                break
            # nxt is already checkpointed and disjoint from settled (anti-join
            # above), so the union needs no re-checkpoint and no dedup: lineage
            # stays flat (a union of ≤max_depth checkpointed pieces)
            settled = settled.unionByName(nxt)
            frontier = nxt
    if targets is not None:
        settled = settled.join(
            F.broadcast(targets.select("node_id").distinct()), "node_id"
        )
    return settled


def merge_verbalize(triplets: DataFrame) -> DataFrame:
    """A8: group triplets by (src, rel) → 'src rel: d1, d2, …' with sorted
    objects (the reference preserves dict order; sorting pins determinism)."""
    return (
        triplets.groupBy("src", "rel")
        .agg(F.sort_array(F.collect_set("dst")).alias("objs"))
        .select(
            "src", "rel",
            F.concat(
                F.col("src"), F.lit(" "), F.col("rel"), F.lit(": "),
                F.concat_ws(", ", F.col("objs")),
            ).alias("text"),
        )
    )
