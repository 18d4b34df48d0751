"""Iterative graph centrality (truncated Katz index).

North-star analytics extension beyond the reference's degree scoring
(`rollup.entity_degree`, reference `entity_context_provider.py:126-141`):
a PageRank-family importance score that weighs paths, not just immediate
edges — ranking hub entities/suppliers for retrieval seeding or corpus
curation. Truncated Katz with attenuation α = 1/2^b over K iterations:

    r_0(v)     = 1
    r_{t+1}(v) = 1 + α · Σ_{u→v} r_t(u)

Two exactness regimes, one per algorithm family:

- Katz (power-of-two α) needs NO division at all once ranks are pre-scaled
  by 2^(b·K): every value stays an exact BIGINT through all iterations
  (each halving hits an even number by induction) — bit-identical in any
  engine and partitioning; the final divide by 2^(b·K) is an exact
  power-of-two double op.
- PageRank (``pagerank`` below) DOES divide by out-weight, which no
  power-of-two trick can absorb — so its loop runs in scaled integers on
  the 10⁻⁶ grid with floor division; every op stays integer (see
  `pagerank`).

Scale shape: the classic message-passing loop, run by one superstep
kernel (`_superstep`) for `katz_centrality`, `personalized_katz`,
`pagerank` (through `_propagate`) and both half-rounds of `hits`. A round
joins the ranks onto the persisted, src-partitioned edge table (only the
rank rows move), unions in the per-node restart rows and sums per
destination: one hash exchange per round (map-side partial aggregation
applies; longs sum associatively). The rounds of these operators, of
`label_propagation` and of the `kcore_peel` / `ktruss_peel` peels run on
`functions.loop.fixpoint`, which checkpoints each round's state lazily to
keep the plan round-sized. Under AQE a lazy checkpoint still plans its
round at once and runs the round's shuffle-map stages as jobs right then;
only the last stage waits for the consumer. Measured: the traced
`katz_centrality_graph` query (perfbench batch, sf0.001) submits 22 jobs
while its frame is built and 1 at the action; on the 500-edge graph of
tests/test_plans.py, `katz_centrality` builds in 7 jobs at iters=1 and 11
at iters=3 (two per round), then collects in 1. Skewed in-degree is
ordinary aggregation skew (AQE / two-phase salting via
`functions/skew.py` if a hub dominates).
"""

from __future__ import annotations

import itertools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graphrag_toolkit_spark.functions.loop import fixpoint, pinned


def _superstep(
    e: DataFrame,
    ranks: DataFrame,
    restart: DataFrame,
    message: Column,
    update: Column,
    n_salts: int | None = None,
) -> DataFrame:
    """One un-checkpointed round: ``ranks(node_id, r)`` joins ``e`` on
    ``src`` (and ``_salt``, with ``n_salts``: the rank rows replicate once
    per salt), each edge sends ``message`` to its ``dst`` as ``m``, the
    ``restart(node_id, m)`` rows join the per-node sum, and ``update`` (an
    aggregate over ``m``) is the node's new ``r``. Restart rows cost no
    second shuffle and give every node they list a rank row, in-edges or
    not."""
    r_side = ranks.withColumnRenamed("node_id", "src")
    keys = ["src"]
    if n_salts:
        r_side = r_side.withColumn(
            "_salt",
            F.explode(
                F.sequence(F.lit(0), F.lit(n_salts - 1)).cast("array<bigint>")
            ),
        )
        keys.append("_salt")
    return (
        e.join(r_side, keys)
        .select(F.col("dst").alias("node_id"), message.alias("m"))
        .unionByName(restart)
        .groupBy("node_id")
        .agg(update.cast("long").alias("r"))
    )


def _propagate(
    e: DataFrame,
    ranks: DataFrame,
    restart: DataFrame,
    message: Column,
    update: Column,
    iters: int,
    n_salts: int | None = None,
) -> DataFrame:
    """The superstep kernel: ``iters`` `_superstep` rounds on
    `functions.loop.fixpoint`. ``e`` must be persisted and hash-partitioned
    on the join keys, so no round re-shuffles it."""
    return fixpoint(
        lambda r: _superstep(e, r, restart, message, update, n_salts),
        ranks,
        iters,
        name="rank propagation",
    )


def _node_set(e: DataFrame, nodes: DataFrame | None = None) -> DataFrame:
    """``(node_id)``: the endpoints ``src ∪ dst`` of ``e``, or the caller's
    ``nodes`` (see `katz_centrality` for that contract), eagerly
    checkpointed once."""
    if nodes is None:
        nodes = (
            e.select(F.col("src").alias("node_id"))
            .unionByName(e.select(F.col("dst").alias("node_id")))
            .distinct()
        )
    return nodes.select("node_id").localCheckpoint(eager=True)


def _weighted(
    edges: DataFrame, src: str, dst: str, weight_col: str | None
) -> DataFrame:
    """``(src, dst, w)`` with BIGINT weights, 1 when ``weight_col`` is None."""
    w = F.col(weight_col) if weight_col else F.lit(1)
    return edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst"), w.cast("long").alias("w")
    )


def _canonical(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """``(a, b)``: the undirected simple graph of ``edges`` — each edge once
    as a < b, self-loops dropped."""
    return (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _both_ways(e: DataFrame) -> DataFrame:
    """``(v, w)``: both orientations of every ``(a, b)`` edge of ``e``."""
    return e.select(F.col("a").alias("v"), F.col("b").alias("w")).unionByName(
        e.select(F.col("b").alias("v"), F.col("a").alias("w"))
    )


def katz_centrality(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 6,
    alpha_log2: int = 1,
    weight_col: str | None = None,
    n_salts: int | None = None,
    nodes: DataFrame | None = None,
) -> DataFrame:
    """Truncated Katz index over a directed simple graph (dedup edges first
    if multi-edges should not multiply influence). Returns
    ``(node_id, katz: double)`` for every node appearing as src or dst;
    α = 1/2^alpha_log2, K = iters terms. ``weight_col`` (INTEGER edge
    weights) scales each message by its edge's weight — integer products
    preserve the power-of-two divisibility, so weighted propagation stays
    bit-exact.

    ``n_salts``: hub-out-degree skew guard. The per-round SUM groupBy is
    already two-phase (Spark's hash aggregate partial-aggregates map-side,
    so a hot dst key ships ≤ one combined row per partition) — the residual
    skew sits in the JOIN: a hub src key concentrates all its out-edges in
    one co-partition, and because the edge side is pre-partitioned and
    persisted (deliberately — only ranks move per round), AQE's runtime
    skew-split never sees a shuffle to re-plan. With ``n_salts=k`` the
    edges carry a deterministic salt ``xxhash64(dst) % k`` (dst varies
    within a hub's edge list, so its edges spread across all k salts), the
    rank table replicates k× per round, and the join keys on (src, salt) —
    every join partition holds ≤ 1/k of a hub's edges. Output is
    bit-identical (same joined pairs, exact integer sums; parity pinned by
    the katz_salted_graph oracle twin). Replication costs k× the rank-table
    shuffle, so reserve it for genuinely Zipfian graphs.

    ``nodes``: optional (node_id) frame that MUST equal the edge endpoint
    set src∪dst as a SET (duplicates not allowed). When the caller can
    derive it from dimension tables (key columns of the source relations),
    that skips a distinct over 2×|E| rows — |E| ≫ |V| on real graphs, so
    the endpoint-distinct is a full extra pass over the edge list
    (optimization guide §2.4). Wrong input changes results; the oracle
    gate pins the contract."""
    if iters < 0 or alpha_log2 < 1:
        raise ValueError("iters must be >= 0 and alpha_log2 >= 1")
    scale = 1 << (alpha_log2 * iters)
    e = _weighted(edges, src, dst, weight_col)
    if n_salts:
        e = e.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col("dst")), F.lit(n_salts))
        ).repartition(F.col("src"), F.col("_salt"))
    else:
        e = e.repartition(F.col("src"))
    with pinned(e):
        nodes = _node_set(e, nodes)
        ranks = _propagate(
            e,
            nodes.withColumn("r", F.lit(scale).cast("long")),
            # restart message S·2^b, S the rank scale: a multiple of 2^b,
            # so (Σm + S·2^b) div 2^b = S + Σm div 2^b exactly
            nodes.withColumn("m", F.lit(scale << alpha_log2).cast("long")),
            F.col("w") * F.col("r"),
            F.expr(f"sum(m) div {1 << alpha_log2}"),
            iters,
            n_salts,
        )
        return ranks.select(
            "node_id",
            (F.col("r").cast("double") / F.lit(float(scale))).alias("katz"),
        )


def personalized_katz(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node_id",
    iters: int = 4,
    alpha_log2: int = 1,
) -> DataFrame:
    """Seeded relevance propagation (personalized-PageRank analog in the
    Katz family): mass starts ONLY on the seed nodes and decays by 1/2^b
    per hop outward —

        r_0(v)     = [v ∈ seeds]
        r_{t+1}(v) = r_0(v) + α · Σ_{u→v} r_t(u)

    ranking the graph neighborhood of a seed set (retrieval seeding /
    entity-context scoring at whole-graph breadth). Same exact-BIGINT
    pre-scaling as `katz_centrality` — no division, engine- and
    partitioning-exact. Only nodes with nonzero mass appear in the output
    (frontier-sized, not graph-sized): (node_id, score: double)."""
    if iters < 0 or alpha_log2 < 1:
        raise ValueError("iters must be >= 0 and alpha_log2 >= 1")
    scale = 1 << (alpha_log2 * iters)
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .repartition(F.col("src"))
    )
    with pinned(e):
        base = (
            seeds.select(F.col(seed_col).alias("node_id"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        ranks = _propagate(
            e,
            base.withColumn("r", F.lit(scale).cast("long")),
            # seed-only restart, same S·2^b trick as katz_centrality
            base.withColumn("m", F.lit(scale << alpha_log2).cast("long")),
            F.col("r"),
            F.expr(f"sum(m) div {1 << alpha_log2}"),
            iters,
        )
        return ranks.select(
            "node_id",
            (F.col("r").cast("double") / F.lit(float(scale))).alias("score"),
        )


def kcore_peel(
    edges: DataFrame,
    k: int,
    rounds: int,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """k-core peeling, ``rounds`` synchronous rounds: repeatedly drop nodes
    whose degree (undirected, over surviving edges) is < k. Returns the
    surviving (node, degree) table — after enough rounds this IS the k-core
    (maximal subgraph with min degree ≥ k); a fixed round count keeps the
    spec deterministic and oracle-expressible (the oracle unrolls the same
    rounds), while callers can loop to a fixpoint by comparing counts.

    Scale shape (same discipline as `katz_centrality`): each round is one
    degree aggregate over the surviving edge list + two semi-joins to drop
    edges touching peeled nodes; the edge list only shrinks, and the rounds
    run on `functions.loop.fixpoint`, so each round's survivors are
    checkpointed lazily and the plan stays round-sized instead of growing a
    2^rounds lineage."""

    def _degrees(e: DataFrame) -> DataFrame:
        return (
            e.select(F.col("a").alias("node"))
            .unionByName(e.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("degree"))
        )

    def _peel(e: DataFrame) -> DataFrame:
        keep = _degrees(e).filter(F.col("degree") >= k).select("node")
        return e.join(keep.withColumnRenamed("node", "a"), "a", "left_semi").join(
            keep.withColumnRenamed("node", "b"), "b", "left_semi"
        )

    e = edges.select(
        F.col(src_col).alias("a"), F.col(dst_col).alias("b")
    ).filter(F.col("a") != F.col("b"))
    e = fixpoint(_peel, e.localCheckpoint(eager=True), rounds, name="kcore_peel")
    # the post-round degree table, unfiltered: at the fixpoint every degree
    # is >= k (the k-core); before it, callers see the raw peeling state
    return _degrees(e)


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 4,
    nodes: DataFrame | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """Truncated PageRank (d = 0.85, unnormalized start r₀ = 1) over a
    directed simple graph — the canonical web-graph importance signal
    alongside the Katz family:

        r_{t+1}(v) = 0.15 + 0.85 · Σ_{(u,v,w)∈E} q(w · r_t(u) / W(u))

    with W(u) the node's total out-weight. ``weight_col`` (positive INTEGER
    edge weights: order multiplicity, click counts) splits a node's rank
    across its out-edges by weight; without it every weight is 1 and W(u)
    is the out-degree. Dangling mass (nodes with no out-edges) is dropped,
    not redistributed — the "simple" variant; ranks are therefore
    comparable within a run, not a probability distribution.

    EXACTNESS (the hash-gate discipline): division by out-degree breaks
    Katz's pure-power-of-two trick, and quantizing the double quotient
    with ROUND(x, 6) is boundary-UNSAFE here — grid-valued ranks divided
    by small integers land exactly ON half-boundaries (1.234567/2 =
    .6172835), where the engines' double-rounding paths disagree. So the
    whole loop runs in SCALED INTEGERS on the 10⁻⁶ grid with FLOOR
    semantics: r₆ holds rank·10⁶ as BIGINT, a message is ``(w · r₆) div W``
    (one integer multiply before the exact integer floor; with unit
    weights exactly ``r₆ div deg``), and the update is
    ``150000 + (85 · Σm) div 100`` — every op is integer, so scores are
    bit-identical in any engine and partitioning by construction. The
    systematic truncation error is < iters·10⁻⁶, far below any ranking
    use; the final ``r₆/10⁶`` is one exact-operand IEEE division.

    Scale shape: `_propagate` over the (edge, W) table, built once,
    repartitioned on src and persisted; zero-contribution restart rows fold
    the no-in-edge nodes into the round's single shuffle."""
    if iters < 0:
        raise ValueError("iters must be >= 0")
    from pyspark.sql.window import Window

    e = _weighted(edges, src, dst, weight_col)
    # out-weight via a src-partitioned window, not groupBy + re-join: one
    # read of the (possibly expensive) edge build instead of two, and the
    # window's hash exchange on src is also the loop's partitioning (guide
    # §2.4); the sum is integer-exact, so rows equal the join form's.
    ed = e.withColumn(
        "tw", F.sum("w").over(Window.partitionBy("src"))
    ).repartition(F.col("src"))
    with pinned(ed):
        nodes = _node_set(e, nodes)
        ranks = _propagate(
            ed,
            nodes.withColumn("r", F.lit(1_000_000).cast("long")),
            nodes.withColumn("m", F.lit(0).cast("long")),
            F.expr("(w * r) div tw"),
            F.expr("150000 + (85 * sum(m)) div 100"),
            iters,
        )
        return ranks.select(
            "node_id",
            (F.col("r").cast("double") / F.lit(1_000_000.0)).alias("pagerank"),
        )


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 4,
    nodes: DataFrame | None = None,
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg) over a directed simple graph —
    the link-analysis dual to `pagerank`: a node is a good AUTHORITY if
    good hubs point at it, a good HUB if it points at good authorities:

        a_t(v) = Σ_{(u,v)∈E} h_{t-1}(u)        (then normalize)
        h_t(u) = Σ_{(u,v)∈E} a_t(v)            (then normalize)

    Reference capability parity: graph-importance ranking next to Katz /
    PageRank (lexical-graph retrieval reranks statements by graph
    centrality); HITS adds the directional hub/authority split.

    EXACTNESS (hash-gate discipline): classic HITS L2-normalizes — a
    square root that can never cross the engine boundary. This variant
    normalizes by the MAX instead (rank order and ratio structure are
    preserved; max-normalized HITS is a standard formulation) and does it
    entirely in scaled integers: scores live on the 10⁻⁶ grid as BIGINT,
    and each half-round rescales by FLOOR division with the ceiling of
    max/10⁶ — ``s = raw div greatest(1, (max_raw + 999999) div 10⁶)`` —
    so the leader sits at ~10⁶ and every op is exact integer arithmetic,
    bit-identical in any engine and under any partitioning. Dividing by
    ceil(max/10⁶) instead of multiplying raw by 10⁶ first keeps every
    intermediate ≤ Σranks ≤ n·10⁶, overflow-safe to n ≈ 9·10¹² nodes.

    Scale shape (= `pagerank`): both half-rounds are `_superstep` calls,
    one over the src-partitioned persisted edges (hubs → authorities) and
    one over the reversed persisted edges (authorities → hubs), with
    zero-message restart rows so every node keeps a score; per round only
    (node, score) rows move. Each half-round is one `functions.loop.fixpoint`
    round, so the raw scores it sums are checkpointed before both the max
    and the rescale read them; the max is a broadcast aggregate (never a
    driver collect).
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    # lineage break after the dedup: both edge tables persist a REPARTITION
    # of e — without the checkpoint each persist's first materialization
    # re-runs the whole upstream edge build + distinct (two full passes for
    # one dedup; guide §2.4/§3.3). Lazy is safe: the first half-round
    # touches only e_fwd (materializing the checkpoint); e_rev materializes
    # a half-round later from blocks.
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    with pinned() as pin:
        e_fwd = pin(e.repartition(F.col("src")))
        e_rev = pin(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            .repartition(F.col("src"))
        )
        nodes = _node_set(e, nodes)
        zeros = nodes.withColumn("m", F.lit(0).cast("long"))

        def _scaled(raw: DataFrame) -> DataFrame:
            # max-rescale onto the 10^-6 grid (all-BIGINT floor ops), each
            # kind by its own max, taken in one scalar (one-row) aggregate
            mx = raw.agg(
                F.max(F.when(F.col("hub"), F.col("r"))).alias("mx_h"),
                F.max(F.when(~F.col("hub"), F.col("r"))).alias("mx_a"),
            )
            return raw.crossJoin(F.broadcast(mx)).select(
                "node_id",
                "hub",
                F.expr("r div greatest(1L, (if(hub, mx_h, mx_a) + 999999) div 1000000)")
                .cast("long")
                .alias("r"),
            )

        # a loop round is one half-round, hubs → authorities over e_fwd,
        # then authorities → hubs over e_rev; the state holds the latest raw
        # scores of both kinds, and a round scales the kind it sends from
        halves = itertools.cycle([(e_fwd, True), (e_rev, False)])
        start = nodes.select(
            "node_id", F.lit(1_000_000).cast("long").alias("r"), F.lit(True).alias("hub")
        )

        def _half(state: DataFrame) -> DataFrame:
            edge, from_hubs = next(halves)
            sender = state.filter(F.col("hub") == from_hubs)
            # the starting hub scores sit on the grid already
            scores = sender if state is start else _scaled(sender)
            raw = _superstep(edge, scores.drop("hub"), zeros, F.col("r"), F.sum("m"))
            return sender.unionByName(raw.withColumn("hub", F.lit(not from_hubs)))

        state = _scaled(fixpoint(_half, start, 2 * iters, name="hits"))
        grid = F.lit(1_000_000.0)
        return (
            state.filter(F.col("hub"))
            .select("node_id", (F.col("r").cast("double") / grid).alias("hub"))
            .join(
                state.filter(~F.col("hub")).select(
                    "node_id", (F.col("r").cast("double") / grid).alias("authority")
                ),
                "node_id",
            )
        )


def modularity(
    edges: DataFrame,
    assignments: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node_id",
    comm_col: str = "community",
) -> DataFrame:
    """Newman modularity Q of a community assignment over an undirected
    simple graph — the standard "is this clustering real structure?"
    score for the partitions this engine produces (near-dup clusters,
    entity-resolution groups, label propagation):

        Q = Σ_c [ e_c/m − (d_c/2m)² ]

    with m the edge count, e_c the edges inside community c, d_c the
    degree sum of c. Q ≈ 0 ⇒ no better than random; Q ≳ 0.3 ⇒ strong
    structure.

    EXACTNESS: over the common denominator 4m² the whole score is ONE
    integer ratio — q_num = 4m·Σe_c − Σd_c², q_den = 4m² — so the
    emitted row is exact-BIGINT statistics plus a single exact-operand
    IEEE division (BIGINT holds to m ≈ 10⁹ edges; the documented escape
    beyond is DECIMAL(38,0) for the two products).

    Input contract: edges are canonicalized internally (self-loops
    dropped, (a,b)/(b,a)/duplicates collapse to one undirected edge);
    only edges with BOTH endpoints assigned count (inner join —
    unassigned nodes are outside the evaluated subgraph).

    Scale shape: two broadcast-or-shuffle equi-joins onto the assignment
    table, then three map-side-combined aggregates (per-community inside
    counts, per-community degree sums, one global reduce) cross-joined as
    one-row broadcasts — the edge list is scanned once."""
    e = _canonical(edges, src, dst)
    asg = assignments.select(
        F.col(node_col).alias("node"), F.col(comm_col).alias("c")
    )
    ea = (
        e.join(asg.withColumnsRenamed({"node": "a", "c": "ca"}), "a")
        .join(asg.withColumnsRenamed({"node": "b", "c": "cb"}), "b")
        .select("ca", "cb")
    )
    ea = ea.localCheckpoint(eager=False)  # three aggregates read it
    totals = ea.agg(F.count(F.lit(1)).alias("m"))
    inside = (
        ea.filter(F.col("ca") == F.col("cb"))
        .groupBy("ca")
        .agg(F.count(F.lit(1)).alias("e_c"))
        .agg(F.coalesce(F.sum("e_c"), F.lit(0)).cast("long").alias("sum_ec"))
    )
    degsq = (
        ea.select(F.col("ca").alias("c"))
        .unionByName(ea.select(F.col("cb").alias("c")))
        .groupBy("c")
        .agg(F.count(F.lit(1)).alias("d_c"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_communities"),
            F.coalesce(F.sum(F.col("d_c") * F.col("d_c")), F.lit(0))
            .cast("long")
            .alias("sum_dsq"),
        )
    )
    return (
        totals.crossJoin(F.broadcast(inside))
        .crossJoin(F.broadcast(degsq))
        .select(
            "m", "n_communities",
            (4 * F.col("m") * F.col("sum_ec") - F.col("sum_dsq")).alias("q_num"),
            (4 * F.col("m") * F.col("m")).alias("q_den"),
            F.when(
                F.col("m") > 0,
                (4 * F.col("m") * F.col("sum_ec") - F.col("sum_dsq")).cast("double")
                / (4 * F.col("m") * F.col("m")).cast("double"),
            ).alias("modularity"),
        )
    )


def degree_assortativity(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002) of an undirected
    simple graph — the Pearson correlation of endpoint degrees over edges:
    positive = hubs attach to hubs (social nets), negative = hubs attach
    to leaves (tech/biological nets, and near-dup/boilerplate graphs). A
    one-row structural fingerprint complementing `modularity`.

    Each undirected edge contributes BOTH orientations (the standard
    symmetric estimator), so Σx = Σy and the formula reduces to

        r = (M·Σxy − (Σx)²) / (M·Σx² − (Σx)²)        with M = 2·|E|

    EXACTNESS: degrees and all five sufficient statistics are BIGINT; r
    is one exact-operand IEEE division (no sqrt needed in the symmetric
    form — the two variance legs are identical). NULL when the variance
    is zero (regular graphs: r is undefined).

    Scale shape: canonical edge dedup, one degree aggregate, two
    degree-table joins back onto edges (equi-joins on the endpoint), one
    global reduce with map-side combine. BIGINT-safe while M·Σ(d_u·d_v)
    < 2⁶³ — beyond ~10⁹ heavy-tailed edges switch the two products to
    DECIMAL(38,0)."""
    # both degree legs + the ed join read it
    e = _canonical(edges, src, dst).localCheckpoint(eager=False)
    deg = (
        e.select(F.col("a").alias("n"))
        .unionByName(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
        .localCheckpoint(eager=False)  # joined back on BOTH endpoints
    )
    ed = (
        e.join(deg.withColumnsRenamed({"n": "a", "d": "da"}), "a")
        .join(deg.withColumnsRenamed({"n": "b", "d": "db"}), "b")
    )
    agg = ed.agg(
        (2 * F.count(F.lit(1))).cast("long").alias("m"),
        F.sum(F.col("da") + F.col("db")).cast("long").alias("sx"),
        (2 * F.sum(F.col("da") * F.col("db"))).cast("long").alias("sxy"),
        F.sum(
            F.col("da") * F.col("da") + F.col("db") * F.col("db")
        ).cast("long").alias("sxx"),
    )
    num = F.col("m") * F.col("sxy") - F.col("sx") * F.col("sx")
    den = F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    return agg.select(
        F.col("m"), F.col("sx"), F.col("sxy"), F.col("sxx"),
        F.when(den != 0, num.cast("double") / den.cast("double")).alias(
            "assortativity"
        ),
    )


def neighborhood_sizes(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    m: int = 64,
) -> DataFrame:
    """Per-node neighborhood-size estimation à la HyperBall (Boldi &
    Vigna 2013): every node keeps an m-register HyperLogLog of the nodes
    within radius r, and a round merges each node's registers with its
    neighbors' via (idx, max) — so |ball(v, 2)| for EVERY node costs two
    register-join rounds instead of per-node BFS (the algorithm behind
    "four degrees of separation"-scale neighborhood functions). Returns
    ``(node_id, est_1hop, est_2hop)`` — undirected balls including the
    node itself.

    EXACTNESS (the sketch is hash-gated, like `sketch.hll_estimate`):
    each node hashes ONCE (52-bit md5 → register idx + leading-zero
    rank, pure integer); register merging is (idx, max) groupBys; the
    per-node harmonic sum is ≤ m exact power-of-two doubles plus an
    exact integer zero-fill — exact in any accumulation order — and the
    linear-counting ln is quantized to the 6-decimal grid. Deterministic
    and engine-identical end to end.

    Scale shape: state is m small ints per node, EXACTLY HyperBall's
    design point; a round is one edge ⋈ register equi-join + one
    (node, idx) max aggregate — m× the edge list moves, independent of
    ball sizes (the exact-BFS alternative moves the balls themselves,
    which explode combinatorially). Deeper radii = repeat the merge."""
    from graphrag_toolkit_spark.operators.sketch import hll_idx_rank

    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
        F.col("a") != F.col("b")
    )
    nodes = (
        e.select(F.col("a").alias("n"))
        .unionByName(e.select(F.col("b").alias("n")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    und = (
        _both_ways(e)
        .unionByName(nodes.select(F.col("n").alias("v"), F.col("n").alias("w")))
        .distinct()
    ).localCheckpoint(eager=False)
    whash = hll_idx_rank(nodes, "n", m=m, keep=["n"]).select(
        F.col("n").alias("w"), "idx", "rank"
    )
    r1 = (
        und.join(whash, "w")
        .groupBy(F.col("v"), F.col("idx"))
        .agg(F.max("rank").cast("int").alias("reg"))
        .localCheckpoint(eager=False)
    )
    r2 = (
        und.join(r1.withColumnRenamed("v", "w"), "w")
        .groupBy(F.col("v"), F.col("idx"))
        .agg(F.max("reg").cast("int").alias("reg"))
    )

    def _estimate(regs: DataFrame, out_col: str) -> DataFrame:
        alpha = 0.709  # α₆₄, shared literal with sketch.hll_estimate
        agg = regs.groupBy("v").agg(
            F.count(F.lit(1)).alias("np"),
            F.sum(
                F.lit(1.0)
                / F.expr("shiftleft(cast(1 as bigint), reg)").cast("double")
            ).alias("sp"),
        )
        s = (F.lit(m) - F.col("np")).cast("double") + F.col("sp")
        v0 = (F.lit(m) - F.col("np")).cast("long")
        raw = F.lit(alpha) * F.lit(float(m * m)) / s
        lin = F.round(
            F.lit(float(m)) * F.log(F.lit(float(m)) / v0.cast("double")), 6
        )
        return agg.select(
            "v",
            F.when((raw <= 2.5 * m) & (v0 > 0), lin).otherwise(raw).alias(out_col),
        )

    return (
        _estimate(r1, "est_1hop")
        .join(_estimate(r2, "est_2hop"), "v")
        .select(F.col("v").alias("node_id"), "est_1hop", "est_2hop")
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et al.
    2007) made DETERMINISTIC: every node starts labeled with itself; each
    round it adopts the most frequent label among its neighbors, ties
    broken by MINIMUM label (classic LPA breaks ties randomly — this
    variant is reproducible across runs, engines, and partitionings,
    which is what lets it hash-gate). Fixed ``iters`` rounds keep the
    spec oracle-expressible; isolated rounds converge fast on
    community-structured graphs, and `modularity` scores the result.
    Returns ``(node_id, label)``; undirected, deduped edges.

    Scale shape: a round is one edge ⋈ label equi-join + one
    (node, label) count + one per-node window argmax — the same
    message-passing class as `pagerank`; labels are the only moving
    rows. The rounds run on `functions.loop.fixpoint`, whose lazy
    checkpoint per round keeps plans round-sized."""
    from pyspark.sql.window import Window as W

    if iters < 0:
        raise ValueError("iters must be >= 0")
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    und = _both_ways(e).localCheckpoint(eager=True)
    nodes = und.select(F.col("v").alias("node_id")).distinct().localCheckpoint(
        eager=True
    )
    w_rank = W.partitionBy("v").orderBy(F.desc("n"), F.asc("label"))

    def _round(labels: DataFrame) -> DataFrame:
        votes = (
            und.join(labels.withColumnRenamed("node_id", "w"), "w")
            .groupBy(F.col("v"), F.col("label"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        best = (
            votes.withColumn("_rn", F.row_number().over(w_rank))
            .filter(F.col("_rn") == 1)
            .select(F.col("v").alias("node_id"), "label")
        )
        # isolated nodes (none here — every node has an edge — but the
        # contract survives filtered inputs): keep the previous label
        return nodes.join(best, "node_id", "left").select(
            "node_id", F.coalesce("label", F.col("node_id")).alias("label")
        )

    return fixpoint(
        _round,
        nodes.withColumn("label", F.col("node_id")),
        iters,
        name="label_propagation",
    )


def ktruss_peel(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 2,
) -> DataFrame:
    """k-truss peeling (Cohen 2008) — the EDGE analog of `kcore_peel`: a
    k-truss is the maximal subgraph where every edge sits in ≥ k−2
    triangles, a far stronger cohesion filter than degree (k-core keeps
    hub-and-spoke noise; k-truss demands triangle support — the standard
    dense-community prefilter). Synchronous peel: each round computes
    every surviving edge's triangle support and drops edges below k−2; a
    fixed ``rounds`` count keeps it deterministic and oracle-expressible
    (callers loop to a fixpoint by comparing counts). Returns the
    surviving canonical edges with their CURRENT support
    ``(a, b, support)`` — at the fixpoint that IS the k-truss.

    Scale shape: support = one wedge join (edge ⋈ adjacency on the lower
    endpoint) semi-joined back against the edge set — the exact
    triangle-enumeration shape `triangle_count` uses, Σ deg(a) work per
    round, never |V|² — and the edge list only shrinks; the rounds run on
    `functions.loop.fixpoint`, which checkpoints each round's survivors
    lazily."""
    if k < 2:
        raise ValueError("k must be >= 2")
    e = _canonical(edges, src, dst).localCheckpoint(eager=True)

    def _support(e: DataFrame) -> DataFrame:
        # triangles per edge: wedges on the lower endpoint, closed by a
        # semi-join back against the adjacency
        und = _both_ways(e)
        closed = (
            e.join(und.withColumnsRenamed({"v": "a", "w": "x"}), "a")
            .filter(F.col("x") != F.col("b"))
            .join(
                und.withColumnsRenamed({"v": "b", "w": "x"}),
                ["b", "x"],
                "left_semi",
            )
        )
        return e.join(
            closed.groupBy("a", "b").agg(F.count(F.lit(1)).alias("support")),
            ["a", "b"],
            "left",
        ).select(
            "a", "b", F.coalesce("support", F.lit(0)).cast("long").alias("support")
        )

    e = fixpoint(
        lambda e: _support(e).filter(F.col("support") >= k - 2).select("a", "b"),
        e,
        rounds,
        name="ktruss_peel",
    )
    # final support of the SURVIVING edges (post-peel state)
    return _support(e)


def conductance(
    edges: DataFrame,
    assignments: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node_id",
    comm_col: str = "community",
) -> DataFrame:
    """Per-community conductance φ(S) over an undirected simple graph —
    the community-quality dual of `modularity` (which scores the whole
    partition): for each community S,

        φ(S) = cut(S) / min(vol(S), vol(V\\S))

    with cut(S) the edges crossing the boundary and vol(S) the degree sum
    inside S. Low φ ⇒ a well-separated community; φ near 1 ⇒ the "community"
    leaks most of its edges. The per-community view localizes what
    modularity's one global Q cannot: WHICH clusters are real.

    EXACTNESS: cut and vol are exact BIGINT counts; the score is a single
    exact-operand IEEE division. EVERY community in the assignment table
    is emitted: one with no incident (both-endpoints-assigned) edge gets
    vol=0, cut=0, conductance NULL — undefined, not silently absent.

    Input contract: same as `modularity` — edges canonicalized internally,
    only edges with both endpoints assigned count.

    Scale shape: two equi-joins onto the assignment table, then two
    map-side-combined per-community aggregates; the total volume is a
    one-row broadcast (2m — derived, never a second scan)."""
    e = _canonical(edges, src, dst)
    asg = assignments.select(
        F.col(node_col).alias("node"), F.col(comm_col).alias("c")
    )
    ea = (
        e.join(asg.withColumnsRenamed({"node": "a", "c": "ca"}), "a")
        .join(asg.withColumnsRenamed({"node": "b", "c": "cb"}), "b")
        .select("ca", "cb")
        .localCheckpoint(eager=False)  # volume + cut legs both read it
    )
    # vol(S): each endpoint contributes 1 per incident edge.
    vol = (
        ea.select(F.col("ca").alias("c"))
        .unionByName(ea.select(F.col("cb").alias("c")))
        .groupBy("c")
        .agg(F.count(F.lit(1)).cast("long").alias("vol"))
    )
    cut = (
        ea.filter(F.col("ca") != F.col("cb"))
        .select(F.explode(F.array("ca", "cb")).alias("c"))
        .groupBy("c")
        .agg(F.count(F.lit(1)).cast("long").alias("cut"))
    )
    total = ea.agg((F.count(F.lit(1)) * 2).cast("long").alias("vol_total"))
    comp = F.least(F.col("vol"), F.col("vol_total") - F.col("vol"))
    comms = asg.select("c").distinct()
    return (
        comms.join(vol, "c", "left")
        .withColumn("vol", F.coalesce("vol", F.lit(0)).cast("long"))
        .join(cut, "c", "left")
        .crossJoin(F.broadcast(total))
        .select(
            F.col("c").alias("community"),
            "vol",
            F.coalesce("cut", F.lit(0)).cast("long").alias("cut"),
            F.when(
                comp > 0,
                F.coalesce("cut", F.lit(0)).cast("double") / comp.cast("double"),
            ).alias("conductance"),
        )
    )


def harmonic_2hop(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Bounded-radius harmonic centrality over an undirected simple graph:

        H₂(u) = Σ_{d(u,v)=1} 1 + Σ_{d(u,v)=2} 1/2

    — the distance-discounted reach signal (Boldi–Vigna's harmonic
    centrality truncated at radius 2, the radius where the score is still
    an exact join computation rather than an all-pairs BFS). Complements
    `neighborhood_sizes` (HLL ball-size ESTIMATES) with exact counts and
    the 1/d weighting.

    EXACTNESS: counts are exact BIGINT; the half-weight is folded as
    score2 = 2·n1 + n2 (integer) and the final H₂ = score2 / 2 is one
    IEEE division by a POWER OF TWO — exact in binary, bit-identical in
    any engine.

    Scale shape: symmetric adjacency built once and reused for both hops;
    the 2-hop frontier is one self-join keyed on the middle node (work ∝
    Σ_v deg(v)² — wedge count, the same budget every triangle/clustering
    op on this graph already pays) followed by a distinct and an anti-join
    to drop distance-1 pairs."""
    e = _canonical(edges, src, dst)
    und = _both_ways(e).localCheckpoint(eager=False)  # both hops + anti-join
    n1 = und.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("n1"))
    two = (
        und.withColumnsRenamed({"v": "u", "w": "mid"})
        .join(und.withColumnsRenamed({"v": "mid", "w": "t"}), "mid")
        .filter(F.col("u") != F.col("t"))
        .select("u", "t")
        .distinct()
        .join(
            und.withColumnsRenamed({"v": "u", "w": "t"}),
            ["u", "t"],
            "left_anti",
        )
        .groupBy("u")
        .agg(F.count(F.lit(1)).cast("long").alias("n2"))
    )
    return (
        n1.join(two.withColumnsRenamed({"u": "v"}), "v", "left")
        .select(
            F.col("v").alias("node_id"),
            "n1",
            F.coalesce("n2", F.lit(0)).cast("long").alias("n2"),
            (
                (2 * F.col("n1") + F.coalesce("n2", F.lit(0))).cast("double")
                / F.lit(2.0)
            ).alias("harmonic_2hop"),
        )
    )
