"""Graph-operator workload over the driver's TPC-H fixtures (SURVEY §2.3/§2.4).

The driver tables carry a natural heterogeneous graph:
``customer --placed--> order --contains--> part --supplied_by--> supplier``.
These queries run the REAL engine operators (``operators/bfs.py``,
``operators/linking.py``, ``operators/entity.py``) over that graph, with the
DuckDB oracle expressing the identical semantics — recursive CTEs for BFS,
window trees for the frontier expansion — so the iterative driver-loop
operators get hash-level correctness checks, not just unit tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from graphrag_toolkit_spark.functions.littable import lit_table
from graphrag_toolkit_spark.operators import bfs, linking
from graphrag_toolkit_spark.operators.entity import expand_context
from graphrag_toolkit_spark.session import load

# typed-edge SQL fragment shared by the oracles
EDGES_SQL = """
  SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src, 'placed' AS rel,
         'o' || CAST(o_orderkey AS VARCHAR) AS dst FROM orders
  UNION ALL
  SELECT DISTINCT 'o' || CAST(l_orderkey AS VARCHAR), 'contains',
         'p' || CAST(l_partkey AS VARCHAR) FROM lineitem
  UNION ALL
  SELECT DISTINCT 'p' || CAST(l_partkey AS VARCHAR), 'supplied_by',
         's' || CAST(l_suppkey AS VARCHAR) FROM lineitem
"""


def _triples(spark: SparkSession, sf_dir: str, dedup: bool = True) -> DataFrame:
    """Typed-edge table over the fixtures. ``dedup=False`` skips the two
    lineitem-branch ``distinct`` shuffles — correct for any consumer whose
    RESULT is insensitive to duplicate edges (BFS/metapath/multi-hop/schema:
    each dedups per level or at the end), wrong for edge-counting consumers
    (node_degree), which must keep the default."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    placed = orders.select(
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
        F.lit("placed").alias("rel"),
        F.concat(F.lit("o"), F.col("o_orderkey").cast("string")).alias("dst"),
    )
    # both lineitem branches from ONE scan (explode), and — because the
    # branches are disjoint by rel — one distinct replaces the two
    # per-branch ones: union-of-distincts ≡ distinct-of-union here
    # (guide §2.4: fewer passes / shared exchange)
    li_edges = li.select(
        F.explode(
            F.array(
                F.struct(
                    F.concat(F.lit("o"), F.col("l_orderkey").cast("string")).alias("src"),
                    F.lit("contains").alias("rel"),
                    F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("dst"),
                ),
                F.struct(
                    F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("src"),
                    F.lit("supplied_by").alias("rel"),
                    F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
                ),
            )
        ).alias("e")
    ).select("e.src", "e.rel", "e.dst")
    if dedup:
        li_edges = li_edges.distinct()
    return placed.unionByName(li_edges)


def _triples_long(spark: SparkSession, sf_dir: str, dedup: bool = True) -> DataFrame:
    """`_triples` with BIGINT node ids — ``key*4 + type_tag`` (c=0, o=1,
    p=2, s=3), a bijection onto the string ids. The iterative centrality
    loops shuffle (node, score) rows every round; a fixed 8-byte join/agg
    key halves the row width and hashes/compares faster than the 'c123'
    strings (optimization guide §2.3 "narrower types"). Consumers decode
    the final scores' ids with `_decode_node`, which reproduces the
    oracle's strings exactly; every intermediate is value-identical
    because node ids never enter the score arithmetic."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    enc = lambda col, tag: (F.col(col).cast("long") * 4 + tag).alias  # noqa: E731
    placed = orders.select(
        enc("o_custkey", 0)("src"), enc("o_orderkey", 1)("dst")
    )
    # one lineitem scan for both branches; tag-disjoint sides make the
    # single distinct equivalent to the two per-branch ones (see _triples)
    li_edges = li.select(
        F.explode(
            F.array(
                F.struct(enc("l_orderkey", 1)("src"), enc("l_partkey", 2)("dst")),
                F.struct(enc("l_partkey", 2)("src"), enc("l_suppkey", 3)("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    if dedup:
        li_edges = li_edges.distinct()
    return placed.unionByName(li_edges)


def _decode_node(col: str):
    """BIGINT node id (from `_triples_long`) back to the oracle's string id."""
    return F.expr(
        f"concat(element_at(array('c','o','p','s'), "
        f"cast(pmod({col}, 4) as int) + 1), cast({col} div 4 as string))"
    )


def _graph_nodes_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Endpoint node set of `_triples_long`'s graph, derived from the BASE
    tables instead of a distinct over 2×|E| edge endpoints (guide §2.4 —
    |E| ≫ |V|, so the endpoint-distinct is a full extra pass over the edge
    list): custkeys (distinct over orders), orderkeys (orders' primary key,
    already unique), part/supp keys (one lineitem scan, one distinct). The
    branches are tag-disjoint and each internally deduped, so the union is
    a set equal to src∪dst by construction — pinned by the centrality
    oracle gates."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    custs = orders.select(
        (F.col("o_custkey").cast("long") * 4).alias("node_id")
    ).distinct()
    ords = orders.select(
        (F.col("o_orderkey").cast("long") * 4 + 1).alias("node_id")
    )
    ps = li.select(
        F.explode(
            F.array(
                F.col("l_partkey").cast("long") * 4 + 2,
                F.col("l_suppkey").cast("long") * 4 + 3,
            )
        ).alias("node_id")
    ).distinct()
    return custs.unionByName(ords).unionByName(ps)


def _copair_counts(
    spark: SparkSession,
    sf_dir: str,
    a_name: str = "pa",
    b_name: str = "pb",
    n_name: str = "n_shared",
    ps: DataFrame | None = None,
) -> DataFrame:
    """Co-purchase pair counts ``(a < b, #orders sharing both)`` — the edge
    builder behind every part-graph query. One groupBy collects each
    order's distinct part set and an in-row upper-triangle expansion emits
    the pairs, replacing the previous distinct + self-join + pair-groupBy
    (guide §2.4: the distinct's exchange and the join's two re-shuffles
    collapse into one exchange; measured −33% warm on the build). Output is
    identical — the per-order pair multiset is the same, so every
    downstream count matches the unchanged oracles. Per-order sets are
    cart-sized (bounded), so the collect_set row and the quadratic in-row
    expansion are bounded at any corpus scale.

    ``ps``: optional prebuilt per-order part-set frame
    ``(l_orderkey, _ps: array)`` — a caller that also needs basket counts
    or item supports can build it once (checkpointed) and derive all three
    from the same grouped pass instead of paying a second lineitem scan +
    distinct exchange (guide §2.4)."""
    if ps is None:
        li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
        ps = li.groupBy("l_orderkey").agg(
            F.collect_set("l_partkey").alias("_ps")
        )
    return (
        ps.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("_ps"),
                        lambda x: F.transform(
                            F.filter(F.col("_ps"), lambda y: y > x),
                            lambda y: F.struct(x.alias("a"), y.alias("b")),
                        ),
                    )
                )
            ).alias("_e")
        )
        .groupBy(
            F.col("_e.a").alias(a_name), F.col("_e.b").alias(b_name)
        )
        .agg(F.count(F.lit(1)).alias(n_name))
    )


def _copurchase_edges(spark: SparkSession, sf_dir: str, min_shared: int) -> DataFrame:
    """``(src, dst)``: the part co-purchase graph, one edge per part pair
    (src < dst) appearing together in ≥ ``min_shared`` orders."""
    return (
        _copair_counts(spark, sf_dir)
        .filter(F.col("n_shared") >= min_shared)
        .select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
    )


# --- J15: BFS shortest paths vs recursive-CTE oracle -------------------------

def bfs_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    sources = lit_table(spark, "node_id string", [{"node_id": "c1"}])
    # BFS results are duplicate-edge-insensitive (per-node row_number dedups
    # candidates), so skip BOTH dedup shuffles: the lineitem-branch distincts
    # (dedup=False) and the BFS-side one (edges_unique=True). The fan-out cost
    # of duplicate edges is bounded by the tiny frontier.
    return bfs.shortest_paths(
        _triples(spark, sf_dir, dedup=False), sources, max_depth=3,
        directed=True, edges_unique=True,
    ).select("node_id", "dist", "path")


BFS_ORACLE = f"""
WITH RECURSIVE e AS ({EDGES_SQL}),
walk(node_id, dist, path) AS (
  SELECT 'c1', 0, 'c1'
  UNION ALL
  SELECT e.dst, w.dist + 1, w.path || '->' || e.dst
  FROM walk w JOIN e ON e.src = w.node_id WHERE w.dist < 3
)
SELECT node_id, dist, path FROM (
  SELECT node_id, dist, path,
         ROW_NUMBER() OVER (PARTITION BY node_id ORDER BY dist, path) AS rn
  FROM walk
) WHERE rn = 1
"""


# --- J14: metapath follow ----------------------------------------------------

METAPATH = ["placed", "contains", "supplied_by"]


def metapath_follow(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 5)
    seeds = cust.select(
        F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("node_id")
    )
    # per-level distinct makes metapath results duplicate-edge-insensitive
    return bfs.follow_metapath(_triples(spark, sf_dir, dedup=False), seeds, METAPATH)


METAPATH_ORACLE = f"""
WITH e AS ({EDGES_SQL}),
seeds AS (
  SELECT 'c' || CAST(c_custkey AS VARCHAR) AS node_id FROM customer WHERE c_custkey <= 5
)
SELECT DISTINCT s.node_id AS start_id, e3.dst AS end_id
FROM seeds s
JOIN e e1 ON e1.src = s.node_id AND e1.rel = 'placed'
JOIN e e2 ON e2.src = e1.dst    AND e2.rel = 'contains'
JOIN e e3 ON e3.src = e2.dst    AND e3.rel = 'supplied_by'
"""


# --- A8: merge-verbalize -----------------------------------------------------

def merge_verbalize_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 100)
    t = li.select(
        F.concat(F.lit("o"), F.col("l_orderkey").cast("string")).alias("src"),
        F.lit("contains").alias("rel"),
        F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("dst"),
    )
    return bfs.merge_verbalize(t).select("src", "rel", "text")


VERBALIZE_ORACLE = """
SELECT src, rel, src || ' ' || rel || ': ' || array_to_string(list_sort(list(DISTINCT dst)), ', ') AS text
FROM (
  SELECT 'o' || CAST(l_orderkey AS VARCHAR) AS src, 'contains' AS rel,
         'p' || CAST(l_partkey AS VARCHAR) AS dst
  FROM lineitem WHERE l_orderkey <= 100
)
GROUP BY src, rel
"""


# --- A3: node degree ---------------------------------------------------------

def node_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _triples_long(spark, sf_dir)
    return (
        # both endpoints explode IN-ROW: one reference to the edge build
        # instead of a self-union that re-derives it (same multiset — every
        # edge contributes exactly its src and its dst)
        t.select(F.explode(F.array("src", "dst")).alias("node_id"))
        .groupBy("node_id")
        .agg(F.count(F.lit(1)).alias("degree"))
        .select(_decode_node("node_id").alias("node_id"), "degree")
    )


DEGREE_ORACLE = f"""
WITH e AS ({EDGES_SQL})
SELECT node_id, COUNT(*) AS degree FROM (
  SELECT src AS node_id FROM e UNION ALL SELECT dst FROM e
) GROUP BY node_id
"""


# --- J6-analog: co-occurrence self-join --------------------------------------

def part_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _copair_counts(spark, sf_dir, "part_a", "part_b")
        .orderBy(F.desc("n_shared"), F.asc("part_a"), F.asc("part_b"))
        .limit(20)
    )


COOCCURRENCE_ORACLE = """
WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_shared
FROM d a JOIN d b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY part_a, part_b
ORDER BY n_shared DESC, part_a, part_b
LIMIT 20
"""


# --- J8-analog: top-N neighbors per node by strength -------------------------

def topn_part_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        # both self-join sides read the deduped basket table — EAGER break
        # so the scan+distinct runs once, not once per side (guide §3.3;
        # the sides materialize concurrently, so lazy would recompute)
        .localCheckpoint(eager=True)
    )
    a = li.withColumnsRenamed({"l_partkey": "part_a"}).filter(F.col("part_a") <= 100)
    b = li.withColumnsRenamed({"l_partkey": "part_b"})
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") != F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("strength"))
    )
    w = Window.partitionBy("part_a").orderBy(F.desc("strength"), F.asc("part_b"))
    return pairs.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)


TOPN_NEIGHBORS_ORACLE = """
WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS strength
  FROM d a JOIN d b ON a.l_orderkey = b.l_orderkey AND a.l_partkey != b.l_partkey
  WHERE a.l_partkey <= 100
  GROUP BY part_a, part_b
)
SELECT part_a, part_b, strength, rn FROM (
  SELECT part_a, part_b, strength,
         ROW_NUMBER() OVER (PARTITION BY part_a ORDER BY strength DESC, part_b) AS rn
  FROM pairs
) WHERE rn <= 3
"""


# --- J16: fuzzy entity linking ----------------------------------------------

_NORM = (
    r"lower(trim(regexp_replace(regexp_replace({c}, '([^\s\w]|_)+', ' ', 'g'), "
    r"'\s+', ' ', 'g')))"
)


def fuzzy_link_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    queries = part.filter(F.col("p_partkey") <= 5).select(
        F.concat(F.lit("x"), F.substring(F.col("p_name"), 2, 10_000)).alias("query")
    )
    names = part.select(F.col("p_partkey").alias("node_id"), F.col("p_name").alias("name"))
    return linking.fuzzy_link(queries, names, top_k=3)


FUZZY_ORACLE = f"""
WITH q AS (
  SELECT 'x' || substring(p_name, 2) AS query,
         {_NORM.format(c="'x' || substring(p_name, 2)")} AS qnorm
  FROM part WHERE p_partkey <= 5
),
c AS (
  SELECT p_partkey AS node_id, p_name AS name, {_NORM.format(c='p_name')} AS cnorm
  FROM part
),
scored AS (
  SELECT q.query, c.node_id, c.name,
         1.0 - levenshtein(q.qnorm, c.cnorm) / greatest(length(q.qnorm), length(c.cnorm)) AS fuzzy_score
  FROM q JOIN c
    ON length(c.cnorm) >= length(q.qnorm) * 0.5
   AND length(c.cnorm) <= length(q.qnorm) * 1.5
)
SELECT query, node_id, name, fuzzy_score, rank FROM (
  SELECT query, node_id, name, fuzzy_score,
         ROW_NUMBER() OVER (PARTITION BY query ORDER BY fuzzy_score DESC, node_id) AS rank
  FROM scored
) WHERE rank <= 3
"""


def fuzzy_link_token_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J16 token-set leg: queries are the catalog names with words in
    DESCENDING sort order — plain Levenshtein scores them low, token-set
    scores the matching part 1.0 (thefuzz word-order insensitivity)."""
    part = load(spark, sf_dir, "part")
    queries = part.filter(F.col("p_partkey") <= 5).select(
        F.concat_ws(
            " ", F.sort_array(F.split(F.col("p_name"), " "), asc=False)
        ).alias("query")
    )
    names = part.select(F.col("p_partkey").alias("node_id"), F.col("p_name").alias("name"))
    return linking.fuzzy_link(queries, names, top_k=3, scorer="token_set")


def _ts_ratio(x: str, y: str) -> str:
    return (
        f"CASE WHEN length({x}) + length({y}) = 0 THEN 0.0 "
        f"ELSE (length({x}) + length({y}) - levenshtein({x}, {y})) "
        f"/ CAST(length({x}) + length({y}) AS DOUBLE) END"
    )


_TS_TOKS = "list_sort(list_distinct(list_filter(string_split({c}, ' '), t -> t <> '')))"

FUZZY_TOKEN_SET_ORACLE = f"""
WITH q AS (
  SELECT array_to_string(list_sort(string_split(p_name, ' '), 'DESC'), ' ') AS query
  FROM part WHERE p_partkey <= 5
),
qn AS (
  SELECT query, {_NORM.format(c='query')} AS qnorm FROM q
),
c AS (
  SELECT p_partkey AS node_id, p_name AS name, {_NORM.format(c='p_name')} AS cnorm
  FROM part
),
pairs AS (
  SELECT qn.query, c.node_id, c.name,
         {_TS_TOKS.format(c='qn.qnorm')} AS ta,
         {_TS_TOKS.format(c='c.cnorm')} AS tb
  FROM qn JOIN c
    ON length(c.cnorm) >= length(qn.qnorm) * 0.5
   AND length(c.cnorm) <= length(qn.qnorm) * 1.5
),
strs AS (
  SELECT query, node_id, name,
         array_to_string(list_filter(ta, t -> list_contains(tb, t)), ' ') AS s0,
         array_to_string(list_concat(
           list_filter(ta, t -> list_contains(tb, t)),
           list_filter(ta, t -> NOT list_contains(tb, t))), ' ') AS s1,
         array_to_string(list_concat(
           list_filter(ta, t -> list_contains(tb, t)),
           list_filter(tb, t -> NOT list_contains(ta, t))), ' ') AS s2
  FROM pairs
),
scored AS (
  SELECT query, node_id, name,
         greatest({_ts_ratio('s0', 's1')}, {_ts_ratio('s0', 's2')},
                  {_ts_ratio('s1', 's2')}) AS fuzzy_score
  FROM strs
)
SELECT query, node_id, name, fuzzy_score, rank FROM (
  SELECT query, node_id, name, fuzzy_score,
         ROW_NUMBER() OVER (PARTITION BY query ORDER BY fuzzy_score DESC, node_id) AS rank
  FROM scored
) WHERE rank <= 3
"""


# --- J10: entity-context frontier expansion (depth 2) ------------------------

def entity_context_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # FRONTIER PUSHDOWN (round 8): the co-purchase pair table is a derived
    # quadratic expansion the depth-2 traversal from 3 seeds mostly throws
    # away — never build it. Frontier-incident adjacencies come straight
    # from the LINEAR distinct (order, part) table per level: orders holding
    # a frontier part supply (frontier_part -> other part) rows. Per-order
    # part sets are sets (distinct below), so each unordered pair
    # contributes exactly one row per orientation hit — the same multiset
    # the default rel-join path produced from per-order pair rows, hence
    # identical strengths (oracle-pinned).
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pp = li.distinct().select(
        "l_orderkey",
        F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("pk"),
    ).localCheckpoint(eager=False)

    def touching(frontier: DataFrame) -> DataFrame:
        hits = pp.join(
            F.broadcast(frontier.select(F.col("entity_id").alias("pk"))), "pk"
        ).select(F.col("pk").alias("src"), "l_orderkey")
        return (
            hits.join(pp, "l_orderkey")
            .filter(F.col("pk") != F.col("src"))
            .select("src", F.col("pk").alias("dst"))
        )

    part = load(spark, sf_dir, "part")
    seeds = part.filter(F.col("p_partkey") <= 3).select(
        F.concat(F.lit("p"), F.col("p_partkey").cast("string")).alias("entity_id")
    )
    return expand_context(
        None, seeds, max_depth=2, per_node_limit=3, touching_fn=touching
    )


_LEVEL = """
{name}_raw AS (
  SELECT a.dst AS entity_id, a.src AS parent_id, a.strength,
         ROW_NUMBER() OVER (PARTITION BY a.src ORDER BY a.strength DESC, a.dst) AS rn
  FROM adj a JOIN {frontier} f ON a.src = f.entity_id
  WHERE a.dst NOT IN ({visited})
),
{name} AS (
  SELECT entity_id, parent_id, strength FROM (
    SELECT entity_id, parent_id, strength,
           ROW_NUMBER() OVER (PARTITION BY entity_id ORDER BY strength DESC, parent_id) AS rn2
    FROM {name}_raw WHERE rn <= 3
  ) WHERE rn2 = 1
)"""

ENTITY_CONTEXT_ORACLE = f"""
WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
epairs AS (
  SELECT 'p' || CAST(a.l_partkey AS VARCHAR) AS src,
         'p' || CAST(b.l_partkey AS VARCHAR) AS dst
  FROM d a JOIN d b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
adj AS (
  SELECT src, dst, COUNT(*) AS strength FROM (
    SELECT src, dst FROM epairs UNION ALL SELECT dst AS src, src AS dst FROM epairs
  ) GROUP BY src, dst
),
seeds AS (
  SELECT 'p' || CAST(p_partkey AS VARCHAR) AS entity_id FROM part WHERE p_partkey <= 3
),
{_LEVEL.format(name="l1", frontier="seeds", visited="SELECT entity_id FROM seeds")},
{_LEVEL.format(name="l2", frontier="l1",
               visited="SELECT entity_id FROM seeds UNION ALL SELECT entity_id FROM l1")}
SELECT entity_id, CAST(NULL AS VARCHAR) AS parent_id, 0 AS depth, CAST(0 AS BIGINT) AS strength FROM seeds
UNION ALL SELECT entity_id, parent_id, 1 AS depth, strength FROM l1
UNION ALL SELECT entity_id, parent_id, 2 AS depth, strength FROM l2
"""


# --- J9: keyword → entity lookup (exact match, prefix fallback) --------------

def entity_lookup_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9 over parts-as-entities: exact search_str equality first; keywords
    with no exact hit fall back to prefix (STARTS WITH) matching — the
    reference's two-stage resolution (entity_provider.py:24-110)."""
    from graphrag_toolkit_spark.functions.text import search_string

    part = load(spark, sf_dir, "part")
    ents = part.select(
        F.col("p_partkey").alias("entity_id"),
        F.col("p_name").alias("value"),
        search_string(F.col("p_name")).alias("search_str"),
    )
    # keywords: 3 full names (exact hits) + 3 two-word prefixes (fallback)
    full = part.filter(F.col("p_partkey") <= 3).select(
        F.col("p_name").alias("keyword")
    )
    prefix = part.filter((F.col("p_partkey") >= 4) & (F.col("p_partkey") <= 6)).select(
        F.concat_ws(" ", F.split(F.col("p_name"), " ").getItem(0),
                    F.split(F.col("p_name"), " ").getItem(1)).alias("keyword")
    )
    keywords = full.unionByName(prefix)

    # hint only where it applies: kw is the LEFT side of the anti-join (an
    # anti join can't build left — Spark would drop the hint with a warning);
    # the anti-join instead broadcasts its small RIGHT side (exact-hit keys)
    kw = keywords.select(search_string(F.col("keyword")).alias("kw")).distinct()
    exact = ents.join(F.broadcast(kw), ents.search_str == F.col("kw")).select(
        F.col("kw").alias("keyword"), "entity_id", "value",
        F.lit("exact").alias("match_type"),
    ).localCheckpoint(eager=False)  # output union + missed anti-join (tiny)
    missed = kw.join(
        F.broadcast(exact.select(F.col("keyword").alias("kw")).distinct()),
        "kw",
        "left_anti",
    )
    fallback = ents.join(
        F.broadcast(missed), ents.search_str.startswith(F.col("kw"))
    ).select(
        F.col("kw").alias("keyword"), "entity_id", "value",
        F.lit("prefix").alias("match_type"),
    )
    return exact.unionByName(fallback)


ENTITY_LOOKUP_ORACLE = f"""
WITH ents AS (
  SELECT p_partkey AS entity_id, p_name AS value,
         {_NORM.format(c='p_name')} AS search_str
  FROM part
),
kws AS (
  SELECT DISTINCT {_NORM.format(c='keyword')} AS kw FROM (
    SELECT p_name AS keyword FROM part WHERE p_partkey <= 3
    UNION ALL
    SELECT string_split(p_name, ' ')[1] || ' ' || string_split(p_name, ' ')[2]
    FROM part WHERE p_partkey BETWEEN 4 AND 6
  )
),
exact AS (
  SELECT k.kw AS keyword, e.entity_id, e.value, 'exact' AS match_type
  FROM ents e JOIN kws k ON e.search_str = k.kw
),
missed AS (
  SELECT kw FROM kws WHERE kw NOT IN (SELECT keyword FROM exact)
)
SELECT * FROM exact
UNION ALL
SELECT m.kw AS keyword, e.entity_id, e.value, 'prefix' AS match_type
FROM ents e JOIN missed m ON starts_with(e.search_str, m.kw)
"""


# --- T11: ordered dedup (first occurrence wins) ------------------------------

def ordered_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T11 (byokg context accumulation): keep each user's FIRST event of each
    type by insertion order (event_id). Reference: byokg_query_engine.py:101-116."""
    from graphrag_toolkit_spark.operators.processors import ordered_dedup

    ev = load(spark, sf_dir, "events").withColumn(
        "key", F.concat_ws("|", F.col("user_id").cast("string"), F.col("event_type"))
    )
    return ordered_dedup(ev, "key", "event_id").select(
        "user_id", "event_type", "event_id"
    )


ORDERED_DEDUP_ORACLE = """
SELECT user_id, event_type, event_id FROM (
  SELECT user_id, event_type, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY event_id) AS rn
  FROM events
) WHERE rn = 1
"""


# --- truncated Katz centrality ----------------------------------------------

KATZ_ITERS = 6


def katz_centrality_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated Katz index (α=1/2, 6 terms) over the typed-edge graph —
    `centrality.katz_centrality`'s pure-BIGINT message-passing loop, so the
    iterative scores hash-match an unrolled-CTE oracle exactly (no float
    accumulation anywhere). Simple-graph semantics: deduped edges, since
    multi-edges would multiply influence."""
    from graphrag_toolkit_spark.operators import centrality

    return centrality.katz_centrality(
        _triples_long(spark, sf_dir), iters=KATZ_ITERS, alpha_log2=1,
        nodes=_graph_nodes_long(spark, sf_dir),
    ).select(_decode_node("node_id").alias("node_id"), "katz")


def katz_salted_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted twin of `katz_centrality_graph` (`n_salts=8`: edges
    carry a deterministic xxhash64(dst)%8 salt, ranks replicate 8x, the
    per-round join keys on (src, salt) so no partition holds more than
    1/8 of a hub's out-edges). Shares KATZ_ORACLE verbatim — the whole
    point is that salting changes the physical distribution and NOTHING
    about the values (exact integer sums are grouping-order-free)."""
    from graphrag_toolkit_spark.operators import centrality

    return centrality.katz_centrality(
        _triples_long(spark, sf_dir), iters=KATZ_ITERS, alpha_log2=1, n_salts=8,
        nodes=_graph_nodes_long(spark, sf_dir),
    ).select(_decode_node("node_id").alias("node_id"), "katz")


def _katz_oracle() -> str:
    scale = 1 << KATZ_ITERS
    steps = []
    for t in range(1, KATZ_ITERS + 1):
        steps.append(f"""
k{t} AS (
  SELECT n.node_id, {scale} + COALESCE(SUM(p.r), 0) // 2 AS r
  FROM nodes n
  LEFT JOIN e ON e.dst = n.node_id
  LEFT JOIN k{t - 1} p ON p.node_id = e.src
  GROUP BY n.node_id
)""")
    return f"""
WITH e AS ({EDGES_SQL}),
nodes AS (SELECT src AS node_id FROM e UNION SELECT dst FROM e),
k0 AS (SELECT node_id, CAST({scale} AS BIGINT) AS r FROM nodes),
{','.join(steps)}
SELECT node_id, CAST(r AS DOUBLE) / {float(scale)} AS katz FROM k{KATZ_ITERS}
"""


KATZ_ORACLE = _katz_oracle()



PAGERANK_ITERS = 4


def pagerank_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated PageRank (d=0.85, 4 rounds) over the typed-edge graph —
    `centrality.pagerank`'s quantized-decimal message passing: the one
    division per message (rank/out-degree) is rounded to the 6-decimal
    grid immediately, everything else is exact decimal arithmetic, so the
    iterative scores hash-match the unrolled-CTE twin bit-for-bit. Simple
    variant: dangling mass drops. Deduped edges (multi-edges must not
    multiply influence)."""
    from graphrag_toolkit_spark.operators import centrality

    return centrality.pagerank(
        _triples_long(spark, sf_dir), iters=PAGERANK_ITERS,
        nodes=_graph_nodes_long(spark, sf_dir),
    ).select(_decode_node("node_id").alias("node_id"), "pagerank")


def _pagerank_oracle() -> str:
    # mirrors the operator's scaled-integer floor arithmetic: r6 = rank*1e6
    # as BIGINT, message = r6 // deg, update = 150000 + (85*Σm) // 100 —
    # every op integer, so the twin is exact by construction (// on
    # positive BIGINTs is the same floor division as Spark's `div`)
    steps = []
    for t in range(1, PAGERANK_ITERS + 1):
        steps.append(f"""
r{t} AS (
  SELECT n.node_id,
         CAST(150000 + (85 * COALESCE(SUM(p.r6 // d.deg), 0)) // 100
              AS BIGINT) AS r6
  FROM nodes n
  LEFT JOIN e ON e.dst = n.node_id
  LEFT JOIN deg d ON d.src = e.src
  LEFT JOIN r{t - 1} p ON p.node_id = e.src
  GROUP BY n.node_id
)""")
    return f"""
WITH e AS ({EDGES_SQL}),
deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY src),
nodes AS (SELECT src AS node_id FROM e UNION SELECT dst FROM e),
r0 AS (SELECT node_id, CAST(1000000 AS BIGINT) AS r6 FROM nodes),
{','.join(steps)}
SELECT node_id, CAST(r6 AS DOUBLE) / 1000000.0 AS pagerank
FROM r{PAGERANK_ITERS}
"""


PAGERANK_ORACLE = _pagerank_oracle()

PKATZ_ITERS = 4
PKATZ_SEEDS = ["c1", "c2", "c3"]


def personalized_katz_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded Katz propagation from three customers — personalized-PageRank
    analog ranking their order/part/supplier neighborhood; output is
    frontier-sized, exact-integer mass (`centrality.personalized_katz`)."""
    from graphrag_toolkit_spark.operators import centrality

    tags = {"c": 0, "o": 1, "p": 2, "s": 3}
    seeds = lit_table(
        spark, "node_id bigint",
        [{"node_id": int(s[1:]) * 4 + tags[s[0]]} for s in PKATZ_SEEDS],
    )
    return centrality.personalized_katz(
        _triples_long(spark, sf_dir), seeds, iters=PKATZ_ITERS, alpha_log2=1
    ).select(_decode_node("node_id").alias("node_id"), "score")


def _pkatz_oracle() -> str:
    scale = 1 << PKATZ_ITERS
    seed_vals = ", ".join(f"('{s}')" for s in PKATZ_SEEDS)
    steps = []
    for t in range(1, PKATZ_ITERS + 1):
        steps.append(f"""
k{t} AS (
  SELECT COALESCE(s.node_id, m.node_id) AS node_id,
         (CASE WHEN s.node_id IS NOT NULL THEN {scale} ELSE 0 END)
           + COALESCE(m.msum, 0) // 2 AS r
  FROM (SELECT e.dst AS node_id, SUM(p.r) AS msum
        FROM e JOIN k{t - 1} p ON p.node_id = e.src GROUP BY e.dst) m
  FULL OUTER JOIN seeds s ON s.node_id = m.node_id
)""")
    return f"""
WITH e AS ({EDGES_SQL}),
seeds(node_id) AS (VALUES {seed_vals}),
k0 AS (SELECT node_id, CAST({scale} AS BIGINT) AS r FROM seeds),
{','.join(steps)}
SELECT node_id, CAST(r AS DOUBLE) / {float(scale)} AS score FROM k{PKATZ_ITERS}
"""


PKATZ_ORACLE = _pkatz_oracle()


MINSUP = 3


def association_rules_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order→part baskets: every
    directed rule a→b with pair support ≥ MINSUP, plus
    confidence = n_ab/n_a and lift = n_ab·N/(n_a·n_b) — all ratios of
    exact integer counts, so hash-gated. The pair space is the basket
    self-join (quadratic in BASKET size, ~4 items here; the classic
    a<b + per-item-frequency pruning bounds it at scale)."""
    # ONE grouped pass serves all three statistics (guide §2.4): the
    # per-order part-set frame yields the basket count (rows == distinct
    # orderkeys), the item supports (explode of the SET == distinct
    # (order, part) pairs), and the pair counts (_copair_counts expansion)
    # — replacing a second lineitem scan + (order, part) distinct exchange
    # + a count-distinct pass. Values identical: the oracle's bi table is
    # exactly the exploded set.
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    ps = li.groupBy("l_orderkey").agg(F.collect_set("l_partkey").alias("_ps"))
    ps = ps.localCheckpoint(eager=False)  # 3 consumers; count() materializes
    n_baskets = ps.count()
    item = (
        ps.select(F.explode("_ps").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n_i"))
    )
    item = item.localCheckpoint(eager=False)  # both rule directions read it
    pairs = (
        _copair_counts(spark, sf_dir, n_name="n_ab", ps=ps)
        .filter(F.col("n_ab") >= MINSUP)
    )
    na = item.withColumnsRenamed({"l_partkey": "pa", "n_i": "n_a"})
    nb = item.withColumnsRenamed({"l_partkey": "pb", "n_i": "n_b"})
    # per-item support tables grow with the item domain — no hint, AQE picks
    both = pairs.join(na, "pa").join(nb, "pb")
    # fwd + rev both read the joined stats — truncate so the pair join and
    # the copair build under it are planned and executed once (guide §3.3)
    both = both.localCheckpoint(eager=False)
    fwd = both.select(
        F.col("pa").alias("antecedent"), F.col("pb").alias("consequent"),
        "n_ab", F.col("n_a").alias("n_ante"), F.col("n_b").alias("n_cons"),
    )
    rev = both.select(
        F.col("pb").alias("antecedent"), F.col("pa").alias("consequent"),
        "n_ab", F.col("n_b").alias("n_ante"), F.col("n_a").alias("n_cons"),
    )
    rules = fwd.unionByName(rev)
    return rules.select(
        "antecedent", "consequent", "n_ab",
        (F.col("n_ab").cast("double") / F.col("n_ante")).alias("confidence"),
        (
            (F.col("n_ab") * F.lit(n_baskets)).cast("double")
            / (F.col("n_ante") * F.col("n_cons"))
        ).alias("lift"),
    )


ASSOC_ORACLE = f"""
WITH bi AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
nb AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM bi),
item AS (SELECT l_partkey, COUNT(*) AS n_i FROM bi GROUP BY l_partkey),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS n_ab
  FROM bi a JOIN bi b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey HAVING COUNT(*) >= {MINSUP}
),
pairstats AS (
  SELECT p.pa, p.pb, p.n_ab, ia.n_i AS n_a, ib.n_i AS n_b
  FROM pairs p JOIN item ia ON ia.l_partkey = p.pa
  JOIN item ib ON ib.l_partkey = p.pb
),
rules AS (
  SELECT pa AS antecedent, pb AS consequent, n_ab, n_a AS n_ante, n_b AS n_cons FROM pairstats
  UNION ALL
  SELECT pb, pa, n_ab, n_b, n_a FROM pairstats
)
SELECT antecedent, consequent, n_ab,
       CAST(n_ab AS DOUBLE) / n_ante AS confidence,
       CAST(n_ab * nb.n AS DOUBLE) / (n_ante * n_cons) AS lift
FROM rules, nb
"""


TRI_MIN_SHARED = 2


def triangle_count_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the part co-occurrence graph (edges = part
    pairs sharing ≥2 baskets): the canonical a<b<c edge-join enumeration —
    each triangle counted once, no orientation dedup needed. Per-part
    triangle membership + the global total in one result."""
    edges = (
        _copair_counts(spark, sf_dir)
        .filter(F.col("n_shared") >= TRI_MIN_SHARED)
        .select("pa", "pb")
        .localCheckpoint(eager=False)  # all three join legs read it
    )
    e1 = edges
    e2 = edges.select(F.col("pa").alias("pb"), F.col("pb").alias("pc"))
    e3 = edges.select("pa", F.col("pb").alias("pc"))
    tri = (
        e1.join(e2, "pb")
        .join(e3, ["pa", "pc"])
        .select("pa", "pb", "pc")
    )
    return tri.agg(F.count(F.lit(1)).alias("n_triangles"))


TRIANGLE_ORACLE = f"""
WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM d a JOIN d b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY pa, pb HAVING COUNT(*) >= {TRI_MIN_SHARED}
)
SELECT COUNT(*) AS n_triangles
FROM edges e1
JOIN edges e2 ON e2.pa = e1.pb
JOIN edges e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
"""


WKATZ_ITERS = 4


def weighted_katz_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge-weighted Katz over the order→part multigraph: weight = how
    many lineitems carry the edge, so heavily-reordered parts accumulate
    proportionally more mass. Integer weights preserve the power-of-two
    divisibility — weighted iterative scores stay hash-exact."""
    from graphrag_toolkit_spark.operators import centrality

    li = load(spark, sf_dir, "lineitem")
    edges = (
        li.groupBy(
            F.concat(F.lit("o"), F.col("l_orderkey").cast("string")).alias("src"),
            F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    return centrality.katz_centrality(
        edges, iters=WKATZ_ITERS, alpha_log2=1, weight_col="w"
    )


def _wkatz_oracle() -> str:
    scale = 1 << WKATZ_ITERS
    steps = []
    for t in range(1, WKATZ_ITERS + 1):
        steps.append(f"""
k{t} AS (
  SELECT n.node_id, {scale} + COALESCE(SUM(e.w * p.r), 0) // 2 AS r
  FROM nodes n
  LEFT JOIN e ON e.dst = n.node_id
  LEFT JOIN k{t - 1} p ON p.node_id = e.src
  GROUP BY n.node_id
)""")
    return f"""
WITH e AS (
  SELECT 'o' || CAST(l_orderkey AS VARCHAR) AS src,
         'p' || CAST(l_partkey AS VARCHAR) AS dst,
         COUNT(*) AS w
  FROM lineitem GROUP BY src, dst
),
nodes AS (SELECT src AS node_id FROM e UNION SELECT dst FROM e),
k0 AS (SELECT node_id, CAST({scale} AS BIGINT) AS r FROM nodes),
{','.join(steps)}
SELECT node_id, CAST(r AS DOUBLE) / {float(scale)} AS katz FROM k{WKATZ_ITERS}
"""


WKATZ_ORACLE = _wkatz_oracle()




KCORE_K = 3
KCORE_ROUNDS = 3


def kcore_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling (`centrality.kcore_peel`) on the part co-occurrence
    graph: 3 synchronous peel rounds at k=3 — the dense-subgraph extractor
    (community cores, spam-ring detection). Fixed round count keeps the
    state oracle-expressible; the operator loops to a fixpoint in
    production."""
    from graphrag_toolkit_spark.operators.centrality import kcore_peel

    edges = _copurchase_edges(spark, sf_dir, TRI_MIN_SHARED)
    return kcore_peel(edges, k=KCORE_K, rounds=KCORE_ROUNDS)


def _kcore_round_sql(n: int) -> str:
    p = n - 1
    return f"""
deg{n} AS (
  SELECT node, COUNT(*) AS degree FROM (
    SELECT pa AS node FROM e{p} UNION ALL SELECT pb AS node FROM e{p}
  ) GROUP BY node
),
keep{n} AS (SELECT node FROM deg{n} WHERE degree >= {{k}}),
e{n} AS (
  SELECT e.pa, e.pb FROM e{p} e
  JOIN keep{n} ka ON ka.node = e.pa
  JOIN keep{n} kb ON kb.node = e.pb
)"""


KCORE_ORACLE = ("""
WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e0 AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM d a JOIN d b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY pa, pb
  HAVING COUNT(*) >= """ + str(TRI_MIN_SHARED) + """
),""" + ",".join(
    _kcore_round_sql(i) for i in range(1, KCORE_ROUNDS + 1)
).format(k=KCORE_K) + f"""
SELECT node, degree FROM (
  SELECT node, COUNT(*) AS degree FROM (
    SELECT pa AS node FROM e{KCORE_ROUNDS}
    UNION ALL SELECT pb AS node FROM e{KCORE_ROUNDS}
  ) GROUP BY node
)
""")




def clustering_coefficient_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient on the part co-occurrence graph:
    coeff(v) = 2·triangles(v) / (deg(v)·(deg(v)−1)) for deg ≥ 2 — the
    community-density signal per node. Triangles come from the same
    canonical a<b<c edge-join enumeration as `triangle_count_parts`, each
    crediting its three corners; the division is one exact-operand double
    ratio."""
    edges = (
        _copair_counts(spark, sf_dir)
        .filter(F.col("n_shared") >= TRI_MIN_SHARED)
        .select("pa", "pb")
    )
    edges = edges.localCheckpoint(eager=True)
    deg = (
        edges.select(F.col("pa").alias("node"))
        .unionByName(edges.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    e2 = edges.select(F.col("pa").alias("pb"), F.col("pb").alias("pc"))
    e3 = edges.select("pa", F.col("pb").alias("pc"))
    tri = edges.join(e2, "pb").join(e3, ["pa", "pc"]).select("pa", "pb", "pc")
    tri_per_node = (
        tri.select(F.col("pa").alias("node"))
        .unionByName(tri.select(F.col("pb").alias("node")))
        .unionByName(tri.select(F.col("pc").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return (
        deg.filter(F.col("degree") >= 2)
        .join(tri_per_node, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles"),
            (
                (2 * F.coalesce(F.col("triangles"), F.lit(0))).cast("double")
                / (F.col("degree") * (F.col("degree") - 1)).cast("double")
            ).alias("coeff"),
        )
    )


CLUSTERING_COEFF_ORACLE = f"""
WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM d a JOIN d b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY pa, pb
  HAVING COUNT(*) >= {TRI_MIN_SHARED}
),
deg AS (
  SELECT node, COUNT(*) AS degree FROM (
    SELECT pa AS node FROM edges UNION ALL SELECT pb AS node FROM edges
  ) GROUP BY node
),
tri AS (
  SELECT e1.pa, e1.pb, e2.pb AS pc
  FROM edges e1
  JOIN edges e2 ON e2.pa = e1.pb
  JOIN edges e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
),
tpn AS (
  SELECT node, COUNT(*) AS triangles FROM (
    SELECT pa AS node FROM tri UNION ALL SELECT pb AS node FROM tri
    UNION ALL SELECT pc AS node FROM tri
  ) GROUP BY node
)
SELECT d.node, d.degree,
       CAST(COALESCE(t.triangles, 0) AS BIGINT) AS triangles,
       CAST(2 * COALESCE(t.triangles, 0) AS DOUBLE)
         / CAST(d.degree * (d.degree - 1) AS DOUBLE) AS coeff
FROM deg d LEFT JOIN tpn t ON t.node = d.node
WHERE d.degree >= 2
"""




def clustering_spectrum_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering spectrum c(k): average local clustering per degree class
    — the hierarchical-structure probe next to `degree_distribution_parts`
    (c(k) ~ k^-1 marks hierarchical modularity, flat c(k) marks
    ER-like/synthetic graphs; Ravasz & Barabasi 2003).

    EXACTNESS: within a degree class the coefficient denominator
    k(k-1) is CONSTANT, so the mean coefficient equals
    2*SUM(triangles) / (n_k * k * (k-1)) — integer sums only, one final
    exact-operand double division; no double ever gets summed across the
    engine boundary.

    Scale shape: one extra degree-keyed aggregate over the per-node
    clustering table (wedge budget already paid there)."""
    per_node = clustering_coefficient_parts(spark, sf_dir)
    g = per_node.groupBy("degree").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.sum("triangles").cast("bigint").alias("total_triangles"),
    )
    return g.select(
        "degree", "n_nodes", "total_triangles",
        (
            (2 * F.col("total_triangles")).cast("double")
            / (
                F.col("n_nodes")
                * F.col("degree").cast("bigint")
                * (F.col("degree") - 1).cast("bigint")
            ).cast("double")
        ).alias("c_k"),
    )


CLUSTERING_SPECTRUM_ORACLE = f"""
WITH per_node AS ({CLUSTERING_COEFF_ORACLE})
SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(SUM(triangles) AS BIGINT) AS total_triangles,
       CAST(2 * SUM(triangles) AS DOUBLE)
         / CAST(COUNT(*) * CAST(degree AS BIGINT)
                * CAST(degree - 1 AS BIGINT) AS DOUBLE) AS c_k
FROM per_node GROUP BY degree
"""


def degree_distribution_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-distribution power-law fit of the part co-occurrence graph:
    ln(#nodes with degree k) regressed on ln(k) — the scale-free-ness
    diagnostic (γ ≈ 2-3 for natural graphs; flat slopes flag synthetic or
    truncated graphs). Closed-form least squares over grid-quantized log
    points, moment sums in exact DECIMAL (the zipf_fit discipline on graph
    degrees)."""
    edges = (
        _copair_counts(spark, sf_dir, n_name="ns")
        .filter(F.col("ns") >= TRI_MIN_SHARED)
    )
    deg = (
        edges.select(F.col("pa").alias("node"))
        .unionByName(edges.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    dist = deg.groupBy("k").agg(F.count(F.lit(1)).alias("n_k"))
    lnq = lambda c: F.round(F.log(c.cast("double")), 6).cast("decimal(12,6)")
    pts = dist.select(lnq(F.col("k")).alias("x"), lnq(F.col("n_k")).alias("y"))
    m = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(28,12)")).alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(28,12)")).alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    sxy = F.col("sxy").cast("double")
    return m.select(
        F.col("n").alias("n_points"),
        ((n * sxy - sx * sy) / (n * sxx - sx * sx)).alias("slope"),
        ((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n).alias(
            "intercept"
        ),
    )


DEGREE_DISTRIBUTION_ORACLE = f"""
WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM d a JOIN d b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY pa, pb
  HAVING COUNT(*) >= {TRI_MIN_SHARED}
),
deg AS (
  SELECT node, COUNT(*) AS k FROM (
    SELECT pa AS node FROM edges UNION ALL SELECT pb AS node FROM edges
  ) GROUP BY node
),
dist AS (SELECT k, COUNT(*) AS n_k FROM deg GROUP BY k),
pts AS (
  SELECT CAST(ROUND(ln(CAST(k AS DOUBLE)), 6) AS DECIMAL(12,6)) AS x,
         CAST(ROUND(ln(CAST(n_k AS DOUBLE)), 6) AS DECIMAL(12,6)) AS y
  FROM dist
),
m AS (
  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(CAST(x * x AS DECIMAL(28,12))) AS sxx,
         SUM(CAST(x * y AS DECIMAL(28,12))) AS sxy
  FROM pts
)
SELECT n AS n_points,
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         AS slope,
       (CAST(sy AS DOUBLE)
        - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
          * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept
FROM m
"""


HITS_ITERS = 3


def hits_scores_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities over the typed-edge graph
    (`centrality.hits`): max-normalized scaled-integer iteration, so the
    bipartite-ish customer→order→part→supplier chain separates cleanly —
    customers are pure hubs, suppliers pure authorities. Hash-gated
    against an unrolled-CTE twin with identical BIGINT floor arithmetic.
    Operator dedups edges internally, so the lineitem-branch distincts
    are skipped (dedup=False)."""
    from graphrag_toolkit_spark.operators import centrality

    return centrality.hits(
        _triples_long(spark, sf_dir, dedup=False), iters=HITS_ITERS,
        nodes=_graph_nodes_long(spark, sf_dir),
    ).select(_decode_node("node_id").alias("node_id"), "hub", "authority")


def _hits_oracle() -> str:
    # mirrors centrality.hits exactly: s6 = score*1e6 as BIGINT; each
    # half-round raw = Σ incoming s6 (0 for isolated sides), then
    # s6 = raw // greatest(1, (max_raw + 999999) // 1e6) — all-integer
    # floor ops, exact by construction in both engines.
    # MATERIALIZED is load-bearing: each raw CTE is referenced twice (the
    # scalar MAX + the rescale); DuckDB inlines plain CTEs, which doubles
    # the whole upstream pipeline per half-round — 2^8 plan copies.
    steps = []
    for t in range(1, HITS_ITERS + 1):
        steps.append(f"""
rawa{t} AS MATERIALIZED (
  SELECT n.node_id, CAST(COALESCE(SUM(h.s6), 0) AS BIGINT) AS raw
  FROM nodes n
  LEFT JOIN e ON e.dst = n.node_id
  LEFT JOIN h{t - 1} h ON h.node_id = e.src
  GROUP BY n.node_id
),
a{t} AS MATERIALIZED (
  SELECT node_id, raw // GREATEST(1,
    ((SELECT MAX(raw) FROM rawa{t}) + 999999) // 1000000) AS s6
  FROM rawa{t}
),
rawh{t} AS MATERIALIZED (
  SELECT n.node_id, CAST(COALESCE(SUM(a.s6), 0) AS BIGINT) AS raw
  FROM nodes n
  LEFT JOIN e ON e.src = n.node_id
  LEFT JOIN a{t} a ON a.node_id = e.dst
  GROUP BY n.node_id
),
h{t} AS MATERIALIZED (
  SELECT node_id, raw // GREATEST(1,
    ((SELECT MAX(raw) FROM rawh{t}) + 999999) // 1000000) AS s6
  FROM rawh{t}
)""")
    return f"""
WITH e AS (SELECT src, dst FROM ({EDGES_SQL})),
nodes AS (SELECT src AS node_id FROM e UNION SELECT dst FROM e),
h0 AS (SELECT node_id, CAST(1000000 AS BIGINT) AS s6 FROM nodes),
{','.join(steps)}
SELECT h.node_id,
       CAST(h.s6 AS DOUBLE) / 1000000.0 AS hub,
       CAST(a.s6 AS DOUBLE) / 1000000.0 AS authority
FROM h{HITS_ITERS} h JOIN a{HITS_ITERS} a USING (node_id)
"""


HITS_ORACLE = _hits_oracle()


MODULARITY_MIN_SHARED = 2


def modularity_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity (`centrality.modularity`) of the brand partition
    over the part co-purchase graph (parts sharing >= MODULARITY_MIN_SHARED
    orders): does brand structure show up in what's bought together?
    One-row exact-integer statistics + a single-division Q."""
    from graphrag_toolkit_spark.operators import centrality

    edges = _copurchase_edges(spark, sf_dir, MODULARITY_MIN_SHARED)
    assign = load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("node_id"), F.col("p_brand").alias("community")
    )
    return centrality.modularity(edges, assign)


MODULARITY_ORACLE = f"""
WITH bi AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS MATERIALIZED (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM bi a JOIN bi b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY pa, pb HAVING COUNT(*) >= {MODULARITY_MIN_SHARED}
),
ea AS MATERIALIZED (
  SELECT ca.p_brand AS ca, cb.p_brand AS cb
  FROM e JOIN part ca ON e.pa = ca.p_partkey
         JOIN part cb ON e.pb = cb.p_partkey
),
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM ea),
inside AS (
  SELECT CAST(COALESCE(SUM(e_c), 0) AS BIGINT) AS sum_ec FROM (
    SELECT CAST(COUNT(*) AS BIGINT) AS e_c FROM ea WHERE ca = cb GROUP BY ca
  )
),
degsq AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
         CAST(COALESCE(SUM(d_c * d_c), 0) AS BIGINT) AS sum_dsq
  FROM (
    SELECT c, CAST(COUNT(*) AS BIGINT) AS d_c FROM (
      SELECT ca AS c FROM ea UNION ALL SELECT cb FROM ea
    ) GROUP BY c
  )
)
SELECT m, n_communities,
       CAST(4 * m * sum_ec - sum_dsq AS BIGINT) AS q_num,
       CAST(4 * m * m AS BIGINT) AS q_den,
       CASE WHEN m > 0
            THEN CAST(4 * m * sum_ec - sum_dsq AS DOUBLE)
                 / CAST(4 * m * m AS DOUBLE)
            END AS modularity
FROM m, inside, degsq
"""


def conductance_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-community conductance (`centrality.conductance`) of the brand
    partition over the part co-purchase graph — the per-community
    localization of `modularity_parts`' one global Q: WHICH brands form
    well-separated co-purchase clusters (low φ) and which leak (φ→1).
    Exact-BIGINT cut/volume counts + one exact-operand division per row."""
    from graphrag_toolkit_spark.operators import centrality

    edges = _copurchase_edges(spark, sf_dir, MODULARITY_MIN_SHARED)
    assign = load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("node_id"), F.col("p_brand").alias("community")
    )
    return centrality.conductance(edges, assign).orderBy("community")


CONDUCTANCE_ORACLE = f"""
WITH bi AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS MATERIALIZED (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM bi a JOIN bi b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY pa, pb HAVING COUNT(*) >= {MODULARITY_MIN_SHARED}
),
ea AS MATERIALIZED (
  SELECT ca.p_brand AS ca, cb.p_brand AS cb
  FROM e JOIN part ca ON e.pa = ca.p_partkey
         JOIN part cb ON e.pb = cb.p_partkey
),
vol AS (
  SELECT c, CAST(COUNT(*) AS BIGINT) AS vol FROM (
    SELECT ca AS c FROM ea UNION ALL SELECT cb FROM ea
  ) GROUP BY c
),
cut AS (
  SELECT c, CAST(COUNT(*) AS BIGINT) AS cut FROM (
    SELECT ca AS c FROM ea WHERE ca <> cb
    UNION ALL SELECT cb FROM ea WHERE ca <> cb
  ) GROUP BY c
),
tot AS (SELECT CAST(2 * COUNT(*) AS BIGINT) AS vol_total FROM ea),
comms AS (SELECT DISTINCT p_brand AS c FROM part)
SELECT m.c AS community, CAST(COALESCE(v.vol, 0) AS BIGINT) AS vol,
       CAST(COALESCE(t.cut, 0) AS BIGINT) AS cut,
       CASE WHEN LEAST(COALESCE(v.vol, 0),
                       tot.vol_total - COALESCE(v.vol, 0)) > 0
            THEN CAST(COALESCE(t.cut, 0) AS DOUBLE)
                 / CAST(LEAST(v.vol, tot.vol_total - v.vol) AS DOUBLE)
            END AS conductance
FROM comms m LEFT JOIN vol v ON m.c = v.c LEFT JOIN cut t ON m.c = t.c, tot
ORDER BY community
"""


def harmonic_2hop_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius-2 harmonic centrality (`centrality.harmonic_2hop`) over the
    part co-purchase graph: exact 1-hop/2-hop reach with Boldi–Vigna 1/d
    weighting — the exact-count companion to `neighborhood_sizes_parts`'
    HLL estimates. All-integer until one final division by 2 (exact in
    binary)."""
    from graphrag_toolkit_spark.operators import centrality

    edges = _copurchase_edges(spark, sf_dir, MODULARITY_MIN_SHARED)
    return centrality.harmonic_2hop(edges).orderBy("node_id")


HARMONIC_2HOP_ORACLE = f"""
WITH bi AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS MATERIALIZED (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM bi a JOIN bi b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY pa, pb HAVING COUNT(*) >= {MODULARITY_MIN_SHARED}
),
und AS MATERIALIZED (
  SELECT pa AS v, pb AS w FROM e UNION ALL SELECT pb, pa FROM e
),
n1 AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS n1 FROM und GROUP BY v),
two AS (
  SELECT u, CAST(COUNT(*) AS BIGINT) AS n2 FROM (
    SELECT DISTINCT a.v AS u, b.w AS t
    FROM und a JOIN und b ON a.w = b.v
    WHERE a.v <> b.w
      AND NOT EXISTS (SELECT 1 FROM und d WHERE d.v = a.v AND d.w = b.w)
  ) GROUP BY u
)
SELECT n1.v AS node_id, n1.n1,
       CAST(COALESCE(two.n2, 0) AS BIGINT) AS n2,
       CAST(2 * n1.n1 + COALESCE(two.n2, 0) AS DOUBLE) / 2.0 AS harmonic_2hop
FROM n1 LEFT JOIN two ON n1.v = two.u
ORDER BY node_id
"""


KNOCKOUT_TOP_N = 10


def hub_knockout_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Network-robustness audit: connectivity of the part co-purchase
    graph BEFORE and AFTER removing the top-N highest-degree hubs
    (ties to the smaller node id) — the targeted-attack test from
    percolation theory: a scale-free network shatters under hub removal
    while staying robust to random failure. Per scenario: live nodes,
    surviving edges, component count, and the largest component's size
    (star connected components, the O(log n)-round 100 TB algorithm).

    Scale shape: degrees from one aggregate; the knockout is two
    broadcast anti-joins; BOTH scenarios ride ONE grouped star-CC loop
    (scenario in every round key), so the loop runs max — not sum — of
    the two scenarios' round counts and each round's two shuffles serve
    both graphs at once."""
    from graphrag_toolkit_spark.operators import dedup

    edges = (
        _copair_counts(spark, sf_dir)
        .filter(F.col("n_shared") >= MODULARITY_MIN_SHARED)
        .select(F.col("pa").alias("id_a"), F.col("pb").alias("id_b"))
        .localCheckpoint(eager=True)  # degree + both scenario legs read it
    )
    deg = (
        edges.select(F.col("id_a").alias("v"))
        .unionByName(edges.select(F.col("id_b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # top-N hubs via orderBy().limit() → distributed TakeOrderedAndProject
    # (per-partition heaps, N-row driver merge) — no single-partition sort
    hubs = (
        deg.orderBy(F.desc("deg"), F.asc("v")).limit(KNOCKOUT_TOP_N).select("v")
    )
    knocked = edges.join(
        F.broadcast(hubs.withColumnsRenamed({"v": "id_a"})), "id_a", "left_anti"
    ).join(
        F.broadcast(hubs.withColumnsRenamed({"v": "id_b"})), "id_b", "left_anti"
    )
    tagged = (
        edges.withColumn("scenario", F.lit("full"))
        .unionByName(knocked.withColumn("scenario", F.lit("knocked")))
        .localCheckpoint(eager=True)  # CC seed + labels tail + edge counts
    )
    labels = dedup.connected_components(tagged, group_col="scenario")
    per_scenario = (
        labels.groupBy("scenario", "component")
        .agg(F.count(F.lit(1)).alias("sz"))
        .groupBy("scenario")
        .agg(
            F.sum("sz").cast("long").alias("n_nodes"),
            F.count(F.lit(1)).cast("long").alias("n_components"),
            F.max("sz").cast("long").alias("largest"),
        )
    )
    edge_counts = tagged.groupBy("scenario").agg(
        F.count(F.lit(1)).cast("long").alias("n_edges")
    )
    # a 2-row literal seed keeps the one-row-per-scenario contract even for
    # an empty scenario graph (the old per-scenario scalar aggregates always
    # emitted a row: NULL n_nodes/largest, zero counts)
    scenarios = lit_table(
        spark, "scenario string", [("full",), ("knocked",)]
    )
    # no broadcast hints: both aggregate sides are 2 rows at runtime and AQE
    # picks the broadcast itself (hinting a groupBy("scenario") table would
    # need a BOUNDED_AGG_KEYS entry for the audit to prove it bounded)
    return (
        scenarios.join(per_scenario, "scenario", "left")
        .join(edge_counts, "scenario", "left")
        .select(
            "scenario",
            "n_nodes",
            F.coalesce("n_edges", F.lit(0)).cast("long").alias("n_edges"),
            F.coalesce("n_components", F.lit(0)).cast("long").alias("n_components"),
            "largest",
        )
        .orderBy("scenario")
    )


HUB_KNOCKOUT_ORACLE = f"""
WITH RECURSIVE bi AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS MATERIALIZED (
  SELECT a.l_partkey AS id_a, b.l_partkey AS id_b
  FROM bi a JOIN bi b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= {MODULARITY_MIN_SHARED}
),
deg AS (
  SELECT v, COUNT(*) AS deg FROM (
    SELECT id_a AS v FROM e UNION ALL SELECT id_b FROM e
  ) GROUP BY v
),
hubs AS (
  SELECT v FROM (
    SELECT v, ROW_NUMBER() OVER (ORDER BY deg DESC, v) AS r FROM deg
  ) WHERE r <= {KNOCKOUT_TOP_N}
),
ek AS MATERIALIZED (
  SELECT id_a, id_b FROM e
  WHERE id_a NOT IN (SELECT v FROM hubs) AND id_b NOT IN (SELECT v FROM hubs)
),
und_f AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM e UNION ALL SELECT id_b, id_a FROM e
),
reach_f(id, r) AS (
  SELECT src, src FROM und_f
  UNION
  SELECT u.id, x.dst FROM reach_f u JOIN und_f x ON x.src = u.r
),
cc_f AS (SELECT id, MIN(r) AS comp FROM reach_f GROUP BY id),
sizes_f AS (SELECT comp, CAST(COUNT(*) AS BIGINT) AS sz FROM cc_f GROUP BY comp),
und_k AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM ek UNION ALL SELECT id_b, id_a FROM ek
),
reach_k(id, r) AS (
  SELECT src, src FROM und_k
  UNION
  SELECT u.id, x.dst FROM reach_k u JOIN und_k x ON x.src = u.r
),
cc_k AS (SELECT id, MIN(r) AS comp FROM reach_k GROUP BY id),
sizes_k AS (SELECT comp, CAST(COUNT(*) AS BIGINT) AS sz FROM cc_k GROUP BY comp)
SELECT 'full' AS scenario,
       CAST((SELECT SUM(sz) FROM sizes_f) AS BIGINT) AS n_nodes,
       CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
       CAST((SELECT COUNT(*) FROM sizes_f) AS BIGINT) AS n_components,
       CAST((SELECT MAX(sz) FROM sizes_f) AS BIGINT) AS largest
UNION ALL
SELECT 'knocked',
       CAST((SELECT SUM(sz) FROM sizes_k) AS BIGINT),
       CAST((SELECT COUNT(*) FROM ek) AS BIGINT),
       CAST((SELECT COUNT(*) FROM sizes_k) AS BIGINT),
       CAST((SELECT MAX(sz) FROM sizes_k) AS BIGINT)
ORDER BY scenario
"""


RICH_CLUB_KS = (2, 4, 8, 16)


def rich_club_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient φ(k) of the part co-purchase graph at degree
    thresholds {2,4,8,16}: among nodes with degree > k, the realized
    fraction of possible edges — φ rising with k means the hubs form a
    tightly interconnected club (supply-chain cores, celebrity cliques),
    a structure degree distributions alone cannot see. Exact integers
    (E_k edge count, N_k(N_k−1)/2 possible) + one division per row.

    Scale shape: ONE pass decides every threshold — degrees join onto the
    edge list once and a single conditional aggregate counts, per k, the
    edges whose BOTH endpoints exceed k (set-identical to the previous
    per-k semi-join legs: an edge survives the k-semi-joins iff
    deg_a > k AND deg_b > k); the node counts n_k come from one
    conditional aggregate over the degree table. The k's are a 4-row
    constant, so the one-row wide result explodes back to the 4-row
    output in-row — 2 joins + 2 aggregates total instead of 8 semi-joins
    + 8 aggregates re-deriving the degree table per leg."""
    edges = (
        _copair_counts(spark, sf_dir)
        .filter(F.col("n_shared") >= MODULARITY_MIN_SHARED)
        .select(F.col("pa").alias("a"), F.col("pb").alias("b"))
    )
    edges = edges.localCheckpoint(eager=False)  # degree + the e_k join read it
    deg = (
        edges.select(F.col("a").alias("v"))
        .unionByName(edges.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    deg = deg.localCheckpoint(eager=False)  # n_k agg + both e_k join sides
    # the degree table grows with the graph (no hint); AQE broadcasts the
    # join sides while they fit
    ek_row = (
        edges.join(deg.withColumnsRenamed({"v": "a", "deg": "dega"}), "a")
        .join(deg.withColumnsRenamed({"v": "b", "deg": "degb"}), "b")
        .agg(
            *[
                # coalesce: COUNT over the old empty semi-join leg was 0,
                # SUM over zero rows is NULL — keep the count semantics
                F.coalesce(
                    F.sum(
                        ((F.col("dega") > k) & (F.col("degb") > k)).cast("long")
                    ),
                    F.lit(0),
                ).cast("long").alias(f"e_{k}")
                for k in RICH_CLUB_KS
            ]
        )
    )
    nk_row = deg.agg(
        *[
            F.coalesce(
                F.sum((F.col("deg") > k).cast("long")), F.lit(0)
            ).cast("long").alias(f"n_{k}")
            for k in RICH_CLUB_KS
        ]
    )
    wide = nk_row.crossJoin(F.broadcast(ek_row))
    out = wide.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).cast("long").alias("k"),
                        F.col(f"n_{k}").alias("n_k"),
                        F.col(f"e_{k}").alias("e_k"),
                    )
                    for k in RICH_CLUB_KS
                ]
            )
        ).alias("s")
    ).select(
        F.col("s.k").alias("k"),
        F.col("s.n_k").alias("n_k"),
        F.col("s.e_k").alias("e_k"),
        F.when(
            F.col("s.n_k") >= 2,
            (2 * F.col("s.e_k")).cast("double")
            / (F.col("s.n_k") * (F.col("s.n_k") - 1)).cast("double"),
        ).alias("phi"),
    )
    return out.orderBy("k")


RICH_CLUB_ORACLE = f"""
WITH bi AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS MATERIALIZED (
  SELECT a.l_partkey AS a, b.l_partkey AS b
  FROM bi a JOIN bi b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= {MODULARITY_MIN_SHARED}
),
deg AS MATERIALIZED (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS deg FROM (
    SELECT a AS v FROM e UNION ALL SELECT b FROM e
  ) GROUP BY v
),
ks AS (SELECT unnest([{", ".join(str(k) for k in RICH_CLUB_KS)}]) AS k),
stats AS (
  SELECT ks.k,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM deg WHERE deg > ks.k) AS n_k,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM e
          JOIN deg da ON da.v = e.a AND da.deg > ks.k
          JOIN deg db ON db.v = e.b AND db.deg > ks.k) AS e_k
  FROM ks
)
SELECT CAST(k AS BIGINT) AS k, n_k, e_k,
       CASE WHEN n_k >= 2
            THEN CAST(2 * e_k AS DOUBLE) / CAST(n_k * (n_k - 1) AS DOUBLE)
       END AS phi
FROM stats
ORDER BY k
"""


WPAGERANK_ITERS = 4


def weighted_pagerank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge-weighted PageRank (`centrality.pagerank` with ``weight_col``)
    over the order→part multigraph — rank splits by lineitem multiplicity, the
    weighted twin of `pagerank_graph` (same scaled-integer floor loop,
    one extra integer multiply per message)."""
    from graphrag_toolkit_spark.operators import centrality

    li = load(spark, sf_dir, "lineitem")
    # BIGINT node ids for the loop (see _triples_long), decoded at the end
    edges = li.groupBy(
        (F.col("l_orderkey").cast("long") * 4 + 1).alias("src"),
        (F.col("l_partkey").cast("long") * 4 + 2).alias("dst"),
    ).agg(F.count(F.lit(1)).alias("w"))
    return centrality.pagerank(
        edges, iters=WPAGERANK_ITERS, weight_col="w"
    ).select(_decode_node("node_id").alias("node_id"), "pagerank")


def _wpagerank_oracle() -> str:
    steps = []
    for t in range(1, WPAGERANK_ITERS + 1):
        steps.append(f"""
r{t} AS (
  SELECT n.node_id,
         CAST(150000 + (85 * COALESCE(SUM((e.w * p.r6) // t.tw), 0)) // 100
              AS BIGINT) AS r6
  FROM nodes n
  LEFT JOIN e ON e.dst = n.node_id
  LEFT JOIN tot t ON t.src = e.src
  LEFT JOIN r{t - 1} p ON p.node_id = e.src
  GROUP BY n.node_id
)""")
    return f"""
WITH e AS (
  SELECT 'o' || CAST(l_orderkey AS VARCHAR) AS src,
         'p' || CAST(l_partkey AS VARCHAR) AS dst,
         CAST(COUNT(*) AS BIGINT) AS w
  FROM lineitem GROUP BY 1, 2
),
tot AS (SELECT src, CAST(SUM(w) AS BIGINT) AS tw FROM e GROUP BY src),
nodes AS (SELECT src AS node_id FROM e UNION SELECT dst FROM e),
r0 AS (SELECT node_id, CAST(1000000 AS BIGINT) AS r6 FROM nodes),
{','.join(steps)}
SELECT node_id, CAST(r6 AS DOUBLE) / 1000000.0 AS pagerank
FROM r{WPAGERANK_ITERS}
"""


WPAGERANK_ORACLE = _wpagerank_oracle()


KTRUSS_K = 3
KTRUSS_ROUNDS = 2


def ktruss_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-truss peel (`centrality.ktruss_peel`, k=3, 2 synchronous rounds)
    over the part co-purchase graph: surviving edges must sit in ≥ 1
    triangle among survivors — the edge-cohesion filter next to
    `kcore_parts`; output (a, b, support), hash-gated against the
    unrolled wedge-join twin."""
    from graphrag_toolkit_spark.operators import centrality

    edges = _copurchase_edges(spark, sf_dir, MODULARITY_MIN_SHARED)
    return centrality.ktruss_peel(edges, k=KTRUSS_K, rounds=KTRUSS_ROUNDS)


def _ktruss_oracle() -> str:
    sup = """
  SELECT e.a, e.b, CAST(COALESCE(s.n, 0) AS BIGINT) AS support
  FROM {E} e LEFT JOIN (
    SELECT w.a, w.b, COUNT(*) AS n FROM (
      SELECT e.a, e.b, u.w AS x
      FROM {E} e JOIN (
        SELECT a AS v, b AS w FROM {E} UNION ALL SELECT b, a FROM {E}
      ) u ON u.v = e.a
      WHERE u.w <> e.b
    ) w
    WHERE EXISTS (
      SELECT 1 FROM (
        SELECT a AS v, b AS w FROM {E} UNION ALL SELECT b, a FROM {E}
      ) u2 WHERE u2.v = w.b AND u2.w = w.x
    )
    GROUP BY w.a, w.b
  ) s ON s.a = e.a AND s.b = e.b
"""
    parts = [f"""
e0 AS MATERIALIZED (
  SELECT pa AS a, pb AS b FROM ep
)"""]
    for t in range(1, KTRUSS_ROUNDS + 1):
        parts.append(f"""
s{t} AS MATERIALIZED ({sup.format(E=f'e{t - 1}')}),
e{t} AS MATERIALIZED (
  SELECT a, b FROM s{t} WHERE support >= {KTRUSS_K - 2}
)""")
    return f"""
WITH bi AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
ep AS MATERIALIZED (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM bi a JOIN bi b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= {MODULARITY_MIN_SHARED}
),
{','.join(parts)},
final AS ({sup.format(E=f'e{KTRUSS_ROUNDS}')})
SELECT a, b, support FROM final
"""


KTRUSS_ORACLE = _ktruss_oracle()


LPA_ITERS = 3


def label_propagation_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic label-propagation communities
    (`centrality.label_propagation`, min-label tie-break) over the part
    co-purchase graph — the detection op whose output `modularity`
    scores; 3 synchronous rounds, hash-gated against the unrolled window
    twin."""
    from graphrag_toolkit_spark.operators import centrality

    edges = _copurchase_edges(spark, sf_dir, MODULARITY_MIN_SHARED)
    return centrality.label_propagation(edges, iters=LPA_ITERS)


def _lpa_oracle() -> str:
    steps = []
    for t in range(1, LPA_ITERS + 1):
        steps.append(f"""
l{t} AS MATERIALIZED (
  SELECT n.node_id, COALESCE(b.label, n.node_id) AS label
  FROM nodes n LEFT JOIN (
    SELECT v AS node_id, label FROM (
      SELECT u.v, l.label, COUNT(*) AS n,
             ROW_NUMBER() OVER (PARTITION BY u.v
                                ORDER BY COUNT(*) DESC, l.label ASC) AS rn
      FROM und u JOIN l{t - 1} l ON u.w = l.node_id
      GROUP BY u.v, l.label
    ) WHERE rn = 1
  ) b ON b.node_id = n.node_id
)""")
    return f"""
WITH bi AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
ep AS MATERIALIZED (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM bi a JOIN bi b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= {MODULARITY_MIN_SHARED}
),
und AS MATERIALIZED (
  SELECT pa AS v, pb AS w FROM ep UNION ALL SELECT pb, pa FROM ep
),
nodes AS MATERIALIZED (SELECT DISTINCT v AS node_id FROM und),
l0 AS (SELECT node_id, node_id AS label FROM nodes),
{','.join(steps)}"""


LPA_ORACLE = _lpa_oracle() + f"\nSELECT node_id, label FROM l{LPA_ITERS}"


def community_rollup_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph coarsening: contract the part co-purchase graph to its
    label-propagation communities — the supergraph edge list
    (community pair, original-edge count) plus the diagonal
    (intra-community edges). Coarsening is how iterative graph algorithms
    scale past memory (run the expensive pass on the community-sized
    supergraph, project back); one label join per endpoint + one count
    aggregate after the LPA rounds."""
    from graphrag_toolkit_spark.operators import centrality

    edges = _copurchase_edges(spark, sf_dir, MODULARITY_MIN_SHARED)
    labels = centrality.label_propagation(edges, iters=LPA_ITERS)
    la = labels.select(F.col("node_id").alias("src"), F.col("label").alias("la"))
    lb = labels.select(F.col("node_id").alias("dst"), F.col("label").alias("lb"))
    return (
        edges.join(la, "src")
        .join(lb, "dst")
        .select(
            F.least("la", "lb").alias("ca"),
            F.greatest("la", "lb").alias("cb"),
        )
        .groupBy("ca", "cb")
        .agg(F.count(F.lit(1)).alias("n_edges"))
        .orderBy("ca", "cb")
    )


COMMUNITY_ROLLUP_ORACLE = _lpa_oracle() + f""",
labels AS MATERIALIZED (SELECT node_id, label FROM l{LPA_ITERS})
SELECT LEAST(la.label, lb.label) AS ca,
       GREATEST(la.label, lb.label) AS cb,
       CAST(COUNT(*) AS BIGINT) AS n_edges
FROM ep
JOIN labels la ON ep.pa = la.node_id
JOIN labels lb ON ep.pb = lb.node_id
GROUP BY 1, 2
ORDER BY ca, cb
"""


def neighborhood_sizes_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperBall-style per-node ball-size estimates
    (`centrality.neighborhood_sizes`) over the part co-purchase graph:
    every part's 1-hop and 2-hop neighborhood cardinality from m=64 HLL
    registers merged along edges — deterministic md5 registers, so even
    this sketch hash-gates against the SQL twin."""
    from graphrag_toolkit_spark.operators import centrality

    edges = _copurchase_edges(spark, sf_dir, MODULARITY_MIN_SHARED)
    return centrality.neighborhood_sizes(edges)


NEIGHBORHOOD_ORACLE = f"""
WITH bi AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
ep AS MATERIALIZED (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM bi a JOIN bi b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= {MODULARITY_MIN_SHARED}
),
nodes AS MATERIALIZED (SELECT pa AS n FROM ep UNION SELECT pb FROM ep),
und AS MATERIALIZED (
  SELECT pa AS v, pb AS w FROM ep
  UNION SELECT pb, pa FROM ep
  UNION SELECT n, n FROM nodes
),
wh AS MATERIALIZED (
  SELECT n AS w, hv % 64 AS idx,
         CAST(CASE WHEN hv // 64 > 0 THEN 46 - (length(bin(hv // 64)) - 1)
                   ELSE 47 END AS INT) AS rank
  FROM (
    SELECT n, CAST('0x' || substring(md5(CAST(n AS VARCHAR)), 1, 13) AS BIGINT)
             AS hv
    FROM nodes
  )
),
r1 AS MATERIALIZED (
  SELECT u.v, h.idx, CAST(MAX(h.rank) AS INT) AS reg
  FROM und u JOIN wh h ON u.w = h.w GROUP BY u.v, h.idx
),
r2 AS MATERIALIZED (
  SELECT u.v, r.idx, CAST(MAX(r.reg) AS INT) AS reg
  FROM und u JOIN r1 r ON u.w = r.v GROUP BY u.v, r.idx
),
e1 AS (
  SELECT v, CASE WHEN raw <= 160.0 AND v0 > 0
                 THEN ROUND(64.0 * ln(64.0 / v0), 6) ELSE raw END AS est_1hop
  FROM (
    SELECT v,
           0.709 * 4096.0 / ((64 - COUNT(*))
             + SUM(1.0 / CAST(CAST(1 AS BIGINT) << reg AS DOUBLE))) AS raw,
           64 - COUNT(*) AS v0
    FROM r1 GROUP BY v
  )
),
e2 AS (
  SELECT v, CASE WHEN raw <= 160.0 AND v0 > 0
                 THEN ROUND(64.0 * ln(64.0 / v0), 6) ELSE raw END AS est_2hop
  FROM (
    SELECT v,
           0.709 * 4096.0 / ((64 - COUNT(*))
             + SUM(1.0 / CAST(CAST(1 AS BIGINT) << reg AS DOUBLE))) AS raw,
           64 - COUNT(*) AS v0
    FROM r2 GROUP BY v
  )
)
SELECT e1.v AS node_id, e1.est_1hop, e2.est_2hop
FROM e1 JOIN e2 ON e1.v = e2.v
"""


def assortativity_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (`centrality.degree_assortativity`) of the part
    co-purchase graph — do high-degree parts pair with each other or with
    tail parts? One-row exact-BIGINT statistics, symmetric-estimator form
    (no sqrt)."""
    from graphrag_toolkit_spark.operators import centrality

    edges = _copair_counts(spark, sf_dir).select(
        F.col("pa").alias("src"), F.col("pb").alias("dst")
    )
    return centrality.degree_assortativity(edges)


ASSORTATIVITY_ORACLE = """
WITH bi AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
  FROM bi a JOIN bi b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
deg AS MATERIALIZED (
  SELECT n, CAST(COUNT(*) AS BIGINT) AS d FROM (
    SELECT a AS n FROM e UNION ALL SELECT b FROM e
  ) GROUP BY n
),
ed AS (
  SELECT da.d AS da, db.d AS db
  FROM e JOIN deg da ON e.a = da.n JOIN deg db ON e.b = db.n
),
agg AS (
  SELECT CAST(2 * COUNT(*) AS BIGINT) AS m,
         CAST(SUM(da + db) AS BIGINT) AS sx,
         CAST(2 * SUM(da * db) AS BIGINT) AS sxy,
         CAST(SUM(da * da + db * db) AS BIGINT) AS sxx
  FROM ed
)
SELECT m, sx, sxy, sxx,
       CASE WHEN m * sxx - sx * sx <> 0
            THEN CAST(m * sxy - sx * sx AS DOUBLE)
                 / CAST(m * sxx - sx * sx AS DOUBLE)
            END AS assortativity
FROM agg
"""


LINKPRED_MIN_COMMON = 1


def _part_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The co-occurrence edge list shared by triangle/k-core/link-pred:
    part pairs (pa < pb) appearing together in ≥ TRI_MIN_SHARED orders."""
    return (
        _copair_counts(spark, sf_dir)
        .filter(F.col("n_shared") >= TRI_MIN_SHARED)
        .select("pa", "pb")
    )


_EDGES_CTE = f"""
WITH bi AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS MATERIALIZED (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM bi a JOIN bi b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= {TRI_MIN_SHARED}
),
und AS (SELECT pa AS u, pb AS v FROM e UNION ALL SELECT pb, pa FROM e)
"""


def link_prediction_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the part co-occurrence graph: non-adjacent pairs
    at distance 2 scored by common-neighbor count, Jaccard, and
    preferential attachment (operators/linkpred.py). The wedge join is the
    only quadratic-ish stage and is bounded by the edge threshold; scores
    are exact ints plus one IEEE division, so the hash gate is exact."""
    from graphrag_toolkit_spark.operators.linkpred import link_prediction

    scored = link_prediction(
        _part_edges(spark, sf_dir), min_common=LINKPRED_MIN_COMMON
    )
    return scored.orderBy(F.desc("common_neighbors"), "node_u", "node_v")


LINKPRED_ORACLE = _EDGES_CTE + f""",
deg AS MATERIALIZED (
  SELECT u AS n, CAST(COUNT(*) AS BIGINT) AS d FROM und GROUP BY u
),
cn AS (
  SELECT a.u AS cu, b.v AS cv, CAST(COUNT(*) AS BIGINT) AS common_neighbors
  FROM und a JOIN und b ON a.v = b.u AND a.u < b.v
  GROUP BY 1, 2 HAVING COUNT(*) >= {LINKPRED_MIN_COMMON}
),
cand AS (
  SELECT * FROM cn
  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.pa = cn.cu AND e.pb = cn.cv)
)
SELECT cu AS node_u, cv AS node_v, common_neighbors,
       CAST(common_neighbors AS DOUBLE) / (du.d + dv.d - common_neighbors)
         AS jaccard,
       du.d * dv.d AS pref_attachment
FROM cand
JOIN deg du ON cand.cu = du.n
JOIN deg dv ON cand.cv = dv.n
ORDER BY common_neighbors DESC, node_u, node_v
"""


WALK_LENGTH = 3


def random_walks_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic random-walk corpus over the part co-occurrence graph
    (operators/linkpred.py): one walk per node, 3 hops, next hop chosen by
    an engine-portable md5 pick (hash mod degree indexes into the id-sorted
    adjacency). The node2vec-style sampling stage of a graph-embedding
    pipeline, reproducible across partitionings — the oracle replays the
    identical hash arithmetic hop by hop."""
    from graphrag_toolkit_spark.operators.linkpred import random_walks

    walks = random_walks(
        _part_edges(spark, sf_dir), walk_length=WALK_LENGTH, salt="walk"
    )
    return walks.orderBy("start", "step", "node")


def _walks_cte() -> str:
    """CTE chain ending in relation ``walks(start, step, node)`` — the
    hop-by-hop replay of operators/linkpred.random_walks' hash arithmetic."""
    pick = (
        "CAST('0x' || substring(md5('walk|' || CAST({src}.start AS VARCHAR)"
        " || '|{step}|' || CAST({src}.node AS VARCHAR)), 1, 7) AS BIGINT)"
    )
    steps = []
    prev = "w0"
    for s in range(1, WALK_LENGTH + 1):
        steps.append(
            f"w{s} AS (SELECT {prev}.start, adj.v AS node"
            f" FROM {prev} JOIN adj ON adj.u = {prev}.node"
            f" WHERE {pick.format(src=prev, step=s)} % adj.deg = adj.idx)"
        )
        prev = f"w{s}"
    selects = " UNION ALL ".join(
        f"SELECT start, {s} AS step, node FROM w{s}"
        for s in range(0, WALK_LENGTH + 1)
    )
    return (
        _EDGES_CTE
        + """,
adj AS MATERIALIZED (
  SELECT u, v,
         CAST(ROW_NUMBER() OVER (PARTITION BY u ORDER BY v) - 1 AS BIGINT)
           AS idx,
         CAST(COUNT(*) OVER (PARTITION BY u) AS BIGINT) AS deg
  FROM und
),
w0 AS (SELECT DISTINCT u AS start, u AS node FROM und),
"""
        + ",\n".join(steps)
        + f",\nwalks AS (SELECT * FROM ({selects}))"
    )


WALKS_ORACLE = _walks_cte() + "\nSELECT * FROM walks ORDER BY start, step, node"


SKIPGRAM_WINDOW = 2


def walk_skipgram_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeepWalk/node2vec skip-gram training pairs from the deterministic
    walk corpus: (center, context) node pairs within ±SKIPGRAM_WINDOW steps
    on the same walk, aggregated to pair counts — the co-occurrence table a
    graph-embedding trainer consumes. One self-join keyed on the walk id
    (start), bounded by walk length, then an exact count aggregate."""
    from graphrag_toolkit_spark.operators.linkpred import random_walks

    walks = random_walks(
        _part_edges(spark, sf_dir), walk_length=WALK_LENGTH, salt="walk"
    )
    a = walks.select("start", F.col("step").alias("sa"), F.col("node").alias("center"))
    b = walks.select("start", F.col("step").alias("sb"), F.col("node").alias("context"))
    return (
        a.join(b, "start")
        .filter(
            (F.col("sb") > F.col("sa"))
            & (F.col("sb") - F.col("sa") <= SKIPGRAM_WINDOW)
        )
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy(F.desc("n_pairs"), "center", "context")
    )


SKIPGRAM_ORACLE = _walks_cte() + f"""
SELECT a.node AS center, b.node AS context, CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM walks a JOIN walks b
  ON a.start = b.start AND b.step > a.step
 AND b.step - a.step <= {SKIPGRAM_WINDOW}
GROUP BY 1, 2
ORDER BY n_pairs DESC, center, context
"""


def node_features_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GNN feature engineering over the part co-occurrence graph: per-node
    structural features — degree, min/max/mean neighbor degree (mean is one
    double division of exact ints), and the exact 2-hop ball size (distinct
    nodes within distance ≤ 2, excluding the node). The neighbor-degree
    pass is one equi-join against the k-row degree table; the 2-hop count
    is the wedge join deduped per node — the same bounded frontier shape
    every sampling-based GNN loader (GraphSAGE et al.) materializes."""
    edges = _part_edges(spark, sf_dir)
    und = (
        edges.select(F.col("pa").alias("u"), F.col("pb").alias("v"))
        .unionByName(edges.select(F.col("pb").alias("u"), F.col("pa").alias("v")))
        .localCheckpoint(eager=False)  # deg + nb + both wedge sides read it
    )
    deg = (
        und.groupBy("u")
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint(eager=False)  # neighbor-degree join + final spine
    )
    dv = deg.select(F.col("u").alias("v"), F.col("deg").alias("deg_v"))
    nb = (
        und.join(dv, "v")
        .groupBy("u")
        .agg(
            F.min("deg_v").alias("min_nb_deg"),
            F.max("deg_v").alias("max_nb_deg"),
            F.sum("deg_v").alias("sum_nb_deg"),
        )
    )
    two_hop = (
        und.select("u", "v")
        .unionByName(
            und.select(F.col("u").alias("cu"), F.col("v").alias("x"))
            .join(
                und.select(F.col("u").alias("x"), F.col("v").alias("cv")),
                "x",
            )
            .select(F.col("cu").alias("u"), F.col("cv").alias("v"))
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .groupBy("u")
        .agg(F.count(F.lit(1)).alias("n_within_2hops"))
    )
    return (
        deg.join(nb, "u")
        .join(two_hop, "u")
        .select(
            F.col("u").alias("node"),
            "deg",
            "min_nb_deg",
            "max_nb_deg",
            (F.col("sum_nb_deg").cast("double") / F.col("deg")).alias(
                "mean_nb_deg"
            ),
            "n_within_2hops",
        )
        .orderBy("node")
    )


NODE_FEATURES_ORACLE = _EDGES_CTE + """,
deg AS MATERIALIZED (
  SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM und GROUP BY u
),
nb AS (
  SELECT und.u,
         MIN(d.deg) AS min_nb_deg,
         MAX(d.deg) AS max_nb_deg,
         CAST(SUM(d.deg) AS BIGINT) AS sum_nb_deg
  FROM und JOIN deg d ON und.v = d.u
  GROUP BY und.u
),
two_hop AS (
  SELECT u, CAST(COUNT(*) AS BIGINT) AS n_within_2hops FROM (
    SELECT u, v FROM und
    UNION
    SELECT a.u, b.v FROM und a JOIN und b ON a.v = b.u
  ) WHERE u <> v GROUP BY u
)
SELECT deg.u AS node, deg.deg, nb.min_nb_deg, nb.max_nb_deg,
       CAST(nb.sum_nb_deg AS DOUBLE) / deg.deg AS mean_nb_deg,
       two_hop.n_within_2hops
FROM deg JOIN nb ON deg.u = nb.u JOIN two_hop ON deg.u = two_hop.u
ORDER BY node
"""


QUERIES = {
    "link_prediction_parts": link_prediction_parts,
    "random_walks_parts": random_walks_parts,
    "walk_skipgram_parts": walk_skipgram_parts,
    "node_features_parts": node_features_parts,
    "community_rollup_parts": community_rollup_parts,
    "kcore_parts": kcore_parts,
    "hits_scores_graph": hits_scores_graph,
    "modularity_parts": modularity_parts,
    "assortativity_parts": assortativity_parts,
    "weighted_pagerank_parts": weighted_pagerank_parts,
    "neighborhood_sizes_parts": neighborhood_sizes_parts,
    "label_propagation_parts": label_propagation_parts,
    "ktruss_parts": ktruss_parts,
    "clustering_coefficient_parts": clustering_coefficient_parts,
    "clustering_spectrum_parts": clustering_spectrum_parts,
    "degree_distribution_parts": degree_distribution_parts,
    "bfs_shortest_paths": bfs_shortest_paths,
    "katz_centrality_graph": katz_centrality_graph,
    "katz_salted_graph": katz_salted_graph,
    "pagerank_graph": pagerank_graph,
    "personalized_katz_graph": personalized_katz_graph,
    "weighted_katz_parts": weighted_katz_parts,
    "association_rules_parts": association_rules_parts,
    "triangle_count_parts": triangle_count_parts,
    "entity_lookup_parts": entity_lookup_parts,
    "ordered_dedup_events": ordered_dedup_events,
    "metapath_follow": metapath_follow,
    "merge_verbalize_orders": merge_verbalize_orders,
    "node_degree": node_degree,
    "part_cooccurrence": part_cooccurrence,
    "topn_part_neighbors": topn_part_neighbors,
    "fuzzy_link_parts": fuzzy_link_parts,
    "fuzzy_link_token_set": fuzzy_link_token_set,
    "entity_context_parts": entity_context_parts,
    "conductance_parts": conductance_parts,
    "rich_club_parts": rich_club_parts,
    "hub_knockout_parts": hub_knockout_parts,
    "harmonic_2hop_parts": harmonic_2hop_parts,
}

ORACLES = {
    "link_prediction_parts": LINKPRED_ORACLE,
    "random_walks_parts": WALKS_ORACLE,
    "walk_skipgram_parts": SKIPGRAM_ORACLE,
    "node_features_parts": NODE_FEATURES_ORACLE,
    "community_rollup_parts": COMMUNITY_ROLLUP_ORACLE,
    "kcore_parts": KCORE_ORACLE,
    "clustering_coefficient_parts": CLUSTERING_COEFF_ORACLE,
    "clustering_spectrum_parts": CLUSTERING_SPECTRUM_ORACLE,
    "degree_distribution_parts": DEGREE_DISTRIBUTION_ORACLE,
    "bfs_shortest_paths": BFS_ORACLE,
    "katz_centrality_graph": KATZ_ORACLE,
    "katz_salted_graph": KATZ_ORACLE,
    "pagerank_graph": PAGERANK_ORACLE,
    "hits_scores_graph": HITS_ORACLE,
    "modularity_parts": MODULARITY_ORACLE,
    "conductance_parts": CONDUCTANCE_ORACLE,
    "rich_club_parts": RICH_CLUB_ORACLE,
    "hub_knockout_parts": HUB_KNOCKOUT_ORACLE,
    "harmonic_2hop_parts": HARMONIC_2HOP_ORACLE,
    "assortativity_parts": ASSORTATIVITY_ORACLE,
    "weighted_pagerank_parts": WPAGERANK_ORACLE,
    "neighborhood_sizes_parts": NEIGHBORHOOD_ORACLE,
    "label_propagation_parts": LPA_ORACLE,
    "ktruss_parts": KTRUSS_ORACLE,
    "personalized_katz_graph": PKATZ_ORACLE,
    "association_rules_parts": ASSOC_ORACLE,
    "triangle_count_parts": TRIANGLE_ORACLE,
    "weighted_katz_parts": WKATZ_ORACLE,
    "entity_lookup_parts": ENTITY_LOOKUP_ORACLE,
    "ordered_dedup_events": ORDERED_DEDUP_ORACLE,
    "metapath_follow": METAPATH_ORACLE,
    "merge_verbalize_orders": VERBALIZE_ORACLE,
    "node_degree": DEGREE_ORACLE,
    "part_cooccurrence": COOCCURRENCE_ORACLE,
    "topn_part_neighbors": TOPN_NEIGHBORS_ORACLE,
    "fuzzy_link_parts": FUZZY_ORACLE,
    "fuzzy_link_token_set": FUZZY_TOKEN_SET_ORACLE,
    "entity_context_parts": ENTITY_CONTEXT_ORACLE,
}
