"""Physical-plan shape assertions (the scale contract, SCALE.md).

Correctness tests prove the numbers; these prove the PLAN — that filters reach
the parquet scan, projections prune columns, dimension sides broadcast, top-k
avoids a global sort, and per-group windows cost exactly one shuffle. A plan
regression here is a 100 TB performance bug even while sf0.01 stays green.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from graphrag_toolkit_spark.filters import (
    Condition,
    MetadataFilter,
    MetadataFilters,
    Op,
    to_column,
)
from graphrag_toolkit_spark.operators import bfs, vss
from graphrag_toolkit_spark.planguard import plan_of
from graphrag_toolkit_spark.session import load
from graphrag_toolkit_spark.workload import relational


def read_schemas(plan: str) -> list[set[str]]:
    """Column-name sets of every parquet scan's ReadSchema in a formatted plan."""
    out = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        fields = [f.split(":")[0].strip() for f in m.group(1).split(",") if f]
        out.append(set(fields))
    return out


def test_q1_pushes_filter_and_prunes_columns(spark, sf_dir):
    plan = plan_of(relational.q1_pricing_summary(spark, sf_dir))
    # the shipdate predicate must reach the parquet reader, not a post-scan Filter
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert pushed and "l_shipdate" in pushed.group(1)
    # projection pruning: the scan reads only the 7 referenced columns
    (scan_cols,) = read_schemas(plan)
    assert scan_cols == {
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax", "l_shipdate",
    }
    # partial (map-side) aggregation before the exchange: both HashAggregate
    # halves present, and the whole pipeline stays JVM-side (no Python eval)
    assert len(re.findall(r"\bHashAggregate\b", plan)) >= 2
    assert "EvalPython" not in plan


def test_q3_broadcasts_dim_and_uses_topk(spark, sf_dir):
    plan = plan_of(relational.q3_shipping_priority(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # ORDER BY + LIMIT 10 compiles to per-partition top-k merge, never a
    # global sort of the aggregate output
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan


def test_q5_six_way_join_broadcasts_all_dims(spark, sf_dir):
    plan = plan_of(relational.q5_local_supplier_volume(spark, sf_dir))
    # customer, supplier, nation, region all ride broadcast joins; only the
    # lineitem ⋈ orders spine may shuffle
    assert len(re.findall(r"\bBroadcastHashJoin\b", plan)) >= 4
    assert len(re.findall(r"\bSortMergeJoin\b", plan)) <= 1


def test_pushable_disjunction_reaches_scan(spark, sf_dir):
    # an OR of source-expressible predicates pushes as one Or(...) filter
    tree = MetadataFilters(
        condition=Condition.OR,
        filters=[
            MetadataFilter("o_orderstatus", Op.EQ, "O"),
            MetadataFilter("o_totalprice", Op.GT, 150000.0),
        ],
    )
    orders = load(spark, sf_dir, "orders")
    plan = plan_of(orders.filter(to_column(tree)).select("o_orderkey"))
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert pushed and "Or(" in pushed.group(1)


def test_filter_tree_prunes_columns_and_stays_jvm(spark, sf_dir):
    # the full tree contains TEXT_MATCH_INSENSITIVE (lower(col) CONTAINS) —
    # not source-expressible, so it must become a codegen'd post-scan Filter
    # with the scan still pruned to the referenced columns, and no Python eval
    plan = plan_of(relational.filter_tree_orders(spark, sf_dir))
    (scan_cols,) = read_schemas(plan)
    assert scan_cols == {
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    }
    assert re.search(r"\(\d+\) Filter", plan)
    assert "EvalPython" not in plan


def test_topn_window_costs_one_shuffle_with_partial_limit(spark, sf_dir):
    plan = plan_of(relational.topn_orders_per_customer(spark, sf_dir))
    # exactly one hash exchange on the grouping key…
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "hashpartitioning" in plan
    # …and rank-limit pushdown trims each map partition to the top-N BEFORE
    # the shuffle (WindowGroupLimit below the Exchange) — at 100 TB this is
    # the difference between shuffling N rows/group and shuffling everything
    exch = plan.index("+- Exchange")
    assert "WindowGroupLimit" in plan[exch:]


def test_vss_topk_no_global_sort_no_udf(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    qv = [1.0] * len(emb.select("embedding").first()[0])
    plan = plan_of(vss.top_k(emb, qv, id_col="vec_id", k=10))
    # brute-force cosine is a narrow scored scan + TakeOrdered merge
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan
    # the cosine is a JVM higher-order-function expression, not a Python UDF
    assert "EvalPython" not in plan


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """SCALE.md's co-location claim, proven on the plan: two tables bucketed
    on the join key with equal bucket counts sort-merge-join with NO Exchange
    on either side — the shape that makes repeated whole-graph traversal
    joins affordable at cluster scale."""
    from graphrag_toolkit_spark.sources.sink import write_bucketed

    stmts = spark.range(0, 1000).select(
        F.concat(F.lit("s"), F.col("id").cast("string")).alias("statement_id"),
        (F.col("id") % 7).alias("topic"),
    )
    facts = spark.range(0, 3000).select(
        F.concat(F.lit("s"), (F.col("id") % 1000).cast("string")).alias(
            "statement_id"
        ),
        F.col("id").alias("fact_id"),
    )
    # disable auto-broadcast so a non-bucketed join WOULD shuffle both sides
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed(stmts, "t_stmts_b", "statement_id", 8, sort_col="statement_id")
        write_bucketed(facts, "t_facts_b", "statement_id", 8, sort_col="statement_id")
        joined = spark.table("t_stmts_b").join(spark.table("t_facts_b"), "statement_id")
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # neither side re-shuffles
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_stmts_b")
        spark.sql("DROP TABLE IF EXISTS t_facts_b")


def test_one_hop_broadcasts_frontier(spark):
    triples = spark.createDataFrame(
        [("a", "r", "b"), ("b", "r", "c")], "src string, rel string, dst string"
    )
    frontier = spark.createDataFrame([("a",)], "node_id string")
    plan = plan_of(bfs.one_hop(triples, frontier))
    # the frontier (small side) broadcasts into a hash join — the triples
    # table never sort-merge-shuffles (its only exchange would be the tiny
    # frontier dedup, which is fine at any scale)
    assert "BroadcastExchange" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_fuzzy_link_blocks_on_length_bucket_not_nested_loop(spark):
    """J16 blocking contract: the length guard must NOT become a broadcast
    nested-loop theta-join (O(|mentions|x|catalog|) at corpus scale). The
    bucket equi-join carries the candidates; the guard is a post-filter."""
    from graphrag_toolkit_spark.operators.linking import fuzzy_link

    queries = spark.range(500).select(
        F.concat(F.lit("mention "), F.col("id")).alias("query")
    )
    names = spark.range(5000).select(
        F.col("id").alias("node_id"),
        F.concat(F.lit("catalog entry "), F.col("id")).alias("name"),
    )
    plan = plan_of(fuzzy_link(queries, names))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # candidate generation is a hash equi-join on the bucket key
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_embedding_neardup_lsh_is_bucket_equijoin(spark):
    """The declared corpus-scale near-dup path must pair rows through the
    LSH bucket equi-join — never a cartesian/all-pairs stage."""
    from graphrag_toolkit_spark.operators import dedup

    emb = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.rand(seed=i) - 0.5) for i in range(8)]).alias("embedding"),
    )
    plan = plan_of(
        dedup.embedding_near_dup_pairs_lsh(emb, "vec_id", "embedding", 0.9, dim=8)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_repetition_stats_shuffle_free(spark, sf_dir):
    """Quality signals must ride the scan: one narrow projection, zero
    Exchange — the 100 TB contract for per-doc text statistics."""
    from graphrag_toolkit_spark.operators import textstats

    docs = load(spark, sf_dir, "documents")
    plan = plan_of(textstats.repetition_stats(docs, "text", "doc_id", widen=False))
    assert "Exchange" not in plan
    schemas = read_schemas(plan)
    assert schemas and all(s <= {"doc_id", "text"} for s in schemas)


def test_decontamination_broadcasts_eval_side(spark, sf_dir):
    """The eval shingle set (MBs) must broadcast; the corpus must never be
    on the build side or in a nested-loop pair stage."""
    from graphrag_toolkit_spark.operators import decontam, sampling

    docs = load(spark, sf_dir, "documents")
    b = sampling.hash_bucket(F.col("doc_id"))
    plan = plan_of(
        decontam.contamination(
            docs.filter(b >= 1000), docs.filter(b < 1000), "text", "doc_id", n=4
        )
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_pq_encode_narrow_and_adc_distributed_topk(spark):
    """PQ encode = one shuffle-free projection (codebook is literals);
    the ADC scan ends in TakeOrderedAndProject, not a global-sort or a
    single-partition window over the corpus."""
    from graphrag_toolkit_spark import fixtures
    from graphrag_toolkit_spark.operators import pq

    emb = spark.createDataFrame(
        [
            {"vec_id": i, "embedding": fixtures.pseudo_embedding(f"pqp{i}", 16)}
            for i in range(50)
        ]
    )
    cb = pq.codebook_first_c(emb, "vec_id", "embedding", n_sub=4, n_cent=8)
    enc_plan = plan_of(pq.encode(emb, cb, widen=False))
    assert "Exchange" not in enc_plan
    q = fixtures.pseudo_embedding("pqp-query", 16)
    adc_plan = plan_of(pq.adc_topk(pq.encode(emb, cb), q, cb, k=5))
    assert "TakeOrderedAndProject" in adc_plan


def test_span_dedup_no_pair_theta_join_no_python(spark, sf_dir):
    """Exact-substring dedup must stay a gram-equi-join + per-doc windows:
    no nested-loop token⋈interval stage, no cartesian corpus pair stage,
    and everything JVM-side (oracle-critical md5/window arithmetic)."""
    from graphrag_toolkit_spark.operators import spans

    docs = load(spark, sf_dir, "documents")
    for df in (
        spans.duplicated_span_coverage(docs, "text", "doc_id", n=6),
        spans.scrub_duplicated_spans(docs, "text", "doc_id", n=6),
    ):
        plan = plan_of(df)
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        assert "EvalPython" not in plan


def test_shard_corpus_single_shuffle(spark, sf_dir):
    """Shard assignment is a narrow map; the per-shard sequence window is
    the ONE shuffle (partitioned by shard, never a global sort)."""
    from graphrag_toolkit_spark.operators import sampling

    docs = load(spark, sf_dir, "documents")
    plan = plan_of(sampling.shard_corpus(docs, "doc_id", 16))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "hashpartitioning(shard" in plan
    assert "rangepartitioning" not in plan
    assert "EvalPython" not in plan


def test_bm25_broadcasts_stats_and_stays_jvm(spark, sf_dir):
    """BM25: the query-term table broadcasts (no shuffle of the token
    table to join it), no nested-loop anywhere, no Python in the plan."""
    from graphrag_toolkit_spark.operators.tfidf import bm25_scores
    from graphrag_toolkit_spark.workload.vector import TFIDF_QUERY

    docs = load(spark, sf_dir, "documents")
    plan = plan_of(bm25_scores(docs, TFIDF_QUERY, "text", "doc_id"))
    assert "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_tokenize_is_shuffle_free(spark, sf_dir):
    """Term frequencies are row-local (sorted-array run lengths), so the
    tokenizer must contain ZERO Exchange beyond the optional widen
    repartition — at corpus scale an explode+groupBy tokenizer shuffles the
    entire token table for keys that were never split across partitions."""
    from graphrag_toolkit_spark.operators.tfidf import tokenize

    docs = load(spark, sf_dir, "documents")
    plan = plan_of(tokenize(docs, "text", "doc_id", widen=False))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_word_entropy_shuffle_free(spark, sf_dir):
    """Per-doc entropy is a row-local fold over sorted-run term frequencies:
    zero Exchange, zero Python — the explode+groupBy+re-join shape this
    replaced shuffled the token corpus twice."""
    from graphrag_toolkit_spark.operators import textstats

    docs = load(spark, sf_dir, "documents")
    plan = plan_of(textstats.word_entropy(docs, "text", "doc_id"))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_tfidf_one_shuffle_fused_norm_dot(spark, sf_dir):
    """TF-IDF scoring end-to-end: the only Exchanges allowed are the widen
    repartition and the single id-grouped aggregate that computes norm AND
    dot in one pass (plus AQE's view of them) — the norms⋈dots re-join
    shape would show a third shuffle. Pins the r1→r3 bench drift from
    recurring."""
    import re

    from graphrag_toolkit_spark.operators.tfidf import tfidf_cosine_scores
    from graphrag_toolkit_spark.workload.vector import TFIDF_QUERY

    docs = load(spark, sf_dir, "documents")
    plan = plan_of(
        tfidf_cosine_scores(docs, TFIDF_QUERY, "text", "doc_id", quantize=6)
    )
    # shuffles: widen repartition + one hash-partitioning for the fused agg
    n_shuffles = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_shuffles <= 2, f"fused norm+dot regressed: {n_shuffles} hash shuffles"
    assert "EvalPython" not in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_scorers_build_without_jobs(spark, sf_dir, jobs_submitted):
    """Building a TF-IDF or BM25 score frame, or a rerank over one, submits
    no Spark job: the corpus statistics are scalar subqueries that run
    inside the caller's action."""
    from graphrag_toolkit_spark.operators.tfidf import (
        bm25_scores,
        rerank_by_tfidf,
        tfidf_cosine_scores,
    )
    from graphrag_toolkit_spark.workload.vector import TFIDF_QUERY

    docs = load(spark, sf_dir, "documents")
    flat = docs.select(
        F.col("doc_id").cast("string").alias("statement_id"),
        F.col("text").alias("value"),
        F.lit(1.0).alias("score"),
    )
    builds = {
        "tfidf": lambda: tfidf_cosine_scores(docs, TFIDF_QUERY, "text", "doc_id"),
        "tfidf quantized": lambda: tfidf_cosine_scores(
            docs, TFIDF_QUERY, "text", "doc_id", quantize=6
        ),
        "bm25": lambda: bm25_scores(docs, TFIDF_QUERY, "text", "doc_id"),
        "rerank": lambda: rerank_by_tfidf(flat, TFIDF_QUERY),
    }
    for name, build in builds.items():
        assert jobs_submitted(build) == 0, name


def test_training_pipeline_single_relational_plan(spark, sf_dir):
    """The composed export pipeline must stay one relational Catalyst plan:
    no Python eval, no cartesian products, and the anti-join for
    decontamination present as a hash/broadcast join."""
    from graphrag_toolkit_spark.workload.dataprep import training_data_pipeline

    plan = plan_of(training_data_pipeline(spark, sf_dir))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan


def test_validate_row_local_rules_single_scan(spark, sf_dir):
    """All row-local rules fuse into ONE aggregate over ONE orders scan
    (unique/fk legs add their own, but the conditional counts must not
    multiply the input)."""
    from graphrag_toolkit_spark.operators import validate as V

    orders = load(spark, sf_dir, "orders")
    rules = [
        V.not_null("o_orderkey"),
        V.in_set("o_orderstatus", ["O", "F", "P"]),
        V.in_range("o_totalprice", 0.0, 1_000_000.0),
    ]
    plan = plan_of(V.validate(orders, rules))
    assert len(read_schemas(plan)) == 1
    assert "EvalPython" not in plan


def _rank_edges(spark):
    """The 500-edge, 50-node graph the rank-family plan and job tests use,
    with integer weights ``id % 3 + 1``."""
    return spark.range(500).selectExpr(
        "cast(id % 50 as string) src",
        "cast((id * 7) % 50 as string) dst",
        "id % 3 + 1 as w",
    )


def _first_round_plan(monkeypatch, run) -> str:
    """Formatted plan of the first round ``run()`` sends through the rank
    kernel, built un-checkpointed while the operator's edge table is still
    persisted (the rounds the kernel returns are opaque checkpoints)."""
    from graphrag_toolkit_spark.operators import centrality

    plans = []
    superstep = centrality._superstep

    def record(*args, **kwargs):
        if not plans:
            plans.append(plan_of(superstep(*args, **kwargs)))
        return superstep(*args, **kwargs)

    monkeypatch.setattr(centrality, "_superstep", record)
    run()
    return plans[0]


def _assert_one_shuffle_round(plan: str) -> None:
    """The persisted edge scan reaches the join with no Exchange between
    them, and the only hash Exchange outside the cached relation is the
    per-destination aggregate's."""
    nodes = []  # (indent, node name, node id) per line of the plan tree
    for line in plan.split("\n\n")[0].splitlines()[1:]:
        name = line.lstrip(" :|+-")
        m = re.search(r"\((\d+)\)$", name.strip())
        if m:
            nodes.append((len(line) - len(name), name, m.group(1)))
    scan = next(i for i, n in enumerate(nodes) if "InMemoryTableScan" in n[1])
    above, indent = [], nodes[scan][0]
    for n in reversed(nodes[:scan]):
        if n[0] < indent:
            above.append(n[1])
            indent = n[0]
            if "Join" in n[1]:
                break
    assert "HashJoin" in above[-1], above
    assert not any(n.startswith("Exchange") for n in above), above
    rel = next(i for i, n in enumerate(nodes) if "InMemoryRelation" in n[1])
    end = rel + 1
    while end < len(nodes) and nodes[end][0] > nodes[rel][0]:
        end += 1
    exchanges = [
        n[2] for n in nodes[:rel] + nodes[end:] if n[1].startswith("Exchange")
    ]
    assert len(exchanges) == 1, exchanges
    assert re.search(
        rf"\({exchanges[0]}\) Exchange\n.*\nArguments: hashpartitioning\(node_id#",
        plan,
    ), plan
    assert "NestedLoop" not in plan and "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_katz_round_reuses_edge_partitioning(spark, monkeypatch):
    """One Katz round, plain and salted: the persisted pre-partitioned edge
    table must not acquire a second exchange for the join (only ranks
    move), and the message sum is the round's one shuffle."""
    from graphrag_toolkit_spark.operators.centrality import katz_centrality

    edges = _rank_edges(spark)
    for kwargs in ({}, {"n_salts": 4}):
        plan = _first_round_plan(
            monkeypatch, lambda: katz_centrality(edges, iters=1, **kwargs)
        )
        _assert_one_shuffle_round(plan)


def test_pagerank_round_stays_integer_jvm_side(spark, monkeypatch):
    """One PageRank round, plain and weighted: one shuffle, no nested loop,
    no Python eval, and the message and the rank update compile to integer
    `div`s (no float division before the final projection)."""
    from graphrag_toolkit_spark.operators.centrality import pagerank

    edges = _rank_edges(spark)
    for kwargs in ({}, {"weight_col": "w"}):
        plan = _first_round_plan(
            monkeypatch, lambda: pagerank(edges, iters=1, **kwargs)
        )
        _assert_one_shuffle_round(plan)
        assert re.search(r"\) div tw#\d+L\)", plan), plan
        assert re.search(r"\* 85\) div 100\)", plan), plan
        assert " / " not in plan


def test_rank_family_job_counts(spark, jobs_submitted):
    """Jobs per call (construction plus collect) of the rank family on the
    500-edge graph; the bounds are the counts measured before the rank
    operators shared one kernel. AQE's stage runs make these the real
    per-round cost, so a rise is a regression even with equal results."""
    from graphrag_toolkit_spark.operators import centrality as c

    edges = _rank_edges(spark)
    seeds = spark.createDataFrame([("0",), ("1",), ("2",)], "node_id string")
    bounds = {
        "katz": (lambda: c.katz_centrality(edges, iters=3), 12),
        "katz salted": (
            lambda: c.katz_centrality(edges, iters=3, n_salts=4), 12
        ),
        "personalized katz": (
            lambda: c.personalized_katz(edges, seeds, iters=3), 11
        ),
        "pagerank": (lambda: c.pagerank(edges, iters=3), 11),
        "weighted pagerank": (
            lambda: c.pagerank(edges, iters=3, weight_col="w"), 11
        ),
        "hits": (lambda: c.hits(edges, iters=2), 29),
    }
    for name, (op, bound) in bounds.items():
        n = jobs_submitted(lambda: op().collect())
        assert n <= bound, (name, n, bound)


def _assert_query_job_bounds(spark, sf_dir, bounds):
    """Each registry query in ``bounds`` submits at most its bound of jobs
    (build plus collect) at sf0.001. Cached tables left by other tests would
    change the plans, so the cache is cleared first; the queries run
    through ``measure.sweep``, as the harnesses do. AQE's stage submission
    is timing-dependent: now and then an identical call takes one job more.
    A real rise shows in every call, so each query gets up to five calls to
    come within its bound."""
    from graphrag_toolkit_spark.measure import sweep

    spark.catalog.clearCache()
    for name, bound in bounds.items():
        for rec in sweep(spark, sf_dir, lambda df: df.collect(), [name] * 5):
            if rec.error is not None:
                raise rec.error
            if rec.jobs <= bound:
                break
        assert rec.jobs <= bound, (name, rec.jobs, bound)


def test_near_dup_family_job_counts(spark, sf_dir):
    """Jobs per registry query (build plus collect) of the near-duplicate
    family at sf0.001; the bounds are the counts measured before the family
    shared its pair kernels, plus one job for the four MinHash-verified
    queries since their verification joins are left to AQE (no broadcast
    hint on corpus-wide candidates)."""
    _assert_query_job_bounds(spark, sf_dir, {
        "neardup_clusters_documents": 43,
        "minhash_neardup_documents": 19,
        "incremental_neardup_documents": 20,
        "ngram_jaccard_neardup": 18,
        "containment_pairs_documents": 15,
        "embedding_neardup_pairs": 3,
        "embedding_neardup_lsh": 4,
        "embedding_neardup_recall": 10,
        "semantic_dedup_embeddings": 43,
        "soft_dedup_weights_documents": 48,
        "semantic_decontaminate_embeddings": 5,
    })


def test_keyword_family_job_counts(spark, sf_dir):
    """Jobs per registry query (build plus collect) of the TF-IDF/BM25
    family at sf0.001; the bounds are the counts measured with the scorers
    as lazy plans (before: tfidf 19, bm25 15, hybrid_rrf 29,
    retrieval_eval 35, top_terms 9)."""
    _assert_query_job_bounds(spark, sf_dir, {
        "tfidf_documents": 12,
        "bm25_documents": 12,
        "hybrid_rrf_documents": 19,
        "retrieval_eval_pipeline": 25,
        "top_terms_documents": 9,
    })


def test_loop_family_job_counts(spark, sf_dir):
    """Jobs per registry query (build plus collect) of the operators that
    run on `functions.loop.fixpoint`, at sf0.001; the bounds are the counts
    measured with the round driver. Before it the k-core and k-truss peels
    checkpointed each round eagerly (kcore_parts 15, ktruss_parts 27) and
    raking re-joined a marginal aggregate per half-pass
    (ipf_rake_documents 14)."""
    _assert_query_job_bounds(spark, sf_dir, {
        "kcore_parts": 12,
        "ktruss_parts": 25,
        "label_propagation_parts": 22,
        "community_rollup_parts": 30,
        "hits_scores_graph": 40,
        "ipf_rake_documents": 10,
        "hub_knockout_parts": 43,
    })


def test_checkpointed_intermediate_job_counts(spark, sf_dir):
    """Jobs per registry query (build plus collect) of the queries whose
    shared intermediate is a lazy local checkpoint, at sf0.001; the bounds
    are the counts measured with it. When these queries persisted it and
    checkpointed their result eagerly to release it, each first read of the
    persisted relation and the return checkpoint cost jobs of their own
    (pmi 15, chi_square 16, unigram_kl 9, dau_mau 13, markov 11,
    entity_context 23, beam 21 and 27, minhash_jaccard_error 22)."""
    _assert_query_job_bounds(spark, sf_dir, {
        "pmi_collocations_documents": 10,
        "chi_square_documents": 11,
        "unigram_kl_documents": 6,
        "dau_mau_events": 9,
        "markov_accuracy_events": 9,
        "entity_context_parts": 21,
        "beam_search_embeddings": 19,
        "beam_search_attention": 25,
        "minhash_jaccard_error_documents": 21,
    })


def test_partitioned_layout_prunes_partitions(spark, sf_dir, tmp_path):
    """Hive-partitioned layout (the 100 TB table format): a filter on the
    partition column must become a PartitionFilters entry — pruned at
    planning, never scanned — and stay out of the data filters."""
    out = str(tmp_path / "events_by_type")
    load(spark, sf_dir, "events").write.partitionBy("event_type").parquet(out)
    df = spark.read.parquet(out).filter(F.col("event_type") == "purchase")
    plan = plan_of(df)
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "event_type" in m.group(1), plan[:2000]
    n_all = spark.read.parquet(out).count()
    assert df.count() < n_all  # pruned read is a strict subset


def test_edit_distance_pairs_no_cartesian(spark, sf_dir):
    """Deletion-neighborhood blocking must stay an equi-join on the variant
    string — a vocab² nested-loop/cartesian would be the 100 TB killer."""
    from graphrag_toolkit_spark.operators.editdist import edit_distance_pairs

    names = load(spark, sf_dir, "customer").select(
        F.lower(F.col("c_name")).alias("name")
    )
    plan = plan_of(edit_distance_pairs(names, "name", min_len=4, max_len=32))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan


def test_containment_is_posting_list_equijoin(spark, sf_dir):
    """Asymmetric containment pairs form only through the shared-shingle
    equi-join — no cartesian/nested-loop, no Python, and the one division
    happens after the per-pair aggregate."""
    from graphrag_toolkit_spark.operators.dedup import shingles

    # containment_pairs returns an (opaque) localCheckpoint, so assert on
    # the exact internal join it builds: the posting-list self-join
    docs = load(spark, sf_dir, "documents")
    sh = shingles(docs, "text", "doc_id", 2)
    a = sh.withColumnRenamed("id", "id_a")
    b = sh.withColumnRenamed("id", "id_b")
    inner = a.join(b, "shingle").filter(F.col("id_a") != F.col("id_b"))
    plan = plan_of(inner)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan
    # any EQUI-join strategy is fine (AQE broadcasts at fixture scale,
    # sort-merge/shuffled-hash at corpus scale) — the pin is no nested loop
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_dsir_scores_broadcast_and_stay_jvm(spark, sf_dir):
    """The fixed-size bucket score table must BROADCAST onto the token
    stream (DSIR's design point: features don't scale with the corpus),
    and the whole operator stays JVM-side."""
    from graphrag_toolkit_spark.operators.sampling import dsir_log_weights

    docs = load(spark, sf_dir, "documents")
    target = docs.filter(F.col("source") == "src0")
    plan = plan_of(dsir_log_weights(docs, target, "text", "doc_id"))
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_hard_negatives_broadcast_anchors_one_corpus_scan(spark, sf_dir):
    """Anchor batch broadcasts against the corpus scan; per-anchor top-k is
    a window rank, not a global sort of the cross product."""
    from graphrag_toolkit_spark.operators.features import hard_negative_mining

    emb = load(spark, sf_dir, "embeddings")
    plan = plan_of(
        hard_negative_mining(
            emb, emb.filter(F.col("vec_id") < 5), "embedding", "vec_id",
            "label", k=5,
        )
    )
    assert "BroadcastNestedLoopJoin" in plan  # broadcast side, nested-loop by
    # design: the label!=label predicate is a theta condition over a
    # BOUNDED broadcast anchor batch — linear in the corpus, never corpus²
    assert "EvalPython" not in plan
    assert "RunningWindowFunction" in plan or "Window" in plan


def test_bpe_round_top1_is_take_ordered(spark):
    """The per-round argmax pair must compile to TakeOrderedAndProject
    (per-partition top-1 + merge), never a global Sort of the pair
    counts."""
    from graphrag_toolkit_spark.operators.dedup import shingles  # noqa: F401
    from pyspark.sql import functions as FF

    df = spark.createDataFrame([{"text": "aaab aaab cd cd cd"}])
    words = FF.filter(
        FF.split(FF.lower(FF.col("text")), r"[^0-9a-z]+"), lambda t: t != ""
    )
    chars = FF.transform(
        FF.sequence(FF.lit(1), FF.length("wd")),
        lambda i: FF.col("wd").substr(i, FF.lit(1)),
    )
    corpus = df.select(FF.explode(words).alias("wd")).select(
        FF.concat(FF.lit("|"), FF.array_join(chars, "||"), FF.lit("|")).alias("w")
    )
    toks = FF.split(FF.expr("trim(BOTH '|' FROM w)"), r"\|\|")
    pairs = FF.when(
        FF.size(toks) >= 2,
        FF.transform(
            FF.sequence(FF.lit(1), FF.size(toks) - 1),
            lambda i: FF.concat(
                FF.element_at(toks, i), FF.lit(" "), FF.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(FF.array().cast("array<string>"))
    best = (
        corpus.select(FF.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(FF.count(FF.lit(1)).alias("n"))
        .orderBy(FF.desc("n"), FF.asc("pair"))
        .limit(1)
    )
    plan = plan_of(best)
    assert "TakeOrderedAndProject" in plan
    assert "EvalPython" not in plan


def test_zorder_rank_has_no_global_window(spark):
    """Z-order layout's scale claim: the rank is two-phase (coarse-bucket
    offsets + PARTITIONED per-bucket windows) — no single-partition global
    window over the data may appear (`Window [... ORDER BY ...]` with an
    empty partition spec shows as a SinglePartition exchange feeding the
    row_number over the full rowset)."""
    from graphrag_toolkit_spark.operators.packing import zorder_layout

    df = spark.range(10_000).select(
        (F.col("id") % 97).alias("x"),
        (F.col("id") % 89).alias("y"),
        F.col("id").alias("tb"),
    )
    plan = plan_of(zorder_layout(df, "x", "y", "tb", rows_per_file=64))
    # the offsets table (<=1024 rows) is allowed its tiny single-partition
    # window; the DATA-side window must be hash-partitioned by zb. Assert
    # the data row_number's window is partitioned: every SinglePartition
    # exchange in the plan must feed an aggregate of the bucket table, so
    # the plan may contain at most one, and the partitioned window exists.
    assert plan.count("SinglePartition") <= 1
    assert "hashpartitioning(zb" in plan


def test_modularity_assignment_joins_are_equijoins(spark):
    from graphrag_toolkit_spark.operators.centrality import modularity

    edges = spark.range(5_000).select(
        (F.col("id") % 701).cast("string").alias("src"),
        ((F.col("id") * 13) % 701).cast("string").alias("dst"),
    )
    assign = spark.range(701).select(
        F.col("id").cast("string").alias("node_id"),
        (F.col("id") % 7).cast("string").alias("community"),
    )
    plan = plan_of(modularity(edges, assign), mode="simple")
    assert "CartesianProduct" not in plan
    # the only nested-loop stages permitted are the TWO one-row broadcast
    # cross joins assembling the final statistics row (simple mode prints
    # each node once)
    assert plan.count("BroadcastNestedLoopJoin") <= 2


def test_kn_scoring_join_is_equijoin_and_text_scans_once(spark, sf_dir):
    """The KN round trip must join doc bigrams to the trained table on
    (prev, w) — never a theta/cartesian pair stage."""
    from graphrag_toolkit_spark.operators import textstats

    docs = load(spark, sf_dir, "documents")
    plan = plan_of(
        textstats.kn_perplexity_buckets(docs, "text", "doc_id"), mode="simple"
    )
    assert "CartesianProduct" not in plan
    # exactly two nested-loop stages are by design, both ONE-ROW broadcast
    # cross joins: the trainer's scalar N1+(·,·) and the two-phase rank
    # bucketer's min/max bounds (ranks.with_range_bucket)
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    # the doc-bigram ⋈ trained-LM pairing must be a hash/sort-merge equi-join
    assert (
        "BroadcastHashJoin" in plan
        or "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
    )


def test_link_prediction_wedge_is_equijoin(spark):
    """The wedge enumeration and the degree joins must all be hash
    equi-joins — a cartesian/nested-loop here would be |V|² at scale."""
    from graphrag_toolkit_spark.operators.linkpred import link_prediction

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 30)] + [(1, 15), (5, 25)],
        "pa int, pb int",
    )
    plan = plan_of(link_prediction(edges), mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_random_walks_reuses_adjacency_equijoins(spark):
    """Every hop is an equi-join of the frontier against the indexed
    adjacency; no cartesian anywhere in the L-hop chain."""
    from graphrag_toolkit_spark.operators.linkpred import random_walks

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 20)], "pa int, pb int"
    )
    plan = plan_of(random_walks(edges, walk_length=3), mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_budget_fill_broadcasts_budgets(spark):
    """The budget table must ride a broadcast join — shuffling candidates
    against a k-row dimension would be the classic small-dim mistake."""
    from pyspark.sql import functions as F
    from graphrag_toolkit_spark.operators.sampling import budget_fill

    rows = spark.createDataFrame(
        [("a", i, 10) for i in range(100)], "grp string, id int, sz long"
    )
    budgets = spark.createDataFrame([("a", 55)], "grp string, budget long")
    plan = plan_of(
        budget_fill(rows, "grp", "sz", budgets, [F.asc("id")]), mode="simple"
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_quantize_int8_is_single_narrow_projection(spark):
    """SQ8 quantization must stay a map stage: no shuffle (Exchange), no
    join, no window — a petabyte corpus quantizes partition-local."""
    from graphrag_toolkit_spark.operators.pq import quantize_int8

    emb = spark.createDataFrame(
        [(i, [float(i % 7) - 3.0] * 8) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    plan = plan_of(quantize_int8(emb), mode="simple")
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_harmonic_2hop_no_cartesian(spark):
    from graphrag_toolkit_spark.operators.centrality import harmonic_2hop

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 15)], "src int, dst int"
    )
    plan = plan_of(harmonic_2hop(edges), mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_decontaminate_joins_through_bucket(spark):
    """test×train pairs may only form through the LSH bucket equi-join —
    no cartesian / nested-loop path from test to train."""
    from graphrag_toolkit_spark.operators.decontam import embedding_decontaminate

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 5) - 2.0 for j in range(8)]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    test = emb.filter("vec_id < 5")
    train = emb.filter("vec_id >= 5")
    plan = plan_of(
        embedding_decontaminate(test, train, "vec_id", "embedding", 0.9,
                                n_planes=4, dim=8),
        mode="simple",
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_vector_index_pipeline_no_cartesian(spark, tmp_path):
    """The composed index build must stay equi-join-only: outlier anti-join,
    quantize projection, bucket join — no cartesian anywhere."""
    import os
    from graphrag_toolkit_spark.workload.dataprep import vector_index_pipeline

    emb = spark.createDataFrame(
        [(i, [float((i * 3 + j) % 9) - 4.0 for j in range(64)], i % 4)
         for i in range(40)],
        "vec_id long, embedding array<float>, label int",
    )
    d = str(tmp_path)
    emb.write.parquet(os.path.join(d, "embeddings.parquet"))
    plan = plan_of(vector_index_pipeline(spark, d), mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------------------
# Plan guard: no Exchange SinglePartition feeding a Window on unbounded input
# (the round-6 verdict's one systemic finding — every global window must be
# the two-phase distributed rank, a top-N-bounded frame, or a bucket table).
# ---------------------------------------------------------------------------

def test_planguard_flags_planted_global_window(spark):
    """Self-test: the guard must CATCH the anti-pattern, else the sweep
    assertions below prove nothing."""
    from pyspark.sql.window import Window

    from graphrag_toolkit_spark.planguard import singlepartition_window_violations

    df = spark.range(1_000).withColumn(
        "rn", F.row_number().over(Window.orderBy("id"))
    )
    v = singlepartition_window_violations(df)
    assert v and "SinglePartition" in v[0].exchange_line


def test_planguard_accepts_bounded_frames(spark):
    """The three allowlisted bounded shapes must NOT be flagged: a top-N
    limit feeding the window, the two-phase rank's bucket-offsets table,
    and a scalar (keys=[]) aggregate."""
    from pyspark.sql.window import Window

    from graphrag_toolkit_spark.operators import ranks
    from graphrag_toolkit_spark.planguard import singlepartition_window_violations

    # top-N bounded: orderBy().limit() = TakeOrderedAndProject, then re-rank
    top = spark.range(1_000).orderBy("id").limit(20)
    assert not singlepartition_window_violations(
        top.withColumn("rn", F.row_number().over(Window.orderBy("id")))
    )

    # two-phase rank: the only single-partition window is over the <=1024-row
    # bucket-offsets aggregate (keys=[__tpb]) — allowlisted
    base = spark.range(10_000).select(
        F.col("id").cast("double").alias("x"), F.col("id").alias("uid")
    )
    ranked = ranks.two_phase_row_number(
        ranks.with_range_bucket(base, F.col("x")),
        [F.asc("x"), F.asc("uid")],
    )
    assert not singlepartition_window_violations(ranked)

    # scalar aggregate (one row) under a window
    one = spark.range(1_000).agg(F.sum("id").alias("s"))
    assert not singlepartition_window_violations(
        one.withColumn("rn", F.row_number().over(Window.orderBy("s")))
    )


# Every query the round-6 verdict flagged as a single-partition-window site
# (the 8 rewrite targets + the 3 top-N minors), by registry name. The guard
# walks the pre-AQE physical plan, so a regression in ANY of these — or a
# revert of the ranks.py rewrite — fails here before it ships.
_FORMERLY_FLAGGED = [
    "decile_stats_orders",
    "rfm_segments_customers",
    "doc_length_gate_documents",
    "sorted_batching_documents",
    "heaps_law_documents",
    "negative_samples_embeddings",
    "auc_documents",
    "kn_perplexity_buckets_documents",
    "hub_knockout_parts",
    "embedding_outliers",
    "vector_index_pipeline",
]


def test_no_global_window_in_formerly_flagged_queries(spark, sf_dir):
    from graphrag_toolkit_spark.planguard import singlepartition_window_violations
    from graphrag_toolkit_spark.workload import all_queries

    qs = all_queries()
    bad = {}
    for name in _FORMERLY_FLAGGED:
        v = singlepartition_window_violations(qs[name](spark, sf_dir))
        if v:
            bad[name] = [x.exchange_line for x in v]
    assert not bad, f"single-partition global windows returned: {bad}"


def test_no_global_window_in_dsir_pipeline_stage(spark, sf_dir):
    """api.py's CorpusPipeline dsir top-fraction stage (the 8th verdict
    site) — build the staged plan and guard it."""
    from graphrag_toolkit_spark.api import CorpusPipeline
    from graphrag_toolkit_spark.planguard import singlepartition_window_violations
    from graphrag_toolkit_spark.session import load

    docs = load(spark, sf_dir, "documents")
    target = docs.filter("length(text) > 200").limit(50)
    df = (
        CorpusPipeline(text_col="text", id_col="doc_id")
        .with_dsir_selection(target, keep_fraction=0.5)
        .run(docs)
    )
    assert not singlepartition_window_violations(df)


def test_both_audits_on_sampled_registry(spark, sf_dir):
    """In-suite slice of the two full audits (tools/window_audit.py and
    tools/broadcast_audit.py sweep all queries in ~12 min each; this keeps
    a diverse 14-query tripwire inside pytest). Broadcast audit only means
    anything under autoBroadcastJoinThreshold=-1 — estimate-based
    broadcasts are AQE-safe and must not count."""
    from graphrag_toolkit_spark.planguard import (
        BROADCAST_CONTRACT,
        hinted_broadcast_violations,
        singlepartition_window_violations,
    )
    from graphrag_toolkit_spark.workload import all_queries

    sample = [
        # one per family: relational, window, iterative graph, dedup, vector,
        # text gate, temporal, sketch, pipeline, rank-rewrite, de-hinted
        "q3_shipping_priority", "topn_orders_per_customer",
        "katz_centrality_graph", "minhash_neardup_documents",
        "cosine_topk", "gopher_gate_documents", "asof_join_events",
        "kmv_distinct_users_events", "vector_index_pipeline",
        "auc_documents", "pmi_collocations_documents", "oov_rate_documents",
        "survival_curve_events", "q11_important_value",
    ]
    qs = all_queries()
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bad = {}
        for name in sample:
            df = qs[name](spark, sf_dir)
            w = singlepartition_window_violations(df)
            b = (
                []
                if name in BROADCAST_CONTRACT
                else hinted_broadcast_violations(df, query_name=name)
            )
            if w or b:
                bad[name] = [x.exchange_line for x in w + b]
        assert not bad, f"audit violations: {bad}"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_contract_bounded_registry_is_pinned(spark):
    """CONTRACT_BOUNDED is the escape hatch for windows the plan cannot
    prove bounded — pin its exact membership so entries can't accumulate
    without a reviewed argument (each needs the written justification in
    planguard.py AND a SCALE.md row)."""
    from graphrag_toolkit_spark.planguard import CONTRACT_BOUNDED

    # EMPTY since the round-7 processor rewrites: the token budget rides
    # the two-phase cumsum and the prune maxes are scalar-aggregate
    # broadcasts, so the plan itself proves every remaining window bounded
    assert CONTRACT_BOUNDED == {}


def test_planguard_rejects_compound_keys_with_bounded_member(spark):
    """(event_type, user) aggregates are NOT bounded just because
    event_type alone is — every key attribute must be on the allowlist."""
    from graphrag_toolkit_spark.planguard import _keys_bounded

    assert _keys_bounded("event_type#3")
    assert _keys_bounded("day#12")
    assert not _keys_bounded("event_type#3, user_id#9")
    assert not _keys_bounded("user_id#9")
    assert not _keys_bounded("knownfloatingpointnormalized(x#12)")
    assert _keys_bounded("__tpb#44L")


def test_planguard_boundedness_is_structural(spark, tmp_path):
    """Round-8 soundness fix: a corpus JOIN offsets-table subtree contains a
    bounded-key (__tpb) aggregate deep inside, yet is corpus-sized — the old
    flat any-line-in-the-subtree scan passed it; the structural walk (every
    leaf branch must cross a bounding node) must flag it."""
    import os

    from pyspark.sql.window import Window

    from graphrag_toolkit_spark.planguard import singlepartition_window_violations

    spark.createDataFrame(
        [(i, i % 11) for i in range(20_000)], "id long, __tpb long"
    ).write.parquet(os.path.join(str(tmp_path), "corpus.parquet"))
    corpus = spark.read.parquet(os.path.join(str(tmp_path), "corpus.parquet"))
    offsets = corpus.groupBy("__tpb").agg(F.count(F.lit(1)).alias("__cnt"))
    joined = corpus.join(offsets, "__tpb")  # corpus-sized, __tpb agg inside
    bad = joined.withColumn("rn", F.row_number().over(Window.orderBy("id")))
    assert singlepartition_window_violations(bad), (
        "corpus-sized join must not be bounded by a deep __tpb aggregate"
    )


def test_broadcast_guard_flags_planted_growing_hint(spark, tmp_path):
    """Self-test for the round-8 broadcast audit: under
    autoBroadcastJoinThreshold=-1, a hint-forced broadcast of a
    data-proportional table must flag; a hinted scalar aggregate, a hinted
    top-N, and an UNhinted join must not."""
    import os

    from graphrag_toolkit_spark.planguard import hinted_broadcast_violations

    spark.createDataFrame(
        [(i, i % 7) for i in range(5_000)], "id long, k long"
    ).write.parquet(os.path.join(str(tmp_path), "t.parquet"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        t = spark.read.parquet(os.path.join(str(tmp_path), "t.parquet"))
        dim = t.groupBy("k").agg(F.count(F.lit(1)).alias("n"))

        bad = t.join(F.broadcast(dim.filter("n > 1")), "k")
        assert hinted_broadcast_violations(bad)

        scalar = t.crossJoin(F.broadcast(t.agg(F.max("id").alias("mx"))))
        assert not hinted_broadcast_violations(scalar)

        topn = t.join(F.broadcast(t.orderBy("id").limit(5).select("k")), "k")
        assert not hinted_broadcast_violations(topn)

        unhinted = t.join(dim, "k")  # estimate-based: no exchange at -1
        assert not hinted_broadcast_violations(unhinted)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_broadcast_contract_membership_is_pinned(spark):
    """BROADCAST_CONTRACT is the escape hatch for hinted broadcasts bounded
    only by request/construction contract — pin the membership so entries
    can't accumulate without a reviewed argument (each needs the written
    bound in planguard.py AND SCALE.md's broadcast-audit table)."""
    from graphrag_toolkit_spark.planguard import BROADCAST_CONTRACT

    assert set(BROADCAST_CONTRACT) == {
        "chunk_statements_orders", "statement_facts_orders",
        "entity_fact_walk_suppliers", "entity_pair_paths_parts",
        "topic_adjacency_parts", "topic_overlap_suppliers",
        "topic_sources_parts", "entity_lookup_parts",
        "cascade_delete_counts", "fetch_embeddings_by_id",
        "dense_link_embeddings", "hard_negatives_embeddings",
        "boolean_and_search_documents", "ann_lsh_topk", "ann_ivf_topk",
        "ann_ivf_kmeans_topk", "ann_ivf_pq_topk", "ann_ivf_recall",
        "bloom_filter_orders", "psi_events", "token_budget_mix_documents",
        "ngram_lm_documents", "language_id_documents",
        "mixed_language_documents", "tokenizer_fertility_by_lang",
        "quality_classifier_documents", "training_data_pipeline",
        "ranking_eval_embeddings", "ranking_eval_orphan",
        "retrieval_eval_pipeline", "encode_documents_corpus",
        "resample_mix_documents", "dsir_weights_documents",
    }


def test_planguard_perkey_windowgrouplimit_is_not_a_bound(spark):
    """Round-7 advice (medium): a WindowGroupLimit keyed on a data-dependent
    partition column (top-k PER user_id) emits k rows PER KEY — unbounded —
    and must NOT satisfy the guard. A GLOBAL rank<=k filter (empty partition
    spec) emits <=k rows per map partition and legitimately bounds."""
    from pyspark.sql.window import Window

    from graphrag_toolkit_spark.planguard import singlepartition_window_violations

    df = spark.range(0, 20_000).select(
        (F.col("id") % 10_000).alias("user_id"),
        F.col("id").alias("ord"),
        (F.col("id") * 37 % 101).alias("score"),
    )
    perkey_top2 = df.withColumn(
        "rk", F.row_number().over(Window.partitionBy("user_id").orderBy("ord"))
    ).filter(F.col("rk") <= 2)
    bad = perkey_top2.withColumn("grn", F.row_number().over(Window.orderBy("score")))
    assert singlepartition_window_violations(bad), (
        "per-key WindowGroupLimit must not bound a global window"
    )

    global_top10 = df.withColumn(
        "rk", F.row_number().over(Window.orderBy("ord"))
    ).filter(F.col("rk") <= 10)
    ok = global_top10.withColumn("grn", F.row_number().over(Window.orderBy("score")))
    assert not singlepartition_window_violations(ok)


def test_ivf_pq_probe_scan_is_equijoin_only(spark, sf_dir):
    """IVF-PQ: assignment is a broadcast cross with the TINY centroid table
    (by design); everything else — residual encode, probe filter, ADC —
    must stay equi-join/projection; top-k is TakeOrderedAndProject."""
    from graphrag_toolkit_spark.workload.dataprep import ann_ivf_pq_topk

    plan = plan_of(ann_ivf_pq_topk(spark, sf_dir), mode="simple")
    assert "CartesianProduct" not in plan
    # the only nested-loop stage is the centroid broadcast cross join in
    # ivf_assign (8 rows) — bounded by the centroid count, never the data
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "TakeOrderedAndProject" in plan
    assert "EvalPython" not in plan
