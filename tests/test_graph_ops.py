"""Lexical-graph operators over the deterministic t1 fixture: traversal
joins, rollup aggregations, processor chain, and the minimum-slice query."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graphrag_toolkit_spark import fixtures
from graphrag_toolkit_spark.operators import processors as P
from graphrag_toolkit_spark.operators import rollup, traversal
from graphrag_toolkit_spark.operators.tfidf import diversity_filter, rerank_by_tfidf
from graphrag_toolkit_spark.query_engine import RetrievalConfig, chunk_based_search


@pytest.fixture(scope="module")
def pdg():
    return fixtures.generate("t1", seed=42)


@pytest.fixture(scope="module")
def g(spark, pdg):
    sg = pdg.to_spark(spark)
    for name in ("edges", "statements", "facts"):
        getattr(sg, name).persist().count()
    return sg


class TestFixture:
    def test_tier_shapes(self, pdg):
        assert len(pdg.sources) == 5
        assert len(pdg.chunks) == 50
        assert len(pdg.statements) == 400
        assert len(pdg.entities) == 150

    def test_deterministic(self):
        a = fixtures.generate("t1", seed=42)
        b = fixtures.generate("t1", seed=42)
        assert a.edges.equals(b.edges)
        assert a.facts.equals(b.facts)

    def test_embeddings_unit_norm(self, pdg):
        v = pdg.embeddings_chunk["embedding"].iloc[0]
        assert sum(x * x for x in v) == pytest.approx(1.0, rel=1e-9)

    def test_cross_source_facts_exist(self, pdg):
        sup = pdg.edges[pdg.edges.etype == "SUPPORTS"]
        chunk_src = dict(zip(pdg.statements.statement_id, pdg.statements.chunk_id))
        srcs = sup.assign(
            source=sup.dst.map(lambda s: chunk_src[s].rsplit(":", 1)[0])
        ).groupby("src")["source"].nunique()
        assert (srcs >= 2).sum() > 0

    def test_referential_integrity(self, pdg):
        stmt_ids = set(pdg.statements.statement_id)
        sup = pdg.edges[pdg.edges.etype == "SUPPORTS"]
        assert set(sup.dst) <= stmt_ids
        ent_ids = set(pdg.entities.entity_id)
        assert set(pdg.facts.subject_id) <= ent_ids


class TestTraversal:
    def test_chunk_to_statements(self, spark, g, pdg):
        # pick a chunk that actually has a topic mention
        ck = pdg.edges[pdg.edges.etype == "MENTIONED_IN_T"].dst.iloc[0]
        seed = spark.createDataFrame([{"chunk_id": ck}])
        out = traversal.chunk_to_statements(g, seed, limit=50).collect()
        assert 0 < len(out) <= 50
        # golden: statements of topics mentioned in that chunk
        topics = set(pdg.edges[(pdg.edges.etype == "MENTIONED_IN_T") & (pdg.edges.dst == ck)].src)
        exp = set(
            pdg.edges[(pdg.edges.etype == "BELONGS_TO") & pdg.edges.dst.isin(topics)].src
        )
        got = {r["statement_id"] for r in out}
        assert got == set(sorted(exp)[: len(got)])

    def test_statement_facts_scores(self, spark, g, pdg):
        sup = pdg.edges[pdg.edges.etype == "SUPPORTS"]
        sid = sup.dst.iloc[0]
        seed = spark.createDataFrame([{"statement_id": sid}])
        row = traversal.statement_facts(g, seed).head()
        exp_n = sup[sup.dst == sid].src.nunique()
        assert row["score"] == exp_n
        assert len(row["facts"]) == exp_n
        assert row["facts"] == sorted(row["facts"])

    def test_entity_fact_walk_includes_prev_neighbors(self, spark, g, pdg):
        subj = pdg.edges[pdg.edges.etype == "SUBJECT"]
        ent = subj.src.iloc[0]
        seed = spark.createDataFrame([{"entity_id": ent}])
        out = {r["statement_id"] for r in traversal.entity_fact_walk(g, seed, limit=1000).collect()}
        facts = set(subj[subj.src == ent].dst)
        sup = pdg.edges[(pdg.edges.etype == "SUPPORTS") & pdg.edges.src.isin(facts)]
        base = set(sup.dst)
        assert base <= out
        prev = pdg.edges[pdg.edges.etype == "PREVIOUS"]
        fwd = set(prev[prev.src.isin(base)].dst)
        rev = set(prev[prev.dst.isin(base)].src)
        assert (base | fwd | rev) >= out  # nothing beyond 0..1 hop
        assert out == set(sorted(base | fwd | rev)[: len(out)])

    def test_entity_pair_paths_endpoints_on_path(self, spark, g, pdg):
        rel = pdg.edges[pdg.edges.etype == "RELATION"]
        e1, e2 = rel.src.iloc[0], rel.dst.iloc[0]
        pairs = spark.createDataFrame([{"e1": e1, "e2": e2}])
        out = traversal.entity_pair_paths(g, pairs, limit=1000).collect()
        assert len(out) > 0  # direct edge exists → 1-hop path with both endpoints
        # valid node set: endpoints + all 1-hop intermediates on undirected
        # 2-hop paths e1 → m → e2 (reference UNWINDs nodes(p))
        und = set(zip(rel.src, rel.dst)) | set(zip(rel.dst, rel.src))
        nbr1 = {d for s, d in und if s == e1}
        nbr2 = {s for s, d in und if d == e2}
        path_nodes = {e1, e2} | ((nbr1 & nbr2) - {e1, e2})
        facts_by_id = pdg.facts.set_index("fact_id")
        for r in out:
            f = facts_by_id.loc[r["fact_id"]]
            assert f.subject_id in path_nodes and f.object_id in path_nodes

    def test_topic_cooccurrence_symmetric_no_self(self, spark, g, pdg):
        t = pdg.topics.topic_id.iloc[0]
        seed = spark.createDataFrame([{"topic_id": t}])
        out = traversal.topic_cooccurrence(g, seed).collect()
        assert all(r["topic_id"] != r["other_topic_id"] for r in out)

    def test_topic_entity_overlap_topn(self, spark, g, pdg):
        seed = spark.createDataFrame([{"topic_id": pdg.topics.topic_id.iloc[0]}])
        out = traversal.topic_entity_overlap(g, seed, top_n=3).collect()
        assert len(out) <= 3
        strengths = [r["strength"] for r in out]
        assert strengths == sorted(strengths, reverse=True)

    def test_topic_sources_one_row_per_topic(self, spark, g, pdg):
        seed = spark.createDataFrame(
            [{"topic_id": t} for t in pdg.topics.topic_id.head(5)]
        )
        out = traversal.topic_sources(g, seed).collect()
        ids = [r["topic_id"] for r in out]
        assert len(ids) == len(set(ids)) == 5


class TestRollup:
    def test_entity_degree_matches_pandas(self, g, pdg):
        out = {r["entity_id"]: r["degree"] for r in rollup.entity_degree(g).collect()}
        sub = pdg.edges[pdg.edges.etype.isin(["SUBJECT", "OBJECT"])]
        exp = sub.groupby("src").size().to_dict()
        assert out == exp

    def test_entity_degree_zipfian(self, g):
        degs = sorted(
            (r["degree"] for r in rollup.entity_degree(g).collect()), reverse=True
        )
        assert degs[0] > 10 * degs[len(degs) // 2]  # hub entities exist

    def test_schema_summary_distinct_classes(self, g, pdg):
        out = rollup.schema_summary(g).collect()
        assert len(out) > 0
        cls = set(pdg.entities.classification)
        for r in out:
            assert r["subject_class"] in cls and r["object_class"] in cls
        assert len(out) == len({tuple(r) for r in out})

    def test_graph_stats(self, g, pdg):
        out = {r["label"]: r["n"] for r in rollup.graph_stats(g).collect()}
        assert out["statement"] == len(pdg.statements)
        assert out["entity"] == len(pdg.entities)

    def test_nest_results_sorted_and_limited(self, spark, g, pdg):
        stmt_ids = spark.createDataFrame(
            [{"statement_id": s} for s in pdg.statements.statement_id.head(100)]
        )
        flat = rollup.scored_statement_context(g, stmt_ids)
        out = rollup.nest_results(flat, max_results=3).collect()
        assert len(out) <= 3
        scores = [r["score"] for r in out]
        assert scores == sorted(scores, reverse=True)
        for r in out:
            for t in r["topics"]:
                s_scores = [(s["score"], s["statement_id"]) for s in t["statements"]]
                assert s_scores == sorted(s_scores, key=lambda x: (-x[0], x[1]))


class TestProcessors:
    def _flat(self, spark):
        rows = [
            dict(source_id="s1", topic_id="t1", statement_id="a", value="alpha beta", score=3.0),
            dict(source_id="s1", topic_id="t1", statement_id="a", value="alpha beta", score=1.0),
            dict(source_id="s1", topic_id="t1", statement_id="b", value="gamma delta", score=2.0),
            dict(source_id="s1", topic_id="t2", statement_id="c", value="epsilon", score=0.1),
            dict(source_id="s2", topic_id="t3", statement_id="d", value="zeta eta", score=5.0),
        ]
        return spark.createDataFrame(rows)

    def test_dedup_sums_scores(self, spark):
        out = P.dedup_results(self._flat(spark))
        a = out.filter("statement_id = 'a'").head()
        assert a["score"] == 4.0
        assert out.count() == 4

    def test_dedup_survivor_deterministic(self, spark):
        # duplicates that DIFFER in a non-key column keep the min value,
        # regardless of partitioning / shuffle order
        rows = [
            dict(source_id="s1", topic_id="t1", statement_id="a", value="zz", score=1.0),
            dict(source_id="s1", topic_id="t1", statement_id="a", value="aa", score=1.0),
            dict(source_id="s1", topic_id="t1", statement_id="a", value="mm", score=1.0),
        ]
        out = P.dedup_results(spark.createDataFrame(rows).repartition(4)).head()
        assert out["value"] == "aa" and out["score"] == 3.0

    def test_rescore_mean_of_topic_max(self, spark):
        out = P.rescore_results(P.dedup_results(self._flat(spark)))
        s1 = out.filter("source_id = 's1'").head()
        assert s1["result_score"] == pytest.approx((4.0 + 0.1) / 2)

    def test_truncate_statements_per_topic(self, spark):
        out = P.truncate_statements(1)(P.dedup_results(self._flat(spark)))
        assert out.count() == 3  # one per (source, topic)
        kept = {r["statement_id"] for r in out.collect()}
        assert kept == {"a", "c", "d"}

    def test_truncate_results_keeps_best_sources(self, spark):
        out = P.truncate_results(1)(P.dedup_results(self._flat(spark)))
        # s1 summed score = 4.0 + 2.0 + 0.1 = 6.1 beats s2's 5.0
        assert {r["source_id"] for r in out.collect()} == {"s1"}

    def test_prune_statements_threshold(self, spark):
        out = P.prune_statements(0.5)(P.dedup_results(self._flat(spark)))
        assert {r["statement_id"] for r in out.collect()} == {"a", "d"}

    def test_truncate_by_tokens_budget(self, spark):
        out = P.truncate_by_tokens(4)(P.dedup_results(self._flat(spark)))
        kept = {r["statement_id"] for r in out.collect()}
        assert kept == {"d", "a"}  # 2 + 2 tokens; next would blow the budget

    def test_truncate_by_tokens_null_scores_not_dropped(self, spark):
        # round-7 advice: NULL scores used to become NULL range-buckets
        # and silently vanish through the broadcast equi-join; the old
        # global window kept them LAST (desc = NULLS LAST). Budget large
        # enough for everything -> every row must survive, and with a
        # tight budget the NULL-score rows are the first casualties.
        rows = [
            dict(source_id="s", topic_id="t", statement_id="a", value="x y", score=2.0),
            dict(source_id="s", topic_id="t", statement_id="b", value="x y", score=None),
            dict(source_id="s", topic_id="t", statement_id="c", value="x y", score=1.0),
            dict(source_id="s", topic_id="t", statement_id="d", value="x y", score=None),
        ]
        df = spark.createDataFrame(
            rows, "source_id string, topic_id string, statement_id string, "
                  "value string, score double")
        keep_all = P.truncate_by_tokens(100)(df)
        assert keep_all.count() == 4
        tight = {r["statement_id"] for r in P.truncate_by_tokens(6)(df).collect()}
        assert tight == {"a", "c", "b"}  # scored rows first, then NULLs by id

    def test_union_weighted(self, spark):
        f = P.dedup_results(self._flat(spark))
        out = P.union_weighted([(f, 1.0), (f, 0.5)])
        assert out.count() == 8
        merged = P.dedup_results(out)
        a = merged.filter("statement_id = 'a'").head()
        assert a["score"] == pytest.approx(4.0 * 1.5)

    def test_ordered_dedup_keeps_first(self, spark):
        df = spark.createDataFrame(
            [{"k": "x", "pos": 2, "v": "late"}, {"k": "x", "pos": 1, "v": "early"},
             {"k": "y", "pos": 5, "v": "only"}]
        )
        out = {r["k"]: r["v"] for r in P.ordered_dedup(df, "k", "pos").collect()}
        assert out == {"x": "early", "y": "only"}


class TestTfidf:
    def test_rerank_prefers_query_terms(self, spark):
        flat = spark.createDataFrame(
            [
                dict(source_id="s", topic_id="t", statement_id="m",
                     value="quantum computing hardware", score=1.0),
                dict(source_id="s", topic_id="t", statement_id="n",
                     value="cooking pasta recipes", score=1.0),
            ]
        )
        out = {r["statement_id"]: r["score"]
               for r in rerank_by_tfidf(flat, "quantum hardware").collect()}
        assert out["m"] > out["n"]

    def test_diversity_filter_drops_near_dup(self, spark):
        flat = spark.createDataFrame(
            [
                dict(source_id="s", topic_id="t", statement_id="a",
                     value="the quick brown fox jumps", score=1.0),
                dict(source_id="s", topic_id="t", statement_id="b",
                     value="the quick brown fox jumps", score=1.0),
                dict(source_id="s", topic_id="t", statement_id="c",
                     value="completely different text here", score=1.0),
            ]
        )
        kept = {r["statement_id"] for r in diversity_filter(flat, 0.975).collect()}
        assert kept == {"a", "c"}

    def test_cosine_is_zero_without_vocabulary_terms(self, spark):
        from graphrag_toolkit_spark.operators.tfidf import tfidf_cosine_scores

        docs = spark.createDataFrame(
            [(1, "spark joins and windows"), (2, "cooking pasta"), (3, "")],
            "doc_id long, text string",
        )
        # no query token at all, and tokens that are all out of vocabulary
        for query in ("!!!", "zebra quokka"):
            for quantize in (None, 6):
                out = tfidf_cosine_scores(
                    docs, query, "text", "doc_id", quantize=quantize
                ).collect()
                assert sorted((r["id"], r["tfidf_score"]) for r in out) == [
                    (1, 0.0), (2, 0.0), (3, 0.0)
                ], (query, quantize)


class TestBm25:
    def test_ranking_properties(self, spark):
        from graphrag_toolkit_spark.operators.tfidf import bm25_scores

        docs = spark.createDataFrame(
            [
                (1, "spark joins and spark windows"),        # 2x 'spark'
                (2, "spark joins in one line"),              # 1x 'spark'
                (3, "cooking pasta recipes tonight again"),  # no match
                (4, "rareword appears here once only"),      # rare term
                (5, "spark spark spark spark spark spark"),  # tf saturation
            ],
            "doc_id long, text string",
        )
        out = {
            r["id"]: r["bm25"]
            for r in bm25_scores(docs, "spark rareword", "text", "doc_id").collect()
        }
        assert out[3] == 0.0                       # no query term -> 0
        assert out[1] > out[2] > 0.0               # higher tf wins
        assert out[4] > out[1]                     # rarer term outweighs
        # k1 saturation: 6x tf must NOT score ~6x the 1x doc
        assert out[5] < 3 * out[2]

    def test_zero_query_terms(self, spark):
        from graphrag_toolkit_spark.operators.tfidf import bm25_scores

        docs = spark.createDataFrame([(1, "anything")], "doc_id long, text string")
        out = bm25_scores(docs, "!!!", "text", "doc_id").collect()
        assert out[0]["bm25"] == 0.0


class TestRrfFuse:
    def test_fusion_scores_and_leg_counts(self, spark):
        from graphrag_toolkit_spark.operators.processors import rrf_fuse

        a = spark.createDataFrame([(1, 9.0), (2, 5.0), (3, 1.0)], "id long, score double")
        b = spark.createDataFrame([(2, 8.0), (4, 3.0)], "id long, score double")
        out = {r["id"]: r for r in rrf_fuse([a, b], k=60).collect()}
        # doc 2: rank 2 in a, rank 1 in b
        assert out[2]["n_legs"] == 2
        assert out[2]["rrf"] == round(1 / 62, 9) + round(1 / 61, 9)
        assert out[1]["n_legs"] == 1 and out[1]["rrf"] == round(1 / 61, 9)
        # the doubly-ranked doc outscores every single-leg doc here
        assert out[2]["rrf"] > max(out[1]["rrf"], out[3]["rrf"], out[4]["rrf"])

    def test_tie_break_is_deterministic(self, spark):
        from graphrag_toolkit_spark.operators.processors import rrf_fuse

        a = spark.createDataFrame([(5, 1.0), (3, 1.0)], "id long, score double")
        out = {r["id"]: r["rrf"] for r in rrf_fuse([a]).collect()}
        assert out[3] > out[5]  # equal score -> smaller id ranks first


class TestMinimumSlice:
    def test_end_to_end_deterministic(self, g):
        cfg = RetrievalConfig(max_search_results=3)
        q = "alpha bravo charlie"
        r1 = chunk_based_search(g, q, cfg).collect()
        r2 = chunk_based_search(g, q, cfg).collect()
        assert [x["source_id"] for x in r1] == [x["source_id"] for x in r2]
        assert 0 < len(r1) <= 3
        scores = [x["score"] for x in r1]
        assert scores == sorted(scores, reverse=True)

    def test_respects_statement_cap(self, g):
        cfg = RetrievalConfig(max_search_results=3, max_statements_per_topic=2)
        out = chunk_based_search(g, "delta echo", cfg).collect()
        for r in out:
            for t in r["topics"]:
                assert len(t["statements"]) <= 2
