"""§3.2 composition (composite weighted retrieval, LLM query decomposition),
the retrieval chain's materialization and V7 reranker plumbing —
deterministic fakes, fixture graph."""

from __future__ import annotations

import hashlib
import json
import uuid

import pytest
from pyspark.sql import functions as F

from graphrag_toolkit_spark import fixtures, query_engine
from graphrag_toolkit_spark.operators import rerank


@pytest.fixture(scope="module")
def g(spark):
    return fixtures.generate("t1").to_spark(spark)


class TestCompositeSearch:
    def test_composite_matches_single_when_one_branch(self, g):
        single = query_engine.chunk_based_search(g, "alpha beta")
        comp = query_engine.composite_search(g, [("alpha beta", 1.0)])
        assert {r["source_id"] for r in single.collect()} == {
            r["source_id"] for r in comp.collect()
        }

    def test_two_branches_union(self, g):
        out = query_engine.composite_search(
            g, [("alpha beta", 1.0), ("gamma delta", 0.5)]
        )
        rows = out.collect()
        assert 0 < len(rows) <= query_engine.RetrievalConfig().max_search_results

    def test_decomposed_search_uses_llm_subqueries(self, g):
        prompts = []

        def fake_llm(prompt: str) -> str:
            prompts.append(prompt)
            return "alpha beta\ngamma delta"

        out = query_engine.decomposed_search(g, fake_llm, "alpha beta gamma delta")
        assert out.count() > 0
        assert "Decompose" in prompts[0]

    def test_decomposed_search_falls_back_to_query(self, g):
        out = query_engine.decomposed_search(g, lambda p: "", "alpha beta")
        assert out.count() > 0


class TestCrossEncoderRerank:
    @pytest.fixture(scope="class")
    def stmts(self, spark):
        return spark.createDataFrame(
            [
                {"id": 1, "value": "spark joins tables with hash partitioning"},
                {"id": 2, "value": "completely unrelated cooking recipe text"},
                {"id": 3, "value": "spark shuffles data between partitions"},
            ]
        )

    def test_scores_monotone_in_overlap(self, stmts):
        out = rerank.cross_encoder_rerank(
            stmts, "spark partitions", text_col="value"
        ).collect()
        by_id = {r["id"]: r["rerank_score"] for r in out}
        assert by_id[3] > by_id[2]
        assert by_id[1] > by_id[2]

    def test_schema_preserved_plus_score(self, stmts):
        out = rerank.cross_encoder_rerank(stmts, "q", text_col="value")
        assert out.columns == ["id", "value", "rerank_score"]

    def test_rerank_and_truncate_total_order(self, stmts):
        out = rerank.rerank_and_truncate(
            stmts, "spark partitions", id_col="id", top_k=2
        ).collect()
        assert [r["id"] for r in out] == [3, 1]

    def test_batching_covers_all_rows(self, spark):
        df = spark.createDataFrame(
            [{"id": i, "value": f"text {i}"} for i in range(200)]
        )
        out = rerank.cross_encoder_rerank(df, "text", batch_size=16)
        assert out.count() == 200


def _fingerprint(rows) -> str:
    """sha256 of the nested rows as JSON: ``repr`` round-trips every float,
    so equal fingerprints mean bit-exact scores."""
    payload = json.dumps([r.asDict(recursive=True) for r in rows], sort_keys=True)
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


def _jobs_submitted(spark, fn) -> int:
    """Spark jobs ``fn()`` submits, counted under a fresh job group."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _multipart_llm(prompt: str) -> str:
    return "multipart" if "single or multipart" in prompt else "alpha^gamma delta"


class TestRetrievalChain:
    """Each retrieval chain materializes once (its deduped statement pool);
    every processor is a lazy transform."""

    # fingerprints of the nested rows on the t1 fixture: any change to a
    # value, a float's last bit or the row order shows here
    GOLDEN = {
        "chunk_based_search": "e8e95f85a3cd65b6",
        "composite_search": "06c94cff1b391cf3",
        "semantic_guided": "81ca43d2a97eea58",
        "multipart_search": "bc7b82866121a639",
    }

    @pytest.mark.parametrize("call", sorted(GOLDEN))
    def test_nested_rows_unchanged(self, g, call):
        from graphrag_toolkit_spark.api import LexicalGraphQueryEngine

        run = {
            "chunk_based_search": lambda: query_engine.chunk_based_search(
                g, "alpha beta"
            ),
            "composite_search": lambda: query_engine.composite_search(
                g, [("alpha beta", 1.0), ("gamma delta", 0.5)]
            ),
            "semantic_guided": lambda: LexicalGraphQueryEngine
            .for_semantic_guided_search(g)
            .retrieve("alpha beta"),
            "multipart_search": lambda: query_engine.multipart_search(
                g, _multipart_llm, "alpha and gamma delta"
            ),
        }[call]
        assert _fingerprint(run().collect()) == self.GOLDEN[call]

    def test_processors_submit_no_jobs(self, spark):
        from graphrag_toolkit_spark.operators import processors as P

        pool = spark.createDataFrame(
            [
                (s, t, f"{s}{t}{i}", "v", float(i * 7 % 5))
                for s in "ab" for t in "xyz" for i in range(4)
            ],
            "source_id string, topic_id string, statement_id string, "
            "value string, score double",
        ).localCheckpoint(eager=True)

        def chain():
            flat = P.dedup_results(pool)
            flat = P.prune_statements(0.05)(flat)
            flat = P.rescore_results(flat)
            flat = P.truncate_statements(2)(flat)
            return P.truncate_results(1)(flat)

        assert _jobs_submitted(spark, chain) == 0

    def test_warm_retrieve_job_count(self, spark, g):
        from graphrag_toolkit_spark.api import LexicalGraphQueryEngine

        # another module's cached frames over the same t1 tables would swap
        # cache scans into the plan and change the count
        spark.catalog.clearCache()
        engine = LexicalGraphQueryEngine.for_traversal_based_search(g)
        engine.retrieve("alpha beta").collect()
        warm = _jobs_submitted(
            spark, lambda: engine.retrieve("alpha beta").collect()
        )
        # AQE varies the count by a job or two between identical calls
        assert warm <= 49
