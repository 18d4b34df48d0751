"""Cache hygiene: operators that persist() loop-invariant inputs must release
them before returning (long-lived sessions would otherwise accumulate dead
cached tables in executor memory). bfs.multi_hop set the discipline; these
tests pin it for every other persist site.

The probe is the Catalyst CacheManager (what DataFrame.persist registers
with), NOT sparkContext.getPersistentRDDs — localCheckpoint RDDs legitimately
stay in the latter while the returned DataFrame is alive and are released by
the ContextCleaner when it's collected.
"""

from __future__ import annotations

import logging

import pytest

from graphrag_toolkit_spark.operators import dedup
from graphrag_toolkit_spark.operators.tfidf import bm25_scores, tfidf_cosine_scores
from graphrag_toolkit_spark.session import load


def _df_cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.fixture()
def docs(spark, sf_dir):
    spark.catalog.clearCache()
    return load(spark, sf_dir, "documents")


class TestNoPersistLeak:
    def test_minhash_near_dup_pairs_releases_shingles(self, spark, docs):
        dedup.minhash_near_dup_pairs(docs, "text", "doc_id", k=2).count()
        assert _df_cache_empty(spark)

    def test_ngram_jaccard_pairs_releases_shingles(self, spark, docs):
        dedup.ngram_jaccard_pairs(docs, "text", "doc_id").count()
        assert _df_cache_empty(spark)

    def test_tfidf_releases_token_cache(self, spark, docs):
        # both scorers, both checkpoint modes, and "!!!" — a query with no
        # terms, which takes each scorer's early return
        for scorer in (tfidf_cosine_scores, bm25_scores):
            for checkpoint in (True, False):
                for query in ("spark filter join", "!!!"):
                    scorer(
                        docs, query, "text", "doc_id", checkpoint=checkpoint
                    ).count()
                    assert _df_cache_empty(spark), (
                        scorer.__name__, checkpoint, query
                    )

    def test_connected_components_releases_edges(self, spark):
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (7, 8)], ["id_a", "id_b"]
        )
        spark.catalog.clearCache()
        dedup.connected_components(pairs).count()
        assert _df_cache_empty(spark)

    def test_chunk_beam_search_releases_chunk_entity(self, spark):
        from graphrag_toolkit_spark import fixtures
        from graphrag_toolkit_spark.operators.beam import chunk_beam_search

        g = fixtures.generate("t1", seed=42).to_spark(spark)
        qv = fixtures.pseudo_embedding("hygiene-query")
        spark.catalog.clearCache()
        chunk_beam_search(g, qv, seed_top_k=3, beam_width=3, max_depth=1).count()
        assert _df_cache_empty(spark)

    def test_rank_operators_release_edge_tables(self, spark):
        from graphrag_toolkit_spark.operators import centrality as c

        edges = spark.range(60).selectExpr(
            "cast(id % 12 as string) src",
            "cast((id * 5) % 12 as string) dst",
            "id % 3 + 1 as w",
        )
        seeds = spark.createDataFrame([("0",), ("1",)], "node_id string")
        ops = {
            "katz": lambda: c.katz_centrality(edges, iters=2),
            "katz salted": lambda: c.katz_centrality(edges, iters=2, n_salts=3),
            "personalized katz": lambda: c.personalized_katz(
                edges, seeds, iters=2
            ),
            "pagerank": lambda: c.pagerank(edges, iters=2),
            "weighted pagerank": lambda: c.pagerank(
                edges, iters=2, weight_col="w"
            ),
            "hits": lambda: c.hits(edges, iters=2),
        }
        spark.catalog.clearCache()
        for name, op in ops.items():
            op().count()
            assert _df_cache_empty(spark), name


class TestWarmUp:
    """warm_up (bench/bench_one pre-measurement phase) must be side-effect
    free: no cached frames, no persistent RDD blocks left behind."""

    def test_warm_up_leaves_no_blocks(self, spark, sf_dir):
        from graphrag_toolkit_spark.session import warm_up

        spark.catalog.clearCache()
        warm_up(spark, sf_dir)
        assert _df_cache_empty(spark)
        assert (
            spark.sparkContext._jsc.getPersistentRDDs().size() == 0
        ), "warm_up must release every block it materializes"

    def test_warm_up_logs_missing_tables(self, spark, tmp_path, caplog):
        from graphrag_toolkit_spark.session import warm_up

        with caplog.at_level(logging.WARNING, logger="graphrag_toolkit_spark"):
            warm_up(spark, str(tmp_path))
        assert any(
            "fixture table region" in r.getMessage() for r in caplog.records
        ), [r.getMessage() for r in caplog.records]
