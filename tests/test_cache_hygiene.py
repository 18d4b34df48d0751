"""Cache hygiene: operators persist loop-invariant inputs only inside
`functions.loop.pinned`, which releases them when its block exits, also when
a job fails (long-lived sessions would otherwise accumulate dead cached
tables in executor memory). These tests pin that for the persisting
operators.

The probe is the Catalyst CacheManager (what DataFrame.persist registers
with), NOT sparkContext.getPersistentRDDs — localCheckpoint RDDs legitimately
stay in the latter while the returned DataFrame is alive and are released by
the ContextCleaner when it's collected.
"""

from __future__ import annotations

import logging

import pytest
from pyspark.sql import functions as F

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

    def test_containment_pairs_releases_shingles(self, spark, docs):
        for max_doc_freq in (None, 50):
            dedup.containment_pairs(
                docs, "text", "doc_id", max_doc_freq=max_doc_freq
            ).count()
            assert _df_cache_empty(spark), max_doc_freq

    def test_minhash_near_dup_increment_releases_shingles(self, spark, docs):
        new = F.col("doc_id") % 5 == 0
        dedup.minhash_near_dup_increment(
            docs.filter(~new), docs.filter(new), "text", "doc_id", k=2
        ).count()
        assert _df_cache_empty(spark)

    def test_tfidf_releases_token_cache(self, spark, docs):
        # both scorers, and "!!!" — a query with no terms, which takes
        # BM25's early return
        for scorer in (tfidf_cosine_scores, bm25_scores):
            for query in ("spark filter join", "!!!"):
                scorer(docs, query, "text", "doc_id").count()
                assert _df_cache_empty(spark), (scorer.__name__, query)

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


class TestPinned:
    def test_pinned_releases_on_exit_and_on_error(self, spark):
        from graphrag_toolkit_spark.functions.loop import pinned

        spark.catalog.clearCache()
        df = spark.range(10)
        with pinned(df) as held:
            assert held is df
            assert not _df_cache_empty(spark)
        assert _df_cache_empty(spark)
        with pytest.raises(ValueError, match="body failed"):
            with pinned() as pin:
                pin(spark.range(5))
                pin(spark.range(6))
                raise ValueError("body failed")
        assert _df_cache_empty(spark)


class TestReleaseOnFailure:
    def test_loops_release_persisted_input_when_a_job_fails(self, spark):
        """A failing job inside the loop still releases the persisted
        loop-invariant input."""
        from graphrag_toolkit_spark import fixtures
        from graphrag_toolkit_spark.operators import ann, beam, bfs, centrality, dedup, entity

        def poisoned(good):
            return F.when(F.col("id") == 3, F.raise_error(F.lit("poisoned row"))).otherwise(good)

        edges = spark.range(10).select(
            F.col("id").cast("string").alias("src"),
            poisoned((F.col("id") + 1).cast("string")).alias("dst"),
        )
        emb = spark.range(10).select(
            "id", poisoned(F.array(F.lit(1.0), F.col("id").cast("double"))).alias("embedding")
        )
        seeds = spark.createDataFrame([("0",)], "node_id string")
        triples = edges.withColumn("rel", F.lit("r"))
        docs = spark.range(10).select(
            "id", poisoned(F.concat_ws(" ", F.lit("a b c d"), F.col("id"))).alias("text")
        )
        g = fixtures.generate("t1", seed=42).to_spark(spark)
        g.edges = g.edges.withColumn(
            "dst",
            F.when(
                F.col("etype") == "SUBJECT", F.raise_error(F.lit("poisoned row"))
            ).otherwise(F.col("dst")),
        )
        runs = {
            "multi_hop": lambda: bfs.multi_hop(triples, seeds),
            "follow_metapath": lambda: bfs.follow_metapath(triples, seeds, ["r", "r"]),
            "shortest_paths": lambda: bfs.shortest_paths(edges, seeds),
            "expand_context": lambda: entity.expand_context(
                edges, seeds.withColumnRenamed("node_id", "entity_id")
            ),
            "train_centroids_lloyd": lambda: ann.train_centroids_lloyd(emb, n_centroids=2),
            "katz_centrality": lambda: centrality.katz_centrality(edges, iters=2),
            "pagerank": lambda: centrality.pagerank(edges, iters=2),
            "hits": lambda: centrality.hits(edges, iters=2),
            "personalized_katz": lambda: centrality.personalized_katz(edges, seeds, iters=2),
            "ngram_jaccard_pairs": lambda: dedup.ngram_jaccard_pairs(docs, "text", "id", k=2),
            "minhash_near_dup_pairs": lambda: dedup.minhash_near_dup_pairs(
                docs, "text", "id", k=2
            ),
            "chunk_beam_search": lambda: beam.chunk_beam_search(
                g, fixtures.pseudo_embedding("q"), seed_top_k=3, beam_width=3, max_depth=1
            ),
            "connected_components minlabel": lambda: dedup.connected_components(
                edges.toDF("id_a", "id_b"), algorithm="minlabel"
            ),
        }
        for name, run in runs.items():
            spark.catalog.clearCache()
            # SparkRuntimeException, or a Py4JJavaError wrapping several of
            # them when AQE stages fail concurrently
            with pytest.raises(Exception, match="poisoned row"):
                run().collect()
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


class TestMeasure:
    """`measure.measured` counts what a run submitted and leaves the
    caller's job group as it was; `measure.sweep` releases each query's
    blocks and goes on past a failed query."""

    def test_counts_jobs_stages_and_tasks(self, spark):
        from operator import add

        from graphrag_toolkit_spark.measure import measured

        sc = spark.sparkContext
        rec = measured(
            spark, "two-collects",
            lambda: sc.parallelize(range(8), 4).map(lambda x: (x % 2, x)).reduceByKey(add, 2),
            lambda rdd: (rdd.collect(), rdd.collect()),
        )
        assert rec.error is None and sorted(rec.result[0]) == [(0, 12), (1, 16)]
        # the second collect skips the 4-task map stage the first one ran
        assert (rec.jobs, rec.stages, rec.tasks) == (2, 3, 8)
        assert rec.construct_s >= 0 and rec.action_s > 0

    def test_restores_the_callers_job_group(self, spark):
        from graphrag_toolkit_spark.measure import measured

        sc = spark.sparkContext

        def failing_build():
            raise ValueError("build failed")

        sc.setJobGroup("caller-group", "caller description")
        try:
            ok = measured(spark, "ok", lambda: spark.range(3), lambda df: df.count())
            bad = measured(spark, "bad", failing_build, lambda df: df.count())
            assert sc.getLocalProperty("spark.jobGroup.id") == "caller-group"
            assert sc.getLocalProperty("spark.job.description") == "caller description"
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert ok.error is None and ok.result == 3 and ok.jobs >= 1
        assert isinstance(bad.error, ValueError) and bad.result is None
        assert (bad.jobs, bad.action_s) == (0, 0)

    def test_sweep_releases_eager_checkpoints(self, spark, sf_dir):
        from graphrag_toolkit_spark.measure import sweep
        from graphrag_toolkit_spark.session import release_blocks

        def live_rdds() -> int:
            return spark.sparkContext._jsc.getPersistentRDDs().size()

        release_blocks(spark)
        before = live_rdds()
        recs = list(sweep(
            spark, sf_dir, lambda df: (df.count(), live_rdds()),
            ["minhash_neardup_documents", "typo_pairs_customers"],
        ))
        assert [r.error for r in recs] == [None, None]
        # each query held checkpoint blocks while its frame was read
        assert all(r.result[1] > before for r in recs), [r.result for r in recs]
        assert live_rdds() == before

    def test_sweep_goes_on_after_a_failed_query(self, spark, sf_dir):
        from graphrag_toolkit_spark.measure import sweep

        first, second = sweep(
            spark, sf_dir, lambda df: df.count(),
            ["no_such_query", "q1_pricing_summary"],
        )
        assert isinstance(first.error, KeyError) and first.jobs == 0
        assert second.error is None and second.result > 0 and second.jobs > 0
