"""Extract-and-build pipeline invariants (SURVEY §3.1): content-addressed
idempotency, cross-source fact dedup, MERGE-survivor determinism, and the
Arrow-batched embedder plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graphrag_toolkit_spark import indexing
from graphrag_toolkit_spark.fixtures import pseudo_embedding

DOCS = [
    # two sources sharing the fact window "alpha ... engine ..." → fact dedup
    {"doc_id": 1, "lang": "en", "source": "a",
     "text": "alpha engine merges tables fast under heavy load"},
    {"doc_id": 2, "lang": "en", "source": "b",
     "text": "alpha engine merges tables fast under heavy load"},
    {"doc_id": 3, "lang": "en", "source": "a",
     "text": "beta stream joins windows slowly while reading events beta stream joins windows slowly while reading events"},
    # two DISTINCT statement windows → a real PREVIOUS chain edge
    {"doc_id": 4, "lang": "en", "source": "a",
     "text": "gamma scans filter tables daily before nightly loads gamma writes output partitions hourly after compaction finishes"},
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS)


@pytest.fixture(scope="module")
def build(docs):
    return {k: v.localCheckpoint(eager=True)
            for k, v in indexing.extract_and_build(docs).items()}


class TestExtractAndBuild:
    def test_identical_text_different_source_one_chunk_per_source(self, build):
        # doc 1 and 2: same text, different metadata → different source ids,
        # different chunk ids (chunk id embeds the source id)
        assert build["sources"].count() == 4
        assert build["chunks"].count() == 4

    def test_statement_windows(self, build):
        # doc 3 has 16 tokens = 2 windows of 8, but both windows repeat the
        # same 8-token text → same (topic, value) → ONE statement after merge
        stmts = build["statements"]
        assert stmts.filter(F.col("value").startswith("beta")).count() == 1
        # docs 1/2 share one 8-token window under topic 'alpha'
        assert stmts.filter(F.col("value").startswith("alpha")).count() == 1

    def test_cross_source_fact_dedup(self, build):
        # 'alpha near engine' extracted from both sources → single fact row
        facts = build["facts"].filter(
            (F.col("subject") == "alpha") & (F.col("object") == "engine")
        )
        assert facts.count() == 1

    @staticmethod
    def _rows(df):
        return sorted(tuple(r) for r in df.collect())

    def test_merge_survivor_deterministic(self, docs):
        a = indexing.extract_and_build(docs)["statements"]
        b = indexing.extract_and_build(docs)["statements"]
        assert self._rows(a) == self._rows(b)

    def test_reingestion_idempotent(self, spark, docs):
        # union of corpus with itself builds byte-identical tables
        twice = indexing.extract_and_build(docs.unionByName(docs))
        once = indexing.extract_and_build(docs)
        for k in once:
            assert self._rows(once[k]) == self._rows(twice[k]), k

    def test_edge_types_present(self, build):
        etypes = {r["etype"] for r in build["edges"].select("etype").distinct().collect()}
        assert etypes == {
            "EXTRACTED_FROM", "MENTIONED_IN_T", "MENTIONED_IN_S", "BELONGS_TO",
            "SUPPORTS", "SUBJECT", "OBJECT", "PREVIOUS",
        }

    def test_previous_chain_within_chunk(self, spark):
        one = spark.createDataFrame([
            {"doc_id": 9, "lang": "en", "source": "x",
             "text": " ".join(f"tok{i} filler aaaaa bbbbb ccccc ddddd eeeee fffff"
                              for i in range(3))},
        ])
        edges = indexing.extract_and_build(one)["edges"]
        assert edges.filter(F.col("etype") == "PREVIOUS").count() == 2


class TestBuildFilters:
    def test_ignore_topics_drops_whole_topic(self, docs):
        out = indexing.extract_and_build(docs, ignore_topics=["alpha"])
        stmts = out["statements"]
        assert stmts.filter(F.col("value").startswith("alpha")).count() == 0
        assert out["topics"].filter(F.col("value") == "alpha").count() == 0

    def test_ignore_statement_regex(self, docs):
        out = indexing.extract_and_build(
            docs, ignore_statements_matching="^beta"
        )
        assert out["statements"].filter(F.col("value").startswith("beta")).count() == 0
        # other topics untouched
        assert out["statements"].count() > 0


class TestBuildThenQuery:
    def test_full_lifecycle_extract_build_search(self, docs):
        # §3.1 build → §3.2 query over the BUILT graph, end to end
        from graphrag_toolkit_spark import query_engine
        from graphrag_toolkit_spark.api import LexicalGraphQueryEngine

        g = indexing.to_graph_tables(indexing.extract_and_build(docs), embed_dim=16)
        out = query_engine.chunk_based_search(g, "alpha engine merges tables")
        rows = out.collect()
        assert len(rows) > 0
        top = rows[0]
        assert {f.name for f in out.schema} == {"source_id", "score", "topics"}
        assert len(top["topics"]) > 0
        assert len(top["topics"][0]["statements"]) > 0
        # the engine and the functional path both embed the query at the
        # handle's 16 dims. A 64-dim vector scores NULL against them, so its
        # one VSS seed is the first chunk (topic alpha), not the best (beta)
        cfg = query_engine.RetrievalConfig(vss_top_k=1)
        q = "beta stream joins windows"
        served = LexicalGraphQueryEngine.for_traversal_based_search(g, cfg)
        assert served.retrieve(q).collect() == (
            query_engine.chunk_based_search(g, q, cfg).collect()
        )


class TestEmbedValues:
    def test_matches_python_reference(self, spark):
        df = spark.createDataFrame([{"id": "a", "text": "hello world"}])
        out = indexing.embed_values(df, "id", "text", dim=8).collect()
        assert len(out) == 1
        got = out[0]["embedding"]
        want = pseudo_embedding("hello world", 8)
        assert got == pytest.approx(want, abs=1e-6)

    def test_batched_shape(self, spark):
        df = spark.createDataFrame([{"id": str(i), "text": f"t{i}"} for i in range(50)])
        out = indexing.embed_values(df, "id", "text", dim=4)
        assert out.count() == 50
        assert out.schema["embedding"].dataType.simpleString() == "array<float>"


class TestInferClassifications:
    """§2.10 InferClassifications (indexing/extract/infer_classifications.py):
    deterministic fake LLM; seed classifications must propagate into entity
    rows and the ids they mint."""

    WRAPPED = (
        "<entity_classifications>\nEngine\nPipeline\n</entity_classifications>"
    )

    def test_infer_parses_and_ranks(self, docs):
        chunks = indexing.docs_to_chunks(docs)
        prompts = []

        def fake_llm(prompt):
            prompts.append(prompt)
            return self.WRAPPED

        got = indexing.infer_classifications(chunks, fake_llm, num_samples=2)
        assert got == ["Engine", "Pipeline"]
        assert len(prompts) == 2                      # 1 sample round + 1 rank
        assert "<chunk>" in prompts[0]
        assert "Rank" in prompts[1]

    def test_unparseable_reply_falls_back_to_defaults(self, docs):
        chunks = indexing.docs_to_chunks(docs)
        got = indexing.infer_classifications(chunks, lambda p: "no tags here")
        assert got == indexing.DEFAULT_ENTITY_CLASSIFICATIONS

    def test_classifications_propagate_into_entity_rows(self, docs):
        inferred = ["Engine", "Pipeline"]
        build = indexing.extract_and_build(docs, classifications=inferred)
        classes = {r["classification"] for r in build["entities"].collect()}
        assert classes <= set(inferred)
        assert classes                                 # at least one entity
        # ids mint from (value, classification): the same build WITHOUT
        # classifications yields disjoint entity ids
        default_ids = {
            r["entity_id"]
            for r in indexing.extract_and_build(docs)["entities"].collect()
        }
        classified_ids = {
            r["entity_id"] for r in build["entities"].collect()
        }
        assert default_ids.isdisjoint(classified_ids)

    def test_entity_id_space_toggle(self, docs):
        """Both id spaces of id_generator.py:146-150 are first-class:
        default (True) mints entity ids from (value, classification) so a
        value seen as subject (Head) and object (Term) is TWO nodes; False
        mints from value alone, collapsing them to one — and the edge
        tables stay consistent with whichever entity table was built."""
        spark = docs.sparkSession
        # 'sparkle' is an OBJECT in statement window 1 (tokens 1-8) and
        # the SUBJECT of window 2 (token 9) — the value the two id spaces
        # disagree about
        overlap_docs = spark.createDataFrame(
            [{"doc_id": 1, "lang": "en", "source": "a",
              "text": "motor sparkle filter window joins shuffle merges "
                      "sorted sparkle output partition hourly"}]
        )
        with_cls = indexing.extract_and_build(overlap_docs)
        without = indexing.extract_and_build(
            overlap_docs, include_classification_in_entity_id=False
        )

        def by_value(build):
            out = {}
            for r in build["entities"].collect():
                out.setdefault(r["value"], set()).add(r["entity_id"])
            return out

        v_with, v_without = by_value(with_cls), by_value(without)
        # value-only ids: exactly one node per surface form
        assert all(len(ids_) == 1 for ids_ in v_without.values())
        # some value must appear as both Head and Term in the fixture so
        # the toggle is actually exercised (two ids under the default)
        assert any(len(ids_) == 2 for ids_ in v_with.values())
        # the two id spaces are disjoint (different hash preimages)
        all_with = set().union(*v_with.values())
        all_without = set().union(*v_without.values())
        assert all_with.isdisjoint(all_without)
        # referential integrity: every SUBJECT/OBJECT edge endpoint and
        # every fact's entity ref exists in the matching entity table
        for build, ids_ in ((with_cls, all_with), (without, all_without)):
            ends = {
                r["src"]
                for r in build["edges"]
                .filter(F.col("etype").isin("SUBJECT", "OBJECT"))
                .collect()
            }
            assert ends <= ids_
            refs = {
                x
                for r in build["facts"].collect()
                for x in (r["subject_entity_id"], r["object_entity_id"])
            }
            assert refs == ids_

    def test_classification_assignment_deterministic(self, docs):
        inferred = ["Engine", "Pipeline", "Storage"]
        a = sorted(
            map(str, indexing.extract_and_build(docs, classifications=inferred)["entities"].collect())
        )
        b = sorted(
            map(str, indexing.extract_and_build(docs, classifications=inferred)["entities"].collect())
        )
        assert a == b


class TestFusedBuildCounts:
    def test_fused_counts_equal_per_table_counts(self, spark, sf_dir):
        """extract_build_counts computes per-table row counts WITHOUT
        materializing the build tables (fused multi-countDistinct per
        extraction stage); this pins the fused form against the naive
        per-table counts over the real extract_and_build output."""
        from graphrag_toolkit_spark.session import load
        from graphrag_toolkit_spark.workload.pipeline import extract_build_counts

        fused = {
            r["table_name"]: r["n_rows"]
            for r in extract_build_counts(spark, sf_dir).collect()
        }
        build = indexing.extract_and_build(load(spark, sf_dir, "documents"))
        naive = {name: df.count() for name, df in build.items()}
        assert fused == naive
