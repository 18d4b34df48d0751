"""User-facing façade mirroring the reference's top-level classes so a
reference user can switch engines without relearning the entry points:

- ``LexicalGraphIndex``       ← ``lexical_graph/lexical_graph_index.py``
  (``extract(docs)`` / ``build(extracted)`` / ``extract_and_build(docs)``)
- ``LexicalGraphQueryEngine`` ← ``lexical_graph/lexical_graph_query_engine.py``
  (``for_traversal_based_search`` / ``for_semantic_guided_search`` factory
  constructors, ``retrieve(query)``, ``query(query)`` → ``Response`` with
  per-stage timing metadata, reference :528-548)
- ``ByoKGQueryEngine``        ← ``byokg_rag/byokg_query_engine.py``
  (``query(question)`` → (answer, ordered context))

Everything delegates to the DataFrame operators in this package — the façade
adds no computation, only the reference's call shape: the graph handle is a
``SparkGraphTables`` of DataFrames instead of graph/vector store clients, and
every model call is an injected ``llm(prompt) -> str`` / embedder callable
(deterministic fakes by default, so the whole surface is testable offline).

The handle ``LexicalGraphIndex`` returns is lazy: building it and
constructing an engine on it run no graph work, and the batch ingest path,
which writes each table once, never pays for caching it. The first
``retrieve`` or ``query`` on a handle, from any engine, materializes it in
place (``SparkGraphTables.materialize``: each table is replaced by its eager
local checkpoint); every later call reads those checkpoints instead of
re-running the extraction, node dedups, edge union and embedder. All serving
state lives on the handle, never on an engine: its tables, and ``embed_dim``,
the dimension query vectors are built at. Engines built per call (the MCP
server builds one per ``tools/call``), the caller and the MCP tenant map
therefore share one handle. Its checkpoints last as long as it does, or until
``session.release_blocks`` drops them; the build lineage's own checkpoints
can go as soon as the first retrieve, even while the caller keeps the handle.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame

from graphrag_toolkit_spark import indexing, query_engine
from graphrag_toolkit_spark.fixtures import SparkGraphTables, pseudo_embedding
from graphrag_toolkit_spark.keywords import LLM
from graphrag_toolkit_spark.query_engine import RetrievalConfig


# --- ingestion ----------------------------------------------------------------

class LexicalGraphIndex:
    """§3.1 ingestion entry point (reference
    ``lexical_graph_index.py:572-645``). The reference's two pipeline halves
    are exposed the same way: ``extract`` (chunk → extraction → staged
    tables) and ``build`` (node builders → graph handle), plus the fused
    ``extract_and_build``. Where the reference writes to graph/vector
    stores, this returns the ``SparkGraphTables`` handle the query engines
    consume (persist it with ``sources/sink.py`` writers for incremental
    MERGE semantics)."""

    def __init__(
        self,
        extractor: indexing.Extractor = indexing.rule_extract_statements,
        embed_dim: int = 64,
        ignore_topics: list[str] | None = None,
        ignore_statements_matching: str | None = None,
        classifications: list[str] | None = None,
    ) -> None:
        self.extractor = extractor
        self.embed_dim = embed_dim
        self.ignore_topics = ignore_topics
        self.ignore_statements_matching = ignore_statements_matching
        self.classifications = classifications

    def extract(self, docs: DataFrame) -> dict[str, DataFrame]:
        """Extraction half only — the staged-table boundary (reference S2:
        extract now, build later / elsewhere)."""
        return indexing.extract_and_build(
            docs,
            extractor=self.extractor,
            ignore_topics=self.ignore_topics,
            ignore_statements_matching=self.ignore_statements_matching,
            classifications=self.classifications,
        )

    def build(self, extracted: dict[str, DataFrame]) -> SparkGraphTables:
        """Build half: staged tables → queryable graph handle (+ vector
        indexes via the batched embedder)."""
        return indexing.to_graph_tables(extracted, embed_dim=self.embed_dim)

    def extract_and_build(self, docs: DataFrame) -> SparkGraphTables:
        return self.build(self.extract(docs))


# --- retrieval ----------------------------------------------------------------

def _concat_answer_llm(prompt: str) -> str:
    """Default deterministic 'LLM': echoes the context block — keeps
    ``query()`` runnable offline; inject a real callable for generation."""
    return prompt.split("<context>", 1)[-1].split("</context>", 1)[0].strip()


@dataclass
class Response:
    """Reference ``Response`` analog: answer text + the retrieved rows +
    timing metadata (retrieve_ms / answer_ms / total_ms, reference
    ``lexical_graph_query_engine.py:528-548``)."""

    response: str
    results: DataFrame
    metadata: dict = field(default_factory=dict)


class LexicalGraphQueryEngine:
    """§3.2 retrieval entry point. Factory constructors mirror the
    reference's (``for_traversal_based_search`` :200-260 /
    ``for_semantic_guided_search`` :262-320); ``retrieve`` returns nested
    SearchResult rows, ``query`` renders context and calls the injected
    LLM."""

    def __init__(
        self,
        graph: SparkGraphTables,
        config: RetrievalConfig | None = None,
        llm: LLM | None = None,
        retriever: Callable[[SparkGraphTables, str, RetrievalConfig], DataFrame]
        | None = None,
    ) -> None:
        self.graph = graph
        self.config = config or RetrievalConfig()
        self.llm = llm or _concat_answer_llm
        self._retriever = retriever

    @classmethod
    def for_traversal_based_search(
        cls,
        graph: SparkGraphTables,
        config: RetrievalConfig | None = None,
        llm: LLM | None = None,
    ) -> "LexicalGraphQueryEngine":
        """Chunk-based traversal retrieval (VSS seeds → statement joins →
        processor chain → nested rollup)."""
        return cls(graph, config, llm, retriever=None)

    @classmethod
    def for_semantic_guided_search(
        cls,
        graph: SparkGraphTables,
        config: RetrievalConfig | None = None,
        llm: LLM | None = None,
        beam_width: int = 10,
        max_depth: int = 3,
    ) -> "LexicalGraphQueryEngine":
        """Semantic-guided retrieval: chunk beam search over shared-entity
        sibling chunks seeds the same statement/processor pipeline
        (reference's SemanticGuidedRetriever family / B3)."""
        from graphrag_toolkit_spark.operators.beam import chunk_beam_search
        from graphrag_toolkit_spark.operators.rollup import (
            scored_statement_context,
        )
        from graphrag_toolkit_spark.operators.traversal import (
            chunk_to_statements,
        )

        def retrieve(
            g: SparkGraphTables, query_text: str, cfg: RetrievalConfig
        ) -> DataFrame:
            seeds = chunk_beam_search(
                g, pseudo_embedding(query_text, g.embed_dim),
                seed_top_k=cfg.vss_top_k, beam_width=beam_width,
                max_depth=max_depth,
            ).select("chunk_id").distinct()
            stmt_ids = chunk_to_statements(g, seeds, limit=cfg.intermediate_limit)
            return scored_statement_context(g, stmt_ids)

        return cls(graph, config, llm, retriever=retrieve)

    def retrieve(self, query_text: str) -> DataFrame:
        """Nested SearchResult rows for the query (no LLM), read from the
        graph handle's materialized tables (``SparkGraphTables.materialize``;
        the first retrieve on a handle runs it)."""
        g = self.graph
        g.materialize()
        if self._retriever is None:
            return query_engine.chunk_based_search(g, query_text, self.config)
        return query_engine.processor_tail(
            self._retriever(g, query_text, self.config), self.config
        )

    def query(self, query_text: str) -> Response:
        """retrieve → render context → injected LLM answer, with the
        reference's per-stage timing metadata."""
        t0 = time.monotonic()
        results = self.retrieve(query_text)
        rows = results.collect()
        t1 = time.monotonic()
        context = "\n".join(
            s["value"]
            for r in rows
            for t in (r["topics"] or [])
            for s in (t["statements"] or [])
        )
        answer = self.llm(
            "Answer the question from the context.\n"
            f"<question>\n{query_text}\n</question>\n"
            f"<context>\n{context}\n</context>"
        )
        t2 = time.monotonic()
        return Response(
            response=answer,
            results=results,
            metadata={
                "retrieve_ms": round((t1 - t0) * 1000, 1),
                "answer_ms": round((t2 - t1) * 1000, 1),
                "total_ms": round((t2 - t0) * 1000, 1),
                "num_results": len(rows),
            },
        )


# --- byokg --------------------------------------------------------------------

class ByoKGQueryEngine:
    """§3.3 agentic KGQA entry point (reference
    ``byokg_query_engine.py:119-251``): entity linking + one-hop expansion
    rounds driven by the injected LLM, then answer generation over the
    accumulated verbalized context."""

    def __init__(
        self,
        triples: DataFrame,
        node_names: DataFrame,
        llm: LLM,
        answer_llm: LLM | None = None,
        max_iterations: int = 3,
        link_top_k: int = 1,
    ) -> None:
        self.triples = triples
        self.node_names = node_names
        self.llm = llm
        self.answer_llm = answer_llm or llm
        self.max_iterations = max_iterations
        self.link_top_k = link_top_k

    def retrieve(self, question: str) -> DataFrame:
        """(pos, context) ordered-deduped verbalized triplet lines."""
        from graphrag_toolkit_spark.agentic import agentic_retrieve

        return agentic_retrieve(
            self.triples,
            self.node_names,
            self.llm,
            question,
            max_iterations=self.max_iterations,
            link_top_k=self.link_top_k,
        )

    def query(self, question: str) -> tuple[str, DataFrame]:
        context = self.retrieve(question)
        lines = [r["context"] for r in context.orderBy("pos").collect()]
        answer = self.answer_llm(
            "Answer the question from the context triples.\n"
            f"<question>\n{question}\n</question>\n"
            "<context>\n" + "\n".join(lines) + "\n</context>"
        )
        return answer, context


class CorpusPipeline:
    """Fluent façade over the training-data operators — the configuration
    object a data engineer hands to a scheduler, mirroring how
    `LexicalGraphIndex` wraps the extract/build stages. Each `with_*` call
    enables a stage; `run(docs)` composes the enabled stages into ONE lazy
    DataFrame lineage (Catalyst sees the whole pipeline; nothing
    materializes until the caller writes or counts) and `report(docs)`
    returns the per-stage survivor counts a run log records.

        cleaned = (CorpusPipeline()
                   .with_quality_gate()
                   .with_exact_dedup()
                   .with_near_dedup(threshold=0.7)
                   .with_decontamination(eval_docs)
                   .with_split()
                   .run(docs))
    """

    def __init__(self, text_col: str = "text", id_col: str = "doc_id"):
        self.text_col = text_col
        self.id_col = id_col
        self._stages: list[tuple[str, object]] = []

    def with_quality_gate(self, rules: dict | None = None) -> "CorpusPipeline":
        self._stages.append(("quality_gate", rules))
        return self

    def with_exact_dedup(self) -> "CorpusPipeline":
        self._stages.append(("exact_dedup", None))
        return self

    def with_near_dedup(
        self, k: int = 2, threshold: float = 0.7
    ) -> "CorpusPipeline":
        self._stages.append(("near_dedup", (k, threshold)))
        return self

    def with_decontamination(
        self, eval_docs: DataFrame, n: int = 8
    ) -> "CorpusPipeline":
        self._stages.append(("decontaminate", (eval_docs, n)))
        return self

    def with_split(
        self, val_fraction: float = 0.1, test_fraction: float = 0.1
    ) -> "CorpusPipeline":
        self._stages.append(("split", (val_fraction, test_fraction)))
        return self

    def with_shards(self, n_shards: int) -> "CorpusPipeline":
        self._stages.append(("shard", n_shards))
        return self

    def with_dsir_selection(
        self, target_docs: DataFrame, keep_fraction: float = 0.5,
        n_buckets: int = 256,
    ) -> "CorpusPipeline":
        """DSIR data selection stage: keep the ``keep_fraction`` of the
        surviving corpus most target-like by importance log-weight
        (`sampling.dsir_log_weights`), ties broken by id."""
        self._stages.append(("dsir", (target_docs, keep_fraction, n_buckets)))
        return self

    def with_mixture_weights(
        self, row_col: str, col_col: str, iterations: int = 2
    ) -> "CorpusPipeline":
        """IPF raking stage: append a ``weight`` column balancing the
        (row_col × col_col) marginals (`sampling.ipf_rake`) — a weighting,
        not a filter; downstream samplers/losses consume it."""
        self._stages.append(("rake", (row_col, col_col, iterations)))
        return self

    def _apply(self, docs: DataFrame, name: str, arg) -> DataFrame:
        from graphrag_toolkit_spark.operators import dedup, sampling, textstats
        from graphrag_toolkit_spark.operators.decontam import contamination
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        t, i = self.text_col, self.id_col
        if name == "quality_gate":
            keep = textstats.gopher_gate(docs, t, i, rules=arg).filter(
                F.col("passes")
            ).select(F.col("id").alias(i))
            return docs.join(keep, i, "left_semi")
        if name == "exact_dedup":
            return dedup.exact_dedup(docs, t, i)
        if name == "near_dedup":
            k, threshold = arg
            pairs = dedup.minhash_near_dup_pairs(docs, t, i, k=k, threshold=threshold)
            drop = (
                dedup.connected_components(pairs)
                .filter(F.col("id") != F.col("component"))
                .select(F.col("id").alias(i))
            )
            return docs.join(drop, i, "left_anti")
        if name == "decontaminate":
            eval_docs, n = arg
            bad = contamination(docs, eval_docs, t, i, n=n).select(
                F.col("id").alias(i)
            )
            return docs.join(bad, i, "left_anti")
        if name == "split":
            val_f, test_f = arg
            return sampling.train_val_test_split(
                docs, i, val_fraction=val_f, test_fraction=test_f
            )
        if name == "shard":
            return sampling.shard_corpus(docs, i, n_shards=arg)
        if name == "dsir":
            target, frac, n_buckets = arg
            from graphrag_toolkit_spark.operators import ranks

            w = sampling.dsir_log_weights(docs, target, t, i, n_buckets=n_buckets)
            w = w.localCheckpoint(eager=False)  # bounds + offsets + rank legs
            # top-fraction by weight via the two-phase distributed rank
            # (DESC key → negated bucket key); the exact total rides the
            # tiny bucket table instead of a count() OVER () global window
            ranked = (
                ranks.two_phase_row_number(
                    ranks.with_range_bucket(w, -F.col("dsir_logw")),
                    [F.desc("dsir_logw"), F.asc("id")],
                    out_col="__rk",
                    total_col="__n",
                )
                .filter(F.col("__rk") <= F.ceil(F.lit(frac) * F.col("__n")))
                .select(F.col("id").alias(i))
            )
            return docs.join(ranked, i, "left_semi")
        if name == "rake":
            row_col, col_col, iters = arg
            w = sampling.ipf_rake(docs, row_col, col_col, iterations=iters)
            return docs.join(
                F.broadcast(w.select(row_col, col_col, "weight")),
                [row_col, col_col],
            )
        raise ValueError(f"unknown stage {name!r}")

    def run(self, docs: DataFrame) -> DataFrame:
        out = docs
        for name, arg in self._stages:
            out = self._apply(out, name, arg)
        return out

    def report(self, docs: DataFrame) -> list[dict]:
        """Per-stage survivor counts. Each stage's output is
        ``localCheckpoint``-ed lazily and its ``count`` is the checkpoint's
        materializing action, so stage N's count reads stage N−1's
        materialized partitions instead of re-executing the whole prefix
        lineage (an n-stage report is O(n) stage executions, not O(n²) —
        MinHash pair generation and connected components run once, not
        once per later stage)."""
        rows = [{"stage": "input", "rows": docs.count()}]
        out = docs
        for name, arg in self._stages:
            out = self._apply(out, name, arg).localCheckpoint(eager=False)
            rows.append({"stage": name, "rows": out.count()})
        return rows
