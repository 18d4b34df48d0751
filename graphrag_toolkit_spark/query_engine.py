"""Minimum-slice traversal-based retrieval (SURVEY.md §7 step 4; lifecycle
§3.2 stages 5b-7 collapsed into one DataFrame DAG).

Pipeline, matching the reference's query flow without any LLM/service stage:

  chunk VSS seeds (V1+V3, exact cosine + diversity)
    → J1 chunk→statements
    → J2/J3/A2 scored statement context
    → processor chain: dedup (A5) → tfidf rerank (V5) → prune (T5)
      → rescore (A6) → truncate per topic (T2) → truncate results (T3)
    → nested SearchResult rows (A1)

Every processor and the TF-IDF rerank are lazy transforms (``processors.py``,
``tfidf.py``). A chain materializes at most two seed-bounded frames
(≤ ``intermediate_limit`` rows per query), each read several times, with an
eager checkpoint (under AQE a lazy one runs its map stages at construction
anyway); the rest runs inside the caller's one final action:

- the deduped statement pool (``_deduped_pool``): the rerank's tokens, doc
  count, idf and query norm read it, and in ``processor_tail`` the rescore
  and truncate steps, whose column-pruned reads would each re-run the
  un-materialized upstream;
- in ``chunk_search_flat``, the reranked pool: prune, rescore and both
  truncates read it.

A warm traversal query over the sf0.001 graph takes 39 jobs (build plus
final collect) when it reads the handle's materialized tables, as the
`LexicalGraphQueryEngine` calls do (``SparkGraphTables.materialize``), and
61 when it re-runs the handle's build lineage. Measured with that lineage
re-run (63 jobs then): 99 without the deduped-pool checkpoint, 113 without
the reranked-pool one.

No model is in the loop (keyword/entity providers in passthru mode,
reference ``processor_args.py:81-82``), but scores are not bit-exact across
sessions: two of them are double sums in shuffle order, the rerank's TF-IDF
dot product (``tfidf_cosine_scores`` with ``quantize=None``) and the score
sum of ``processors.dedup_results``. Seed-0 serve queries run in five fresh
sessions gave one statement score of "sort row dup value" as
3.1610727900058984 in three and 3.161072790005899 in two; every other row
and query was identical (ROADMAP item 7).
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame

from pyspark.sql import functions as F

from graphrag_toolkit_spark.fixtures import SparkGraphTables, pseudo_embedding
from graphrag_toolkit_spark.functions.littable import lit_table
from graphrag_toolkit_spark.keywords import LLM, get_keywords
from graphrag_toolkit_spark.operators import processors as P
from graphrag_toolkit_spark.operators.entity import lookup_entities
from graphrag_toolkit_spark.operators.rollup import nest_results, scored_statement_context
from graphrag_toolkit_spark.operators.tfidf import rerank_by_tfidf
from graphrag_toolkit_spark.operators.traversal import chunk_to_statements
from graphrag_toolkit_spark.operators.vss import top_k_with_diversity


@dataclass
class RetrievalConfig:
    """Work-bounding defaults mirroring ``processor_args.py:58-116``."""

    vss_top_k: int = 10
    vss_diversity_factor: int = 5
    intermediate_limit: int = 50
    max_search_results: int = 5
    max_statements_per_topic: int = 10
    prune_factor: float = 0.05
    tfidf_alpha: float = 1.0
    extra: dict = field(default_factory=dict)


def entity_chunks(g: SparkGraphTables, entities: DataFrame) -> DataFrame:
    """Entities → the chunks their facts' statements are mentioned in
    (SUBJECT→SUPPORTS→MENTIONED_IN_S walk). The entity set broadcasts —
    seed-driven, never a full-graph pass."""
    subj = g.edges_of("SUBJECT").select(
        F.col("src").alias("entity_id"), F.col("dst").alias("fact_id")
    )
    supports = g.edges_of("SUPPORTS").select(
        F.col("src").alias("fact_id"), F.col("dst").alias("statement_id")
    )
    ms = g.edges_of("MENTIONED_IN_S").select(
        F.col("src").alias("statement_id"), F.col("dst").alias("chunk_id")
    )
    return (
        subj.join(F.broadcast(entities.select("entity_id").distinct()), "entity_id")
        .join(supports, "fact_id")
        .join(ms, "statement_id")
        .select("chunk_id")
        .distinct()
    )


def keyword_seed_chunks(g: SparkGraphTables, keywords: list[str]) -> DataFrame:
    """Keyword → entity → chunk seeding (the reference's entity-context seed
    path, ``traversal_based_base_retriever.py:219-257``): J9 lookup resolves
    keywords to entities; their facts' statements' chunks become traversal
    seeds."""
    spark = g.chunks.sparkSession
    kwdf = lit_table(
        spark, "keyword string", [{"keyword": k} for k in keywords]
    )
    return entity_chunks(g, lookup_entities(g, kwdf))


def chunk_search_flat(
    g: SparkGraphTables,
    query_text: str,
    config: RetrievalConfig | None = None,
    query_vector: list[float] | None = None,
    keyword_provider: str = "passthru",
    entity_provider: str = "graph",
    llm: LLM | None = None,
) -> DataFrame:
    """The retrieval core as FLAT scored statement rows (stages 5b-6 of
    §3.2), before nested assembly — the unit that composite retrieval unions.

    ``keyword_provider`` fills the reference's ``ec_keyword_provider`` matrix
    (llm|vss|nlp|passthru): non-passthru providers extract keywords from the
    query and union entity-matched chunks into the VSS seed set.
    ``entity_provider`` fills the ``ec_entity_provider`` axis: 'graph'
    resolves keywords by J9 string lookup; 'vss' adds degree-ranked entities
    reachable from the query vector's top chunks (EntityVSSProvider,
    ``entity.vss_entities``) regardless of keyword hits. ``query_vector``
    defaults to the query's pseudo-embedding at the handle's ``embed_dim``."""
    cfg = config or RetrievalConfig()
    qvec = query_vector or pseudo_embedding(query_text, g.embed_dim)

    # V1+V3 — seeds with per-source diversity
    emb = g.embeddings_chunk.join(
        g.chunks.select("chunk_id", "source_id"),
        g.embeddings_chunk.id == g.chunks.chunk_id,
    )
    seeds = top_k_with_diversity(
        emb, qvec, id_col="chunk_id", vec_col="embedding",
        group_col="source_id", top_k=cfg.vss_top_k,
        diversity_factor=cfg.vss_diversity_factor,
    ).select("chunk_id")

    if keyword_provider != "passthru":
        kws = [
            k for k in get_keywords(keyword_provider, query_text, llm=llm)
            if k != query_text
        ]
        if kws:
            seeds = seeds.unionByName(keyword_seed_chunks(g, kws)).distinct()
    if entity_provider == "vss":
        from graphrag_toolkit_spark.operators.entity import vss_entities

        ents = vss_entities(g, qvec, index="chunk", limit=cfg.intermediate_limit)
        seeds = seeds.unionByName(entity_chunks(g, ents)).distinct()
    elif entity_provider != "graph":
        raise ValueError(
            f"invalid entity provider {entity_provider!r}: expected graph or vss"
        )

    # J1 → J2/J3/A2
    stmt_ids = chunk_to_statements(g, seeds, limit=cfg.intermediate_limit)
    flat = scored_statement_context(g, stmt_ids)

    # processor chain (flat rows; see processors.py)
    flat = rerank_by_tfidf(
        _deduped_pool(flat), query_text, alpha=cfg.tfidf_alpha
    ).localCheckpoint(eager=True)  # the reranked pool (module docstring)
    flat = P.prune_statements(cfg.prune_factor)(flat)
    return _rescore_truncate(flat, cfg)


def _deduped_pool(flat: DataFrame) -> DataFrame:
    """dedup (A5), checkpointed: the deduped statement pool."""
    return P.dedup_results(flat).localCheckpoint(eager=True)


def _rescore_truncate(flat: DataFrame, cfg: RetrievalConfig) -> DataFrame:
    """rescore (A6) → truncate per topic (T2) → truncate results (T3)."""
    flat = P.rescore_results(flat)
    flat = P.truncate_statements(cfg.max_statements_per_topic)(flat)
    return P.truncate_results(cfg.max_search_results)(flat)


def _nested(flat: DataFrame, cfg: RetrievalConfig) -> DataFrame:
    """A1 — nested assembly, capped at ``max_search_results``."""
    return nest_results(flat.drop("result_score"), max_results=cfg.max_search_results)


def processor_tail(flat: DataFrame, cfg: RetrievalConfig) -> DataFrame:
    """The processor tail for flat rows merged from several branches or
    produced by a custom retriever: materialized dedup (A5) →
    rescore/truncate → nested rows."""
    return _nested(_rescore_truncate(_deduped_pool(flat), cfg), cfg)


def chunk_based_search(
    g: SparkGraphTables,
    query_text: str,
    config: RetrievalConfig | None = None,
    query_vector: list[float] | None = None,
) -> DataFrame:
    """End-to-end chunk-based traversal search → nested SearchResult rows."""
    cfg = config or RetrievalConfig()
    return _nested(chunk_search_flat(g, query_text, cfg, query_vector), cfg)


def composite_search(
    g: SparkGraphTables,
    branches: list[tuple[str, float]],
    config: RetrievalConfig | None = None,
) -> DataFrame:
    """T8 + §3.2 stage 4: weighted union of per-query retrieval branches.
    The reference fans retrievers out over a thread pool and merges; here
    every branch is a ``chunk_search_flat`` chain and the merge is one
    ``processor_tail`` — `union` → shared dedup (scores sum across branches)
    → rescore/truncate → nested rows. Reference:
    ``composite_traversal_based_retriever.py:128-205``."""
    cfg = config or RetrievalConfig()
    flats = [
        (chunk_search_flat(g, q, cfg).drop("result_score"), w) for q, w in branches
    ]
    return processor_tail(P.union_weighted(flats), cfg)


def query_mode(llm: LLM, query_text: str) -> str:
    """Multipart detection (``query_context/query_mode.py:40-47``): ask the
    LLM whether the query decomposes into fully independent parts. Returns
    'simple' or 'complex'; like the reference, any reply not containing
    'single' counts as complex."""
    reply = llm(
        "Is the following user query best described as a single or multipart "
        "query? A multipart query is one that can be decomposed into a list "
        "whose parts are completely independent of one another. Answer "
        f"'single' or 'multipart'.\n\n<query>\n{query_text}\n</query>"
    )
    return "simple" if "single" in reply.strip().lower() else "complex"


def multipart_search(
    g: SparkGraphTables,
    llm: LLM,
    query_text: str,
    config: RetrievalConfig | None = None,
    retriever_fn=None,
    enable_multipart: bool = True,
) -> DataFrame:
    """§2.10 multipart routing (``retrievers/query_mode_retriever.py:27-68``):

    - simple query (or multipart disabled) → one retrieval, full budget;
    - complex query → LLM keyword extraction, one retrieval branch per
      keyword in **passthru** mode with ``max_search_results`` scaled to
      ``⌊max/num_keywords⌋ + 1``, results concatenated (the reference sums
      the per-branch lists without cross-branch dedup).

    The reference fans branches over a thread pool; here each branch is a
    sub-DAG of one union plan — Spark schedules them concurrently. Returns
    nested SearchResult rows. ``retriever_fn(g, query, cfg) -> flat DF``
    is injectable like the reference's ``retriever_fn`` (tests bind spies)."""
    from graphrag_toolkit_spark.keywords import llm_keywords

    cfg = config or RetrievalConfig()
    retrieve = retriever_fn or (
        lambda g_, q_, c_: chunk_search_flat(g_, q_, c_)
    )

    mode = query_mode(llm, query_text) if enable_multipart else "simple"
    if mode == "simple":
        return _nested(retrieve(g, query_text, cfg), cfg)

    keywords = llm_keywords(llm, query_text) or [query_text]
    scaled = int(cfg.max_search_results / len(keywords)) + 1
    sub_cfg = replace(
        cfg,
        max_search_results=scaled,
        extra=dict(cfg.extra, keyword_provider="passthru"),
    )
    flats = [retrieve(g, k, sub_cfg).drop("result_score") for k in keywords]
    merged = flats[0]
    for f in flats[1:]:
        merged = merged.unionByName(f)
    # concatenation parity: no cross-branch dedup/rescore; the nested
    # assembly caps at the ORIGINAL max_search_results like the reference's
    # downstream consumer
    return _nested(merged, cfg)


def decomposed_search(
    g: SparkGraphTables,
    llm,
    query_text: str,
    config: RetrievalConfig | None = None,
    max_subqueries: int = 2,
) -> DataFrame:
    """§3.2 stages 2-3: LLM query decomposition → composite retrieval.
    ``llm(prompt) -> str`` returns newline-separated subqueries (≤ 2 in the
    reference, ``retrieval/utils/query_decomposition.py``); falls back to the
    original query when the LLM returns nothing. Equal branch weights."""
    reply = llm(f"Decompose into at most {max_subqueries} subqueries:\n{query_text}")
    subs = [s.strip() for s in reply.splitlines() if s.strip()][:max_subqueries]
    if not subs:
        subs = [query_text]
    return composite_search(g, [(s, 1.0) for s in subs], config)
