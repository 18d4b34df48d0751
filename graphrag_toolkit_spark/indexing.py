"""Extract-and-build ingestion pipeline (SURVEY §3.1): documents → chunks →
extraction → content-addressed node/edge tables (+ optional embeddings).

Reference flow (``lexical_graph_index.py:572-645``): reader → chunking → LLM
proposition/topic extraction → node builders minting deterministic ids →
graph + vector sinks. Here the whole flow is ONE declarative DataFrame DAG:
no per-chunk round-trips, no thread pools — the explode/dedup stages are the
only shuffles, and ``dropDuplicates(id)`` on content-addressed ids gives
MERGE semantics (idempotent re-ingestion, cross-source fact dedup) for free.

The extraction stage is pluggable (``extractor=``): production would be an
LLM via batched ``mapInPandas`` (SURVEY §4 "custom work" item 3); the default
``rule_extract_statements`` is a deterministic rule-based stand-in built from
JVM-side expressions only, so the entire pipeline is whole-stage-codegen'd
AND reproducible in ANSI SQL for the DuckDB oracle:

- statements: consecutive ``window`` -token windows of the chunk text;
- topic per chunk: the chunk's first token (equal topics merge globally);
- facts per statement: (subject = statement's first token, 'near',
  object = each distinct token of length ≥ ``entity_min_len``);
- entities: subjects (class 'Head') and objects (class 'Term').

Id discipline mirrors ``ids.py``: equal content ⇒ equal id ⇒ one row after
dedup, which is exactly the reference's Cypher MERGE outcome.
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from graphrag_toolkit_spark import ids

STATEMENT_WINDOW = 8
ENTITY_MIN_LEN = 5

Extractor = Callable[[DataFrame], DataFrame]


# --- stage 1: documents → chunk rows -----------------------------------------

def docs_to_chunks(docs: DataFrame) -> DataFrame:
    """One chunk per document (the workload corpus is single-chunk sized;
    multi-chunk splitting is ``sources.chunking.chunk_documents``, which
    emits the same contract). Ids are content-addressed per ``ids.py``."""
    meta = F.concat_ws(";", F.col("lang"), F.col("source"))
    sid = ids.source_id(F.col("text"), meta)
    return docs.select(
        sid.alias("source_id"),
        ids.chunk_id(sid, F.col("text"), meta).alias("chunk_id"),
        F.lit(0).alias("chunk_index"),
        F.col("text"),
    )


# --- stage 1b: domain adaptation (InferClassifications) ----------------------

# reference indexing/constants.py:11-23
DEFAULT_ENTITY_CLASSIFICATIONS = [
    "Company", "Location", "Event", "Sports Team", "Person", "Role",
    "Product", "Service", "Creative Work", "Software", "Financial Instrument",
]

_CLASSIFICATIONS_RE = re.compile(
    r"<entity_classifications>(.*?)</entity_classifications>", re.DOTALL
)


def _parse_classifications(response_text: str) -> list[str]:
    m = _CLASSIFICATIONS_RE.search(response_text)
    if not m:
        return []
    return [ln.strip() for ln in m.group(1).strip().split("\n") if ln.strip()]


def infer_classifications(
    chunks: DataFrame,
    llm,
    num_samples: int = 5,
    num_iterations: int = 1,
    num_classifications: int = 15,
    default_classifications: list[str] | None = None,
) -> list[str]:
    """§2.10 InferClassifications — the seed-classification feedback stage of
    ``indexing/extract/infer_classifications.py:126-172``: sample chunks,
    ask the LLM for domain entity classifications (reply wrapped in
    ``<entity_classifications>`` tags, one per line), accumulate across
    iterations, then rank-and-truncate with a second prompt; fall back to
    the defaults when nothing parses.

    The reference uses ``random.sample``; here sampling is a deterministic
    content-hash order (stable across runs/partitionings, same discipline as
    ``operators/sampling.py``). Only the ≤ ``num_samples×num_iterations``
    sampled texts are collected to the driver — the LLM loop is identically
    driver-side in the reference.
    """
    defaults = (
        DEFAULT_ENTITY_CLASSIFICATIONS
        if default_classifications is None
        else default_classifications
    )
    sampled = [
        r["text"]
        for r in chunks.select("text", F.md5(F.col("chunk_id")).alias("_h"))
        .orderBy("_h")
        .limit(num_samples * num_iterations)
        .collect()
    ]
    found: set[str] = set()
    for i in range(num_iterations):
        batch = sampled[i * num_samples : (i + 1) * num_samples]
        if not batch:
            break
        formatted = "\n".join(f"<chunk>{t}</chunk>" for t in batch)
        reply = llm(
            "Identify domain-specific entity classifications present in the "
            "following chunks. Reply with one classification per line inside "
            "<entity_classifications></entity_classifications> tags.\n"
            f"{formatted}\n\nExisting classifications:\n" + "\n".join(defaults)
        )
        found.update(_parse_classifications(reply))

    if not found:
        return list(defaults)

    formatted = "\n".join(sorted(c.title() for c in found))
    reply = llm(
        "Rank the following entity classifications from most to least "
        "useful for indexing this domain. Reply inside "
        "<entity_classifications></entity_classifications> tags, one per "
        f"line.\n{formatted}"
    )
    ranked = _parse_classifications(reply)[:num_classifications]
    return ranked if ranked else list(defaults)


def classification_for(value: Column, classifications: list[str]) -> Column:
    """Deterministic stand-in for the LLM assigning one of the inferred
    classifications to an entity value: content-hash pick (same 28-bit md5
    bucket arithmetic as ``operators/sampling.py`` — engine-portable and
    stable under re-ingestion)."""
    arr = F.array(*[F.lit(c) for c in classifications])
    idx = (
        F.conv(F.substring(F.md5(value), 1, 7), 16, 10).cast("long")
        % F.lit(len(classifications))
    ).cast("int")
    return F.element_at(arr, idx + 1)


# --- stage 2: extraction (pluggable; default = deterministic rules) ----------

def rule_extract_statements(
    chunks: DataFrame, window: int = STATEMENT_WINDOW
) -> DataFrame:
    """Chunk text → (source_id, chunk_id, topic_id, topic, statement_idx,
    statement_id, value) — one row per ``window``-token statement window.
    Pure column expressions; an LLM extractor plugs in here with the same
    output contract via ``mapInPandas``."""
    toks = F.split(F.col("text"), " ")
    n_stmts = F.ceil(F.size(toks) / F.lit(window)).cast("int")
    wins = F.transform(
        F.sequence(F.lit(0), n_stmts - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i * window + 1, window)),
    )
    topic = F.element_at(toks, 1)
    topic_id = ids.node_id("topic", topic)
    exploded = chunks.select(
        "source_id", "chunk_id",
        topic_id.alias("topic_id"), topic.alias("topic"),
        F.posexplode(wins).alias("statement_idx", "value"),
    )
    return exploded.withColumn(
        "statement_id",
        ids.node_id("statement", F.col("topic_id"), F.col("value")),
    )


def extract_facts(
    statements: DataFrame,
    entity_min_len: int = ENTITY_MIN_LEN,
    classifications: list[str] | None = None,
    include_classification_in_entity_id: bool = True,
) -> DataFrame:
    """Statement rows → fact rows (statement_id, subject, object, value,
    fact_id, subject_entity_id, object_entity_id, subject_class,
    object_class). Subject = the statement's first token; objects = every
    distinct other token of length ≥ ``entity_min_len`` (the SPO shape of
    ``indexing/model.py:159-190`` with a rule-based stand-in for the LLM's
    argument selection).

    ``classifications``: inferred domain classifications (the
    ``infer_classifications`` feedback) — entities are classed by a
    deterministic content-hash pick from the list instead of the default
    Head/Term scheme; ids mint from (value, class), so the seed
    classifications propagate into the entity table and every edge that
    references it.

    ``include_classification_in_entity_id`` (reference
    ``id_generator.py:146-150`` / ``GraphRAGConfig``): True (default, the
    reference default) mints entity ids from (value, classification) —
    'Apple the company' and 'Apple the fruit' stay separate nodes; False
    mints from value alone, so the same surface form is ONE entity node
    across classifications (the id-space SURVEY §7 flags as a hard part —
    both modes are first-class here and tested)."""
    toks = F.split(F.col("value"), " ")
    subject = F.element_at(toks, 1)
    objects = F.array_distinct(
        F.filter(
            toks,
            lambda t: (F.length(t) >= entity_min_len) & (t != subject),
        )
    )
    out = statements.select(
        "statement_id",
        subject.alias("subject"),
        F.explode(objects).alias("object"),
    )
    if classifications:
        subj_class = classification_for(F.col("subject"), classifications)
        obj_class = classification_for(F.col("object"), classifications)
    else:
        subj_class, obj_class = F.lit("Head"), F.lit("Term")
    return out.select(
        "statement_id", "subject", "object",
        F.concat_ws(" ", F.col("subject"), F.lit("near"), F.col("object")).alias("value"),
        ids.node_id("fact", F.col("subject"), F.col("object")).alias("fact_id"),
        (
            ids.node_id("entity", F.col("subject"), subj_class)
            if include_classification_in_entity_id
            else ids.node_id("entity", F.col("subject"))
        ).alias("subject_entity_id"),
        (
            ids.node_id("entity", F.col("object"), obj_class)
            if include_classification_in_entity_id
            else ids.node_id("entity", F.col("object"))
        ).alias("object_entity_id"),
        subj_class.alias("subject_class"),
        obj_class.alias("object_class"),
    )


# --- stage 3: build — node + edge tables with MERGE semantics ----------------

def extract_and_build(
    docs: DataFrame,
    extractor: Extractor = rule_extract_statements,
    entity_min_len: int = ENTITY_MIN_LEN,
    ignore_topics: list[str] | None = None,
    ignore_statements_matching: str | None = None,
    classifications: list[str] | None = None,
    include_classification_in_entity_id: bool = True,
) -> dict[str, DataFrame]:
    """Full §3.1 pipeline → {sources, chunks, topics, statements, facts,
    entities, edges}. One linear DAG per table; every table is deduped on its
    content-addressed id (idempotent re-ingestion; identical facts from
    different sources collapse to one row, as in the reference).

    ``ignore_topics`` / ``ignore_statements_matching`` are the P6 build
    filters (reference ``indexing/build/build_filters.py``, applied in
    ``statement_node_builder.py:108,117``): dropped rows never reach the
    node tables or the fact explosion — plain pushed-down predicates.

    ``classifications``: inferred domain classifications from
    ``infer_classifications`` — propagated into entity rows (and the ids
    they mint) via ``extract_facts``."""
    # the three extraction stages fan out into EVERY returned table (chunks
    # ×3, stmts ×7 counting the edge legs, facts ×5): lazy lineage breaks
    # make each stage compute once for however many tables a caller
    # materializes (guide §3.3) — with an injected mapInPandas LLM
    # extractor this is the difference between one model pass over the
    # corpus and one per output table.
    chunks = docs_to_chunks(docs).localCheckpoint(eager=False)
    stmts = extractor(chunks)
    if ignore_topics:
        stmts = stmts.filter(~F.col("topic").isin(list(ignore_topics)))
    if ignore_statements_matching:
        stmts = stmts.filter(~F.col("value").rlike(ignore_statements_matching))
    stmts = stmts.localCheckpoint(eager=False)
    facts = extract_facts(
        stmts, entity_min_len, classifications=classifications,
        include_classification_in_entity_id=include_classification_in_entity_id,
    ).localCheckpoint(eager=False)

    sources = chunks.select("source_id").distinct()
    # exact-duplicate documents mint identical chunk ids (and identical rows)
    # — dedup is the MERGE
    chunk_nodes = chunks.select(
        "chunk_id", "source_id", "chunk_index", "text"
    ).dropDuplicates(["chunk_id"])
    topic_nodes = stmts.select(
        "topic_id", F.col("topic").alias("value")
    ).dropDuplicates(["topic_id"])
    # same statement text under the same topic in two chunks → same id; keep
    # the lexicographically-first location so the MERGE survivor is
    # deterministic (dropDuplicates would pick an arbitrary row). Struct-min
    # in a hash aggregate — no window, scales like any groupBy.
    stmt_nodes = (
        stmts.groupBy("statement_id", "topic_id", "value")
        .agg(F.min(F.struct("chunk_id", "statement_idx")).alias("_loc"))
        .select(
            "statement_id",
            F.col("_loc.chunk_id").alias("chunk_id"),
            "topic_id",
            F.col("_loc.statement_idx").alias("statement_idx"),
            "value",
        )
    )
    fact_nodes = facts.select(
        "fact_id", "subject", "object", "value",
        "subject_entity_id", "object_entity_id",
    ).dropDuplicates(["fact_id"])
    entities = (
        facts.select(
            F.col("subject_entity_id").alias("entity_id"),
            F.col("subject").alias("value"),
            F.col("subject_class").alias("classification"),
        )
        .unionByName(
            facts.select(
                F.col("object_entity_id").alias("entity_id"),
                F.col("object").alias("value"),
                F.col("object_class").alias("classification"),
            )
        )
        .groupBy("entity_id")
        .agg(F.min(F.struct("value", "classification")).alias("_v"))
        .select(
            "entity_id",
            F.col("_v.value").alias("value"),
            F.col("_v.classification").alias("classification"),
        )
        # deterministic survivor: with include_classification_in_entity_id
        # =False the same id can carry Head AND Term rows (same value seen
        # as subject and object) — struct-min picks one stably where
        # dropDuplicates would pick arbitrarily. In the default id space
        # each id has a unique (value, classification), so this is the
        # same result as dedup-by-id.
    )

    def edge(df: DataFrame, src: str, dst: str, etype: str) -> DataFrame:
        return df.select(
            F.col(src).alias("src"), F.col(dst).alias("dst"),
            F.lit(etype).alias("etype"),
        ).dropDuplicates(["src", "dst"])

    # per-chunk statement linked list (reference: statement PREVIOUS chain,
    # statement_graph_builder.py:132-134). Chain over DISTINCT window slots —
    # re-ingested duplicate chunks repeat each slot and a raw lag would mint
    # phantom self-edges; self-loops from merged identical statements are
    # dropped for the same reason.
    w = Window.partitionBy("chunk_id").orderBy("statement_idx")
    prev = (
        stmts.select("chunk_id", "statement_idx", "statement_id").distinct()
        .withColumn("_prev", F.lag("statement_id").over(w))
        .filter(F.col("_prev").isNotNull() & (F.col("_prev") != F.col("statement_id")))
        .select(
            F.col("statement_id").alias("src"), F.col("_prev").alias("dst"),
            F.lit("PREVIOUS").alias("etype"),
        )
        .dropDuplicates(["src", "dst"])
    )

    # edge labels follow the engine-wide convention (FIXTURES.md §3):
    # MENTIONED_IN_T = topic→chunk, MENTIONED_IN_S = statement→chunk
    edges = (
        edge(chunks, "chunk_id", "source_id", "EXTRACTED_FROM")
        .unionByName(edge(stmts, "topic_id", "chunk_id", "MENTIONED_IN_T"))
        .unionByName(edge(stmts, "statement_id", "chunk_id", "MENTIONED_IN_S"))
        .unionByName(edge(stmts, "statement_id", "topic_id", "BELONGS_TO"))
        .unionByName(edge(facts, "fact_id", "statement_id", "SUPPORTS"))
        .unionByName(edge(facts, "subject_entity_id", "fact_id", "SUBJECT"))
        .unionByName(edge(facts, "object_entity_id", "fact_id", "OBJECT"))
        .unionByName(prev)
    ).withColumn("value", F.lit(None).cast("string"))

    return {
        "sources": sources,
        "chunks": chunk_nodes,
        "topics": topic_nodes,
        "statements": stmt_nodes,
        "facts": fact_nodes,
        "entities": entities,
        "edges": edges,
    }


# --- adapter: built tables → queryable graph ---------------------------------

def to_graph_tables(build: dict[str, DataFrame], embed_dim: int = 64):
    """Adapt ``extract_and_build`` output to the ``SparkGraphTables`` contract
    the retrieval operators consume — the handoff between the build side
    (§3.1) and the query side (§3.2). Embeddings for the chunk/statement/
    topic indexes (storage/constants.py:5-6) come from the batched embedder.
    """
    from graphrag_toolkit_spark.fixtures import SparkGraphTables
    from graphrag_toolkit_spark.functions.text import search_string

    statements = build["statements"].select(
        "statement_id", "chunk_id", "topic_id", "value",
        F.lit("").alias("details"),
        F.col("statement_idx").alias("stmt_index"),
    )
    facts = build["facts"].select(
        "fact_id", "value",
        F.col("subject_entity_id").alias("subject_id"),
        F.col("object_entity_id").alias("object_id"),
        F.lit("near").alias("predicate"),
    )
    entities = build["entities"].withColumn(
        "search_str", search_string(F.col("value"))
    )
    return SparkGraphTables(
        sources=build["sources"],
        chunks=build["chunks"],
        topics=build["topics"],
        statements=statements,
        facts=facts,
        entities=entities,
        edges=build["edges"],
        embeddings_chunk=embed_values(build["chunks"], "chunk_id", "text", embed_dim)
        .withColumnRenamed("chunk_id", "id"),
        embeddings_statement=embed_values(statements, "statement_id", "value", embed_dim)
        .withColumnRenamed("statement_id", "id"),
        embeddings_topic=embed_values(
            build["topics"], "topic_id", "value", embed_dim
        ).withColumnRenamed("topic_id", "id"),
        embed_dim=embed_dim,
    )


# --- V8: batched fake embedder (the model-call plumbing) ---------------------

def embed_values(
    df: DataFrame, id_col: str, text_col: str, dim: int = 64
) -> DataFrame:
    """(id, embedding array<float>) via Arrow-batched ``mapInPandas`` — the
    real shape of a model-inference stage (SURVEY V8): batch in, batch out,
    deterministic stand-in model (``fixtures.pseudo_embedding``). Swap the
    inner function for a real encoder client; batching/retry lives here, not
    in the planner."""
    import pandas as pd

    from graphrag_toolkit_spark.fixtures import pseudo_embedding

    schema = f"{id_col} string, embedding array<float>"
    src = df.select(F.col(id_col).cast("string").alias(id_col), F.col(text_col))

    def run(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "embedding": [pseudo_embedding(t, dim) for t in pdf[text_col]],
                }
            )

    return src.mapInPandas(run, schema=schema)
