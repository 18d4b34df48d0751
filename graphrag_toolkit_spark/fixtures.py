"""Deterministic lexical-graph fixture generator (FIXTURES.md §1-§6).

Generates the node/edge/embedding tables of SURVEY.md §1.5 with the
structural properties the graph operators need exercised:
- content-addressed ids (same scheme as ``ids.py``) ⇒ idempotent re-gen;
- ~20% of facts shared by statements from 2+ different sources
  (cross-source connectivity for the entity-pair and rollup operators);
- Zipfian entity degree (hub entities ⇒ join skew, like the real graph);
- unit-norm 64-dim pseudo-embeddings derived from content hashes (stable
  cosine rankings, oracle-computable without a model).

Everything is a pure function of (tier, seed) — no wall clock, no global
state. Tables are built in pandas then handed to Spark; at fixture scale
(≤240k facts) this is trivially cheap and keeps the generator debuggable.
"""

from __future__ import annotations

import hashlib
import threading
from dataclasses import dataclass, field, fields

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

EMBED_DIM = 64

CLASSIFICATIONS = [
    "Person", "Organization", "Location", "Event", "Product", "Concept",
    "Technology", "Date", "Metric", "Process", "Role", "Document",
]
LOCAL_ENTITY = "__Local_Entity__"

PREDICATES = [
    "WORKS_AT", "LOCATED_IN", "PART_OF", "CREATED_BY", "USES", "OWNS",
    "REPORTS_TO", "MENTIONS", "DEPENDS_ON", "SUPPLIES", "ACQUIRED", "LEADS",
]

_VOCAB = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima "
    "mike november oscar papa quebec romeo sierra tango uniform victor whiskey "
    "xray yankee zulu ember quartz cobalt onyx topaz"
).split()


def _h(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def _node_id(kind: str, *vals: str) -> str:
    # full-width like ids.node_id — truncated ids birthday-collide at the
    # bench tier (160k statements > the 32-bit ~65k bound)
    return _h("::".join((kind,) + vals))


def pseudo_embedding(text: str, dim: int = EMBED_DIM) -> list[float]:
    """Unit-norm embedding from content hash: reproducible anywhere (Python,
    Spark UDF, even SQL if needed) without a model. Mirrors the role of the
    reference's embedder behind a deterministic stand-in (SURVEY V8)."""
    raw = b""
    i = 0
    while len(raw) < dim * 4:
        raw += hashlib.sha256(f"{text}::{i}".encode()).digest()
        i += 1
    arr = np.frombuffer(raw[: dim * 4], dtype="<u4").astype(np.float64)
    arr = (arr / 2**32) * 2.0 - 1.0
    arr /= np.linalg.norm(arr)
    return [float(x) for x in arr]


@dataclass
class GraphTables:
    sources: pd.DataFrame
    chunks: pd.DataFrame
    topics: pd.DataFrame
    statements: pd.DataFrame
    facts: pd.DataFrame
    entities: pd.DataFrame
    edges: pd.DataFrame
    embeddings_chunk: pd.DataFrame
    embeddings_statement: pd.DataFrame
    embeddings_topic: pd.DataFrame

    def to_spark(self, spark: SparkSession) -> "SparkGraphTables":
        def conv(df: pd.DataFrame) -> DataFrame:
            return spark.createDataFrame(df)

        return SparkGraphTables(**{k: conv(v) for k, v in self.__dict__.items()})


@dataclass
class SparkGraphTables:
    """A lexical graph as ten DataFrames, plus the dimension of its three
    embedding tables. ``embed_dim`` is set by whoever makes those tables:
    ``indexing.to_graph_tables`` passes its own ``embed_dim``; fixture and
    hand-built handles take ``EMBED_DIM``. Query vectors are built at that
    dimension, so no job reads it back from the data."""

    sources: DataFrame
    chunks: DataFrame
    topics: DataFrame
    statements: DataFrame
    facts: DataFrame
    entities: DataFrame
    edges: DataFrame
    embeddings_chunk: DataFrame
    embeddings_statement: DataFrame
    embeddings_topic: DataFrame
    embed_dim: int = EMBED_DIM
    _materialized: bool = field(default=False, init=False, repr=False, compare=False)
    _lock: threading.Lock = field(
        default_factory=threading.Lock, init=False, repr=False, compare=False
    )

    def edges_of(self, etype: str) -> DataFrame:
        return self.edges.filter(self.edges.etype == etype).select("src", "dst", "value")

    def materialize(self) -> None:
        """Replace each table of this handle with its eager local checkpoint:
        the state a query engine serves from. Runs once, under a lock, so
        concurrent first calls checkpoint once; later calls run no job.
        Tables assigned to the handle after that are served as they are.

        The lineage the tables were built from is no longer referenced by
        the handle, so its own checkpoints can be released while the caller
        keeps the handle. The new checkpoints live as long as the handle, or
        until ``session.release_blocks`` drops them; a query on the handle
        after that fails."""
        with self._lock:
            if not self._materialized:
                for name, table in _checkpointed(self).items():
                    setattr(self, name, table)
                self._materialized = True


def _checkpointed(g: SparkGraphTables) -> dict[str, DataFrame]:
    """Each table of ``g`` under an eager local checkpoint, by field name.
    The jobs carry a description naming the table and stay in the caller's
    job group."""
    sc = g.chunks.sparkSession.sparkContext
    caller = sc.getLocalProperty("spark.job.description")
    tables = {}
    try:
        for f in fields(g):
            if f.type == "DataFrame":
                sc.setJobDescription(f"materialize graph table {f.name}")
                tables[f.name] = getattr(g, f.name).localCheckpoint(eager=True)
    finally:
        sc.setLocalProperty("spark.job.description", caller)
    return tables


TIERS = {
    # sources, chunks, statements, facts, entities  (FIXTURES.md §7)
    "t1": (5, 50, 400, 600, 150),
    "t2": (50, 1000, 8000, 12000, 2000),
    "bench": (500, 20000, 160000, 240000, 30000),
}


def generate(tier: str = "t1", seed: int = 42) -> GraphTables:
    n_sources, n_chunks, n_statements, n_facts, n_entities = TIERS[tier]
    rng = np.random.default_rng(seed)

    def words(n: int) -> str:
        return " ".join(rng.choice(_VOCAB, size=n))

    # --- entities (Zipfian degree realized later by sampling weights) -------
    ent_rows = []
    for i in range(n_entities):
        value = f"{words(2)} {i}"
        is_local = i % 11 == 10  # ~9% local entities (SPC complements)
        cls = LOCAL_ENTITY if is_local else CLASSIFICATIONS[i % len(CLASSIFICATIONS)]
        ent_rows.append(
            {
                "entity_id": _node_id("entity", value, cls),
                "value": value,
                "classification": cls,
                "search_str": value.lower(),
            }
        )
    entities = pd.DataFrame(ent_rows)
    # Zipf weights over entity indices → hub entities
    zipf_w = 1.0 / np.arange(1, n_entities + 1) ** 1.1
    zipf_w /= zipf_w.sum()

    # --- sources + chunks ---------------------------------------------------
    src_rows, chunk_rows, edge_rows = [], [], []
    chunks_per_source = max(1, n_chunks // n_sources)
    for s in range(n_sources):
        text_seed = f"source {s} {words(6)}"
        source_id = f"aws::{_h(text_seed)[:8]}:{_h(f'meta{s}')[:4]}"
        src_rows.append(
            {
                "source_id": source_id,
                "metadata": {"url": f"https://example.com/{s}", "author": f"author{s % 7}"},
                "valid_from": -1,
                "valid_to": 10_000_000_000_000,
                "tenant_id": "",
            }
        )
        prev_chunk = None
        for c in range(chunks_per_source):
            text = f"chunk {s}-{c}: {words(24)}"
            chunk_id = f"{source_id}:{_h(text)[:8]}"
            chunk_rows.append(
                {"chunk_id": chunk_id, "source_id": source_id, "chunk_index": c, "text": text}
            )
            edge_rows.append({"src": chunk_id, "dst": source_id, "etype": "EXTRACTED_FROM", "value": None})
            if prev_chunk is not None:
                edge_rows.append({"src": prev_chunk, "dst": chunk_id, "etype": "NEXT", "value": None})
            prev_chunk = chunk_id
    sources = pd.DataFrame(src_rows)
    chunks = pd.DataFrame(chunk_rows)

    # --- topics (a topic can be mentioned in several chunks of its source) --
    topics_per_source = 3
    topic_rows = []
    chunk_by_source: dict[str, list[str]] = {}
    for r in chunk_rows:
        chunk_by_source.setdefault(r["source_id"], []).append(r["chunk_id"])
    for s_row in src_rows:
        sid = s_row["source_id"]
        for t in range(topics_per_source):
            value = f"topic {words(3)}"
            topic_id = _node_id("topic", sid, value)
            topic_rows.append({"topic_id": topic_id, "value": value})
            # mentioned in 1-3 chunks of this source
            n_m = int(rng.integers(1, min(3, len(chunk_by_source[sid])) + 1))
            start = int(rng.integers(0, len(chunk_by_source[sid])))
            for k in range(n_m):
                ck = chunk_by_source[sid][(start + k) % len(chunk_by_source[sid])]
                edge_rows.append({"src": topic_id, "dst": ck, "etype": "MENTIONED_IN_T", "value": None})
    topics = pd.DataFrame(topic_rows)

    # topic -> list of its mentioned chunks (for statement placement)
    topic_chunks: dict[str, list[str]] = {}
    for e in edge_rows:
        if e["etype"] == "MENTIONED_IN_T":
            topic_chunks.setdefault(e["src"], []).append(e["dst"])
    topic_ids = [t["topic_id"] for t in topic_rows]

    # --- statements ---------------------------------------------------------
    stmt_rows = []
    per_topic: dict[str, list[str]] = {t: [] for t in topic_ids}
    for i in range(n_statements):
        topic_id = topic_ids[i % len(topic_ids)]
        value = f"statement {i}: {words(8)}"
        statement_id = _node_id("statement", topic_id, value)
        chunk_id = topic_chunks[topic_id][i % len(topic_chunks[topic_id])]
        idx = len(per_topic[topic_id])
        details = [f"detail {words(4)}"] if i % 3 == 0 else []
        stmt_rows.append(
            {
                "statement_id": statement_id,
                "topic_id": topic_id,
                "chunk_id": chunk_id,
                "value": value,
                "details": details,
                "stmt_index": idx,
            }
        )
        edge_rows.append({"src": statement_id, "dst": chunk_id, "etype": "MENTIONED_IN_S", "value": None})
        edge_rows.append({"src": statement_id, "dst": topic_id, "etype": "BELONGS_TO", "value": None})
        if per_topic[topic_id]:
            edge_rows.append(
                {"src": statement_id, "dst": per_topic[topic_id][-1], "etype": "PREVIOUS", "value": None}
            )
        per_topic[topic_id].append(statement_id)
    statements = pd.DataFrame(stmt_rows)
    stmt_source = {
        r["statement_id"]: r["chunk_id"].rsplit(":", 1)[0] for r in stmt_rows
    }

    # --- facts (SPO + ~15% SPC; ~20% supported by 2+ statements) ------------
    fact_rows = []
    ent_ids = entities["entity_id"].to_numpy()
    ent_vals = entities["value"].to_numpy()
    ent_cls = entities["classification"].to_numpy()
    global_idx = np.flatnonzero(ent_cls != LOCAL_ENTITY)
    local_idx = np.flatnonzero(ent_cls == LOCAL_ENTITY)
    gw = zipf_w[global_idx] / zipf_w[global_idx].sum()
    stmt_ids = statements["statement_id"].to_numpy()
    seen_facts: set[str] = set()
    for i in range(n_facts):
        si = global_idx[rng.choice(len(global_idx), p=gw)]
        pred = PREDICATES[int(rng.integers(0, len(PREDICATES)))]
        is_spc = rng.random() < 0.15 and len(local_idx) > 0
        if is_spc:
            oi = local_idx[int(rng.integers(0, len(local_idx)))]
            object_id, complement_id = None, ent_ids[oi]
        else:
            oi = global_idx[rng.choice(len(global_idx), p=gw)]
            object_id, complement_id = ent_ids[oi], None
        value = f"{ent_vals[si]} [{ent_cls[si]}] {pred} {ent_vals[oi]}"
        fact_id = _node_id("fact", value)
        # one statement supports it; ~20% get a second from a different source
        s1 = stmt_ids[int(rng.integers(0, len(stmt_ids)))]
        supports = [s1]
        if rng.random() < 0.2:
            for _ in range(10):
                s2 = stmt_ids[int(rng.integers(0, len(stmt_ids)))]
                if stmt_source[s2] != stmt_source[s1]:
                    supports.append(s2)
                    break
        if fact_id not in seen_facts:
            seen_facts.add(fact_id)
            fact_rows.append(
                {
                    "fact_id": fact_id,
                    "subject_id": ent_ids[si],
                    "predicate": pred,
                    "object_id": object_id,
                    "complement_id": complement_id,
                    "value": value,
                }
            )
            edge_rows.append({"src": ent_ids[si], "dst": fact_id, "etype": "SUBJECT", "value": None})
            other = object_id if object_id is not None else complement_id
            edge_rows.append({"src": other, "dst": fact_id, "etype": "OBJECT", "value": None})
            edge_rows.append(
                {"src": ent_ids[si], "dst": other, "etype": "RELATION", "value": pred}
            )
        for s in supports:
            edge_rows.append({"src": fact_id, "dst": s, "etype": "SUPPORTS", "value": None})
    facts = pd.DataFrame(fact_rows)

    edges = pd.DataFrame(edge_rows).drop_duplicates(
        subset=["src", "dst", "etype"], ignore_index=True
    )

    def emb_table(df: pd.DataFrame, id_col: str, text_col: str) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "id": df[id_col],
                "embedding": [pseudo_embedding(t) for t in df[text_col]],
            }
        )

    return GraphTables(
        sources=sources,
        chunks=chunks,
        topics=topics,
        statements=statements,
        facts=facts,
        entities=entities,
        edges=edges,
        embeddings_chunk=emb_table(chunks, "chunk_id", "text"),
        embeddings_statement=emb_table(statements, "statement_id", "value"),
        embeddings_topic=emb_table(topics, "topic_id", "value"),
    )


# --- byokg triples fixture (FIXTURES.md §6) ----------------------------------

def generate_triples(n_nodes: int = 200, n_rels: int = 20, seed: int = 42) -> pd.DataFrame:
    """Connected triple store with known path structure: a ring backbone
    (guarantees connectivity) + random chords, ~n_rels relation types."""
    rng = np.random.default_rng(seed)
    rels = [f"rel_{i}" for i in range(n_rels)]
    rows = []
    for i in range(n_nodes):
        rows.append(
            {"src": f"n{i}", "rel": rels[i % n_rels], "dst": f"n{(i + 1) % n_nodes}"}
        )
    for _ in range(n_nodes * 3):
        a, b = int(rng.integers(0, n_nodes)), int(rng.integers(0, n_nodes))
        if a != b:
            rows.append(
                {"src": f"n{a}", "rel": rels[int(rng.integers(0, n_rels))], "dst": f"n{b}"}
            )
    return pd.DataFrame(rows).drop_duplicates(ignore_index=True)


def generate_node_names(n_nodes: int = 200, seed: int = 42) -> pd.DataFrame:
    """node_id → human name, with deterministic near-miss misspellings for
    fuzzy-linking tests."""
    rng = np.random.default_rng(seed + 1)
    rows = []
    for i in range(n_nodes):
        w1, w2 = _VOCAB[i % len(_VOCAB)], _VOCAB[(i * 7 + 3) % len(_VOCAB)]
        name = f"{w1} {w2} {i}"
        rows.append({"node_id": f"n{i}", "name": name})
    return pd.DataFrame(rows)
