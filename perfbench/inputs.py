"""Seeded inputs, fixed data locations and result fingerprints.

Everything the workloads feed the package is generated here from ``--seed``
and the parquet files under ``perfbench/data`` (copies of the fixture tables
the workloads read). The package receives only these generated inputs.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import struct
from datetime import date, datetime
from decimal import Decimal

HERE = os.path.dirname(os.path.abspath(__file__))
# the sf0.001 fixture tables, read by every workload
DATA = os.path.join(HERE, "data")
FINGERPRINTS = os.path.join(HERE, "fingerprints.json")

# the seed whose serve queries have stored result fingerprints
DEFAULT_SEED = 0

# iterative construction-phase loops (centrality, bfs, dedup), the tfidf
# operator serve's rerank shares, and the typo-pair fan-out
ANALYTICS_QUERIES = (
    "katz_centrality_graph",
    "bfs_shortest_paths",
    "neardup_clusters_documents",
    "tfidf_documents",
    "typo_pairs_customers",
)

# node and embedding tables of a graph handle: id column, and the node
# table whose ids an embedding table carries
STORE_TABLES = {
    "sources": ("source_id", "sources"),
    "chunks": ("chunk_id", "chunks"),
    "topics": ("topic_id", "topics"),
    "statements": ("statement_id", "statements"),
    "facts": ("fact_id", "facts"),
    "entities": ("entity_id", "entities"),
    "embeddings_chunk": ("id", "chunks"),
    "embeddings_statement": ("id", "statements"),
    "embeddings_topic": ("id", "topics"),
}

# share of the first ingest batch that the second batch sends again
RESEND_SHARE = 0.1


def read_documents(sf_dir: str):
    import pyarrow.parquet as pq

    return pq.read_table(os.path.join(sf_dir, "documents.parquet")).to_pandas()


def serve_queries(seed: int) -> list[str]:
    """Query texts of 3-6 tokens drawn from the corpus vocabulary."""
    vocab = sorted({w for text in read_documents(DATA).text for w in text.split()})
    rng = random.Random(seed)
    return [" ".join(rng.choices(vocab, k=rng.randint(3, 6))) for _ in range(32)]


def ingest_batches(seed: int) -> list[list[int]]:
    """Two doc-id batches over the whole ingest corpus: a seeded half, then
    the other half plus a seeded share of the first half sent again."""
    ids = sorted(int(i) for i in read_documents(DATA).doc_id)
    rng = random.Random(seed)
    rng.shuffle(ids)
    first, second = ids[: len(ids) // 2], ids[len(ids) // 2 :]
    resent = rng.sample(first, int(len(first) * RESEND_SHARE))
    return [sorted(first), sorted(second + resent)]


def analytics_order(seed: int) -> list[str]:
    order = list(ANALYTICS_QUERIES)
    random.Random(seed).shuffle(order)
    return order


# --- fingerprints -------------------------------------------------------------

def _canon(v) -> str:
    if v is None:
        return "-"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        return "nan" if math.isnan(v) else struct.pack(">d", v).hex()
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, Decimal):
        return str(v)
    return str(v)


def rows_fingerprint(rows: list[dict]) -> dict:
    """Row count plus an order-insensitive hash of the rows; floats compare
    bit-exactly, columns by name."""
    lines = sorted("|".join(_canon(r[k]) for k in sorted(r)) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return {"rows": len(rows), "hash": h.hexdigest()[:16]}


def load_fingerprints() -> dict:
    with open(FINGERPRINTS) as f:
        return json.load(f)
