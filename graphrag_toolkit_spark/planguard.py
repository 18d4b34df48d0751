"""Physical-plan guard: no single-partition Window over unbounded input.

``Window.orderBy(...)`` with no ``partitionBy`` compiles to
``Exchange SinglePartition → Sort → Window`` — ONE task sorts the entire
input. At fixture scale it's invisible; at 100 TB it's the job. The repo's
replacement is the two-phase distributed rank (``operators/ranks.py``);
this module is the tripwire that keeps the anti-pattern from returning.

``singlepartition_window_violations(df)`` walks the (pre-AQE) physical plan
string and reports every Window fed by a SinglePartition exchange whose
input subtree is not PROVABLY BOUNDED. Boundedness is STRUCTURAL (round 8):
a subtree is bounded iff its root is a bounding node or EVERY child branch
is bounded — a flat any-line scan would let a corpus⋈offsets join pass just
because the tiny ``__tpb`` aggregate sits somewhere inside it. Bounding
nodes:

- an aggregate keyed on a bucket column (``__tpb*`` — the two-phase rank's
  ≤``ranks.DEFAULT_BUCKETS``-row offsets table, or an explicitly
  allowlisted bounded grouping key like a 64-dim ``dim`` or the Z-order
  ``zb`` coarse bucket), or
- a ``TakeOrderedAndProject`` / ``GlobalLimit`` / ``CollectLimit`` (top-N
  bounded), or
- a ``Generate``/``Expand``-free scalar aggregate (``keys=[]`` produces one
  row — those windows are 1-row frames).

Anything else is a violation: a full-frame single-partition sort whose
input grows with the data.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout
from dataclasses import dataclass

from pyspark.sql import DataFrame

# Grouping-key COLUMN NAMES that bound an aggregate's output independent of
# input size. An aggregate is bounded only when EVERY key attribute matches
# one of these (compound keys multiply cardinality — (event_type, user_id)
# is NOT bounded just because event_type is). Matching is by attribute name
# (the `name#id` tokens in keys=[...]); "prefix" entries match any name
# starting with the string, "exact" entries the whole name.
BOUNDED_AGG_KEYS: list[tuple[str, str, str]] = [
    ("__tpb", "prefix", "two-phase rank bucket table: <= ranks.DEFAULT_BUCKETS rows"),
    ("zb", "exact", "Z-order coarse bucket: <= 1024 Morton-top-bit buckets"),
    ("dim", "exact", "per-embedding-dimension table: <= vector width (64/128) rows"),
    ("__hgb", "prefix", "histogram_sketch bucket: <= construction-fixed bucket count"),
    ("event_type", "exact",
     "workload enum domain (stratum tables for Neyman/burstiness): dozens of types"),
    ("day", "exact", "calendar-bounded: <= ~36.5k rows even over a century"),
    ("lang", "exact", "language codes: <= a few hundred"),
]

_AGG_RE = re.compile(r"(HashAggregate|SortAggregate|ObjectHashAggregate)\(keys=\[([^\]]*)\]")
_BOUNDED_NODES = (
    "TakeOrderedAndProject",
    "GlobalLimit",
    "CollectLimit",
)
# WindowGroupLimit is Spark's partial per-partition top-k for rank<=k
# filters. It bounds the subtree ONLY when its partition spec is empty
# (global top-k: <= k rows per map partition, bounded by parallelism) or
# every partition key is itself a bounded domain (BOUNDED_AGG_KEYS). A
# WindowGroupLimit keyed on a data-dependent column (top-k PER user_id)
# emits k rows PER KEY — unbounded — so it must NOT short-circuit the
# scan. Plan line shape: "WindowGroupLimit [part#1, ...], [ord#2 ASC], ..."
_WGL_RE = re.compile(r"WindowGroupLimit\s*\[([^\]]*)\]")


@dataclass
class Violation:
    window_line: str
    exchange_line: str
    subtree_head: str


def plan_of(df: DataFrame, mode: str = "formatted") -> str:
    """What ``df.explain(mode)`` prints; builds the plan, runs no job."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def plan_string(df: DataFrame) -> str:
    # the final section is the physical plan (pre-AQE, full operator args)
    return plan_of(df, "extended").split("== Physical Plan ==")[-1]


def _depth(line: str) -> int:
    """Tree depth of a plan line: the column where the node name starts.
    Spark indents children by 3 chars per level with '+- ', ':- ', ':  ',
    '   ' prefixes."""
    m = re.match(r"^[ :+|-]*", line)
    return m.end() if m else 0


def _subtree(lines: list[str], i: int) -> list[str]:
    d = _depth(lines[i])
    out = []
    for j in range(i + 1, len(lines)):
        if lines[j].strip() == "":
            break
        if _depth(lines[j]) <= d:
            break
        out.append(lines[j])
    return out


# Registry queries whose global window is bounded only by an API CONTRACT
# the physical plan cannot express. EMPTY since the round-7 processor
# rewrites (token budget -> two-phase cumsum; prune max -> scalar-aggregate
# broadcast): every remaining global window is plan-provably bounded.
# Adding a name here requires a written argument AND a SCALE.md row;
# tests/test_plans.py pins the exact membership.
CONTRACT_BOUNDED: dict[str, str] = {}

_KEY_ATTR_RE = re.compile(r"(\w+)#\d+")


def _keys_bounded(keys: str) -> bool:
    names = _KEY_ATTR_RE.findall(keys)
    if not names:
        return False
    def ok(name: str) -> bool:
        for pat, kind, _ in BOUNDED_AGG_KEYS:
            if (kind == "prefix" and name.startswith(pat)) or name == pat:
                return True
        return False
    return all(ok(n) for n in names)


def _line_is_bound(ln: str) -> bool:
    """A node whose OUTPUT cardinality is input-size-independent regardless
    of what sits below it."""
    if any(n in ln for n in _BOUNDED_NODES):
        return True
    wgl = _WGL_RE.search(ln)
    if wgl is not None:
        part = wgl.group(1)
        return part.strip() == "" or _keys_bounded(part)
    m = _AGG_RE.search(ln)
    if m:
        keys = m.group(2)
        return keys.strip() == "" or _keys_bounded(keys)
    return False


def _child_roots(lines: list[str], i: int) -> list[int]:
    """Indices of the DIRECT children of the node at ``lines[i]`` — the
    minimum-depth lines inside its subtree block."""
    d = _depth(lines[i])
    end = i + 1
    while end < len(lines) and lines[end].strip() and _depth(lines[end]) > d:
        end += 1
    if end == i + 1:
        return []
    child_d = min(_depth(lines[j]) for j in range(i + 1, end))
    return [j for j in range(i + 1, end) if _depth(lines[j]) == child_d]


def _node_bounded(lines: list[str], i: int, extra_leaf=None) -> bool:
    """STRUCTURAL boundedness of the subtree rooted at ``lines[i]``: the
    root is a bounding node, or EVERY child branch is bounded. A flat
    any-line-in-the-subtree scan is unsound — a join of the corpus with the
    two-phase rank's tiny ``__tpb`` offsets table contains a bounded-key
    aggregate deep inside yet is corpus-sized; requiring every leaf branch
    to pass through a bound closes that false-negative class (round 8)."""
    ln = lines[i]
    if _line_is_bound(ln):
        return True
    if extra_leaf is not None and extra_leaf(ln):
        return True
    # the original of a ReusedExchange is audited at its own site
    if "ReusedExchange" in ln or "ReusedSubquery" in ln:
        return True
    kids = _child_roots(lines, i)
    if not kids:
        return False  # non-bounding leaf: a data-sized scan
    return all(_node_bounded(lines, k, extra_leaf) for k in kids)


def _is_bounded(lines: list[str], i: int, extra_leaf=None) -> bool:
    """Boundedness of the INPUT of the node at ``lines[i]`` (its children)."""
    kids = _child_roots(lines, i)
    if not kids:
        return False
    return all(_node_bounded(lines, k, extra_leaf) for k in kids)


# ---------------------------------------------------------------------------
# Broadcast-hint audit (round-8): a hint-forced F.broadcast() of a table that
# GROWS with the data is a hard job failure at scale (Spark's 8 GB broadcast
# cap / driver OOM), not a slow plan — the same "invisible at fixture scale"
# failure family as the global windows above, one tier down. The audit runs
# with spark.sql.autoBroadcastJoinThreshold=-1 so estimate-based broadcasts
# (which AQE re-plans safely at real sizes) disappear from the plan and every
# surviving BroadcastExchange is HINT-FORCED. Each one's subtree must be
# provably bounded:
#   - a limit / TakeOrderedAndProject / bounded WindowGroupLimit,
#   - a scalar or bounded-key aggregate (BOUNDED_AGG_KEYS),
#   - a literal LocalTableScan or a small literal Range,
#   - a Scan ExistingRDD *allowlisted by query* (createDataFrame of a
#     driver-collected, bounded-by-construction table — centroids, codebooks,
#     spines; the plan text cannot distinguish these from a checkpointed
#     corpus leg, so each needs a written bound in BROADCAST_CONTRACT).
# ---------------------------------------------------------------------------

# Queries whose hinted broadcast is bounded by REQUEST or CONSTRUCTION
# contract the plan cannot express — a driver-created literal frame (plans
# as Scan ExistingRDD, indistinguishable from a checkpointed corpus leg), a
# retrieval-request seed set, an injected model table. Key: query name;
# value: the written cardinality/byte bound (mirrored in SCALE.md's
# broadcast-audit table). tests/test_plans.py pins the exact membership so
# entries can't accumulate without a reviewed argument.
BROADCAST_CONTRACT: dict[str, str] = {
    # --- retrieval-request seeds (frontier/id/keyword sets a caller sends
    #     with ONE query; bounded by max_search_results × beam ≈ 10^2-10^3
    #     rows regardless of corpus size) ---
    "chunk_statements_orders": "seed chunk ids: one request's vector hits",
    "statement_facts_orders": "seed statement ids: one request's frontier",
    "entity_fact_walk_suppliers": "seed entity ids: one request's frontier",
    "entity_pair_paths_parts": "seed entity PAIRS: one request's anchors",
    "topic_adjacency_parts": "seed topic ids: one request's frontier",
    "topic_overlap_suppliers": "seed topic ids: one request's frontier",
    "topic_sources_parts": "seed topic ids: one request's frontier",
    "entity_lookup_parts": "query keyword set: one request, dozens of terms",
    "cascade_delete_counts": "delete-request source ids: one API call's batch",
    "fetch_embeddings_by_id": "requested id list: one API call's batch",
    "dense_link_embeddings": "query-side mention embeddings: request batch",
    "hard_negatives_embeddings": "anchor batch: request-sized (5 here)",
    "boolean_and_search_documents": "literal query terms (LocalRelation-like)",
    # --- construction-fixed tables (size set by operator parameters, not
    #     input rows) ---
    "ann_lsh_topk": "query vectors: request batch",
    "ann_ivf_topk": "n_centroids rows + query batch",
    "ann_ivf_kmeans_topk": "n_centroids rows + query batch",
    "ann_ivf_pq_topk": "n_centroids + m*256 codebook rows + query batch",
    "ann_ivf_recall": "n_centroids rows + query batch + per-query probes",
    "bloom_filter_orders": "bloom bitmap: bits/32 words (128 here), fixed",
    "psi_events": "bucket edges: event_type enum x (B-1)=9 order statistics",
    "token_budget_mix_documents": "per-domain budgets: curated mixture "
                                  "domains (dozens)",
    # --- injected literal model tables (driver-provided constants; plans
    #     as Scan ExistingRDD) ---
    "ngram_lm_documents": "injected bigram/unigram log-prob tables; for a "
                          "GB-scale KenLM swap to shuffle joins (docstring)",
    "language_id_documents": "LANG_LEXICON literal: fixed few-hundred rows",
    "mixed_language_documents": "LANG_LEXICON literal: fixed few-hundred rows",
    "tokenizer_fertility_by_lang": "LANG_LEXICON literal: fixed rows",
    "quality_classifier_documents": "CLASSIFIER_WEIGHTS literal: fixed rows",
    "training_data_pipeline": "composed gates' literal weight/lexicon tables",
    # --- eval benchmarks (MB-scale by the operator's documented contract) ---
    "ranking_eval_embeddings": "qrels + query vectors: eval benchmark",
    "ranking_eval_orphan": "qrels + query vectors: eval benchmark",
    "retrieval_eval_pipeline": "per-query ideal-DCG table: eval benchmark "
                               "request (queries x top-k rows)",
    # --- surfaced by the round-8 STRUCTURAL walk (the flat scan was
    #     satisfied by a bounded node deep inside a bigger subtree) ---
    "encode_documents_corpus": "vocab table: <= max_vocab rows by the "
                               "build_vocab rank cap (construction)",
    "resample_mix_documents": "per-class keep thresholds: stratification "
                              "class labels (language domain, enum-bounded)",
    "dsir_weights_documents": "per-bucket log-ratio table: construction-"
                              "fixed n_buckets (DSIR_BUCKETS=256)",
}

_RANGE_RE = re.compile(r"Range \((-?\d+), (-?\d+), step=")
_SMALL_RANGE_MAX = 1_000_000  # literal spine/constant ranges, not data-sized

# Parquet tables whose row count is a SPEC constant at every scale factor
# (TPC-H: nation = 25 rows, region = 5 rows) — always broadcastable. Matched
# by file path inside the FileScan's Location, never by column names.
_CONST_TABLE_RE = re.compile(r"FileScan .*/(?:nation|region)\.parquet\]")


def _bounded_leaf(allow_rdd: bool = False):
    """Extra bounding LEAVES for the structural walk: literal tables,
    spec-constant dimension scans, small literal ranges, and (per-query
    contract only) driver-created RDD frames."""

    def f(ln: str) -> bool:
        if "LocalTableScan" in ln:
            return True
        if allow_rdd and "Scan ExistingRDD" in ln:
            return True
        if _CONST_TABLE_RE.search(ln):
            return True
        rm = _RANGE_RE.search(ln)
        if rm and int(rm.group(2)) - int(rm.group(1)) <= _SMALL_RANGE_MAX:
            return True
        return False

    return f


def hinted_broadcast_violations(
    df: DataFrame, query_name: str | None = None
) -> list[Violation]:
    """Every BroadcastExchange whose input subtree is not provably bounded.

    MUST be called on a DataFrame BUILT under
    ``spark.sql.autoBroadcastJoinThreshold=-1`` (tools/broadcast_audit.py
    does this): with estimates disabled, a surviving BroadcastExchange is
    hint-forced and permanent at any scale. ``query_name`` unlocks the
    per-query ``BROADCAST_CONTRACT`` allowlist for request/construction-
    bounded frames the plan cannot prove.

    Known blind spot: a query whose internals sit behind an eager
    ``localCheckpoint`` exposes only the post-checkpoint plan — its hinted
    broadcasts must be audited at the OPERATOR level (the tfidf idf-table
    hints were found and removed that way, round 8)."""
    allow_rdd = query_name is not None and query_name in BROADCAST_CONTRACT
    lines = [ln for ln in plan_string(df).splitlines() if ln.strip()]
    out: list[Violation] = []
    for i, ln in enumerate(lines):
        if "BroadcastExchange" not in ln or "ReusedExchange" in ln:
            continue
        if not _is_bounded(lines, i, extra_leaf=_bounded_leaf(allow_rdd)):
            sub = _subtree(lines, i)
            out.append(
                Violation(
                    window_line="(broadcast)",
                    exchange_line=ln.strip(),
                    subtree_head="; ".join(s.strip() for s in sub[:3]),
                )
            )
    return out


def singlepartition_window_violations(df: DataFrame) -> list[Violation]:
    lines = [ln for ln in plan_string(df).splitlines() if ln.strip()]
    out: list[Violation] = []
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" not in ln:
            continue
        d = _depth(ln)
        # nearest ancestor: closest previous line with smaller depth; the
        # anti-pattern is Window [<- Sort] <- Exchange SinglePartition
        feeds_window = False
        want = d
        for j in range(i - 1, -1, -1):
            dj = _depth(lines[j])
            if dj < want:
                node = lines[j].strip().lstrip(":+- ").split("(")[0].split(" ")[0]
                if node == "Sort":
                    want = dj
                    continue
                feeds_window = node in ("Window", "WindowGroupLimit")
                break
        if not feeds_window:
            continue
        # windows get NO literal-leaf extras (LocalTableScan/const-dim/small
        # Range): the registry never single-partition-sorts literals, and a
        # planted range(N) window should keep flagging in the self-test
        if not _is_bounded(lines, i):
            sub = _subtree(lines, i)
            out.append(
                Violation(
                    window_line=next(
                        (
                            lines[j].strip()
                            for j in range(i - 1, -1, -1)
                            if "Window" in lines[j]
                        ),
                        "?",
                    ),
                    exchange_line=ln.strip(),
                    subtree_head="; ".join(s.strip() for s in sub[:3]),
                )
            )
    return out
