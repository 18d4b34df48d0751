"""Custom stateful streaming operators via ``applyInPandasWithState``
(SURVEY §2.9 extension: the north-star's streaming training-data pipeline).

Two operators a 100 TB ingest stream actually needs:

- **streaming exact dedup**: emit each content hash the FIRST time it is
  seen across all micro-batches; state = one marker per hash group,
  GroupStateTimeout-free (content hashes are the group key, so state size =
  #distinct keys — shard by hash prefix in production).
- **streaming running counters**: per-key running totals that survive across
  micro-batches (the count/value accounting the reference's token tracker
  does per process, here exactly-once over the stream).

Both are deterministic and mirrored by batch equivalents, so tests assert
stream-vs-batch parity on the same rows (same discipline as ingest.py).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def dedup_stream(events: DataFrame, hash_col: str = "text_hash") -> DataFrame:
    """Cross-batch exact dedup: rows grouped by content hash; state remembers
    whether the hash was emitted before. Output = first-seen rows only
    (columns: hash, first_id). The batch equivalent is
    ``dedup.exact_dedup_groups`` keep-first semantics."""

    out_schema = f"{hash_col} string, first_id long"
    state_schema = "seen boolean"

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        if state.exists:
            return
        min_id = None
        for pdf in pdfs:
            batch_min = pdf["id"].min()
            min_id = batch_min if min_id is None else min(min_id, batch_min)
        state.update((True,))
        yield pd.DataFrame({hash_col: [key[0]], "first_id": [int(min_id)]})

    return events.groupBy(hash_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dedup_stream_event_time(
    events: DataFrame,
    hash_col: str = "text_hash",
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """EVENT-TIME bounded-state dedup — Spark's built-in
    ``dropDuplicatesWithinWatermark``: a duplicate is dropped when it
    arrives within the watermark of the first-seen row; state ages out
    with EVENT time, so the dedup window follows the DATA clock (late
    replays inside the watermark still dedup; ancient keys don't pin
    state forever). Complements ``dedup_stream`` (exact forever-dedup,
    state grows with distinct keys) and the MinHash TTL candidates
    (processing-time age-out): this is the production shape when the
    duplicate horizon is an event-time contract ("the same item never
    legitimately reappears within 2 hours").

    Returns the surviving rows unchanged (all input columns)."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        [hash_col]
    )


def running_counts_stream(events: DataFrame, key_col: str = "event_type") -> DataFrame:
    """Per-key running (n, total) surviving across micro-batches; each batch
    emits the updated cumulative row for keys present in that batch."""

    out_schema = f"{key_col} string, n long, total double"
    state_schema = "n long, total double"

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame({key_col: [key[0]], "n": [n], "total": [total]})

    return events.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def batch_dedup_reference(rows: DataFrame, hash_col: str = "text_hash") -> DataFrame:
    """Batch oracle for ``dedup_stream`` on the same rows."""
    return rows.groupBy(hash_col).agg(F.min("id").alias("first_id"))


def neardup_candidates_stream(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 2,
    num_hashes: int = 12,
    bands: int = 6,
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Streaming MinHash-LSH near-dup candidates: what a 100 TB ingest
    pipeline actually runs — each arriving document is checked against
    everything seen so far WITHOUT re-scanning the corpus.

    Shape: the banded signature is a NARROW per-row expression
    (``dedup.minhash_signature_array`` — min-hash needs no explode/groupBy),
    so the only stateful operator is the bucket store: rows grouped by
    (band, band-hash), state = the doc ids previously seen in that bucket.
    A micro-batch emits (id_a < id_b) pairs between its new docs and the
    bucket's history plus within-batch pairs — each pair exactly once PER
    BUCKET (pairs co-bucketed in several bands surface once per band, like
    the batch path before its ``distinct``; downstream exact-Jaccard
    verification dedups either way).

    State size = Σ bucket sizes = bands × corpus size ids; at production
    scale shard the stream by band-hash prefix and age out idle buckets
    with ``state_ttl_ms`` (ProcessingTimeTimeout): a bucket that receives
    no doc for that long is dropped wholesale, so later arrivals pair only
    against the retained horizon — the standard bounded-state near-dup
    contract for an unbounded ingest. Note Spark's timeout semantics: the
    expiry sweep runs per micro-batch and only for buckets WITHOUT data in
    that batch (a bucket whose deadline passed but that receives a doc in
    the same batch keeps its history — timeout is idle-based, not TTL from
    write). Batch twin: ``dedup.lsh_bucket_pairs`` — stream-vs-batch
    parity is pinned in tests, both untimed and on the retained horizon."""
    from graphrag_toolkit_spark.operators import dedup

    banded = docs.select(
        F.col(id_col).alias("id"),
        F.explode(
            dedup.banded_bucket_array(F.col(text_col), k, num_hashes, bands)
        ).alias("b"),
    ).select("id", F.col("b.band").alias("band"), F.col("b.bh").alias("bh"))

    out_schema = "id_a long, id_b long"
    state_schema = "ids array<long>"

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        if state_ttl_ms is not None and state.hasTimedOut:
            state.remove()  # idle bucket: drop its history, emit nothing
            return
        prev: list[int] = list(state.get[0]) if state.exists else []
        new: list[int] = []
        seen = set(prev)
        for pdf in pdfs:
            for i in sorted(int(x) for x in pdf["id"]):
                if i not in seen:
                    seen.add(i)
                    new.append(i)
        if not new:
            if state_ttl_ms is not None and state.exists:
                # a touch with only already-seen ids still re-arms: the
                # timeout measures idleness, not age since first write
                state.setTimeoutDuration(state_ttl_ms)
            return
        pairs_a, pairs_b = [], []
        for n in new:
            for p in prev:
                pairs_a.append(min(n, p))
                pairs_b.append(max(n, p))
        for i, n1 in enumerate(new):
            for n2 in new[i + 1 :]:
                pairs_a.append(min(n1, n2))
                pairs_b.append(max(n1, n2))
        state.update((prev + new,))
        if state_ttl_ms is not None:
            state.setTimeoutDuration(state_ttl_ms)
        if pairs_a:
            yield pd.DataFrame({"id_a": pairs_a, "id_b": pairs_b})

    return banded.groupBy("band", "bh").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if state_ttl_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


def kmv_distinct_stream(
    events: DataFrame, key_col: str, value_col: str, k: int = 64
) -> DataFrame:
    """Streaming KMV distinct-count sketch: per-key running cardinality
    estimate surviving across micro-batches. The 52-bit hash is computed
    JVM-side (narrow expression — the Python stage only sees longs); state
    per key is the bottom-k hash array, merged with each batch exactly as
    ``sketch.merge_sketches`` merges batch sketches. Because KMV merge is
    lossless, the emitted estimate after any number of micro-batches is
    BIT-IDENTICAL to ``sketch.kmv_distinct`` over the union of all rows.
    (``hll_distinct_stream`` below has the same stream==batch contract via
    max-merge; KMV's edge is exactness below k and intersection support.)
    State size: O(keys × k) longs, no timeout needed.

    Emits (key, n_kept, distinct_est) per key per batch (update mode)."""
    from graphrag_toolkit_spark.operators.sketch import _HASH_SPACE, kmv_hash

    out_schema = f"{key_col} string, n_kept integer, distinct_est double"
    state_schema = "kmv array<long>"

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        kept: list[int] = list(state.get[0]) if state.exists else []
        merged = set(kept)
        for pdf in pdfs:
            merged.update(int(h) for h in pdf["__h"])
        kept = sorted(merged)[:k]
        state.update((kept,))
        if len(kept) < k:
            est = float(len(kept))
        else:
            est = float(k - 1) / (kept[k - 1] / _HASH_SPACE)
        yield pd.DataFrame(
            {key_col: [key[0]], "n_kept": [len(kept)], "distinct_est": [est]}
        )

    hashed = events.select(
        F.col(key_col), kmv_hash(F.col(value_col)).alias("__h")
    )
    return hashed.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def hll_distinct_stream(
    events: DataFrame, key_col: str, value_col: str, m: int = 64
) -> DataFrame:
    """Streaming HyperLogLog: per-key running cardinality estimate
    surviving across micro-batches. The 52-bit hash, register index, and
    rank are all computed JVM-side (`sketch.hll_idx_rank` — the Python
    state stage folds two small ints per row); state per key is the m-int
    register file, merged with each batch by element-wise MAX — the same
    lossless merge `hll_registers` uses for shard roll-ups, so the emitted
    estimate after any number of micro-batches is BIT-IDENTICAL to batch
    `hll_estimate` over the union of all rows (the estimator arithmetic is
    replicated exactly: power-of-two harmonic terms summed ascending-index
    — exact in any order — the same α literal, and the linear-counting ln
    rounded HALF_UP on the double's exact decimal expansion, matching
    Spark's BigDecimal ROUND semantics, not Python's round-half-even).

    Emits (key, distinct_est, zero_registers) per key per batch (update
    mode). State: m ints per key, no timeout."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from graphrag_toolkit_spark.operators.sketch import hll_idx_rank

    out_schema = f"{key_col} string, distinct_est double, zero_registers long"
    state_schema = "regs array<int>"
    alpha = 0.709

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        regs: list[int] = list(state.get[0]) if state.exists else [0] * m
        for pdf in pdfs:
            for idx, rank in zip(pdf["idx"], pdf["rank"]):
                i = int(idx)
                if int(rank) > regs[i]:
                    regs[i] = int(rank)
        state.update((regs,))
        s = sum(1.0 / (1 << r) for r in regs)
        v = sum(1 for r in regs if r == 0)
        raw = alpha * float(m * m) / s
        if raw <= 2.5 * m and v > 0:
            lin = float(m) * math.log(float(m) / float(v))
            est = float(
                Decimal(lin).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
            )
        else:
            est = raw
        yield pd.DataFrame(
            {key_col: [key[0]], "distinct_est": [est], "zero_registers": [v]}
        )

    hashed = hll_idx_rank(events, value_col, m, keep=[key_col])
    return hashed.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def histogram_stream(
    events: DataFrame,
    key_col: str,
    value_col: str,
    lo: float,
    hi: float,
    buckets: int = 64,
) -> DataFrame:
    """Streaming equi-width histogram sketch: per-key bucket counts merged
    across micro-batches by plain cell addition (the same mergeability
    `sketch.histogram_sketch` exploits for per-shard roll-ups). Because the
    merge is exact integer addition, the state after any number of
    micro-batches is IDENTICAL to the batch histogram over the union of all
    rows — the quantile sketch's stream==batch contract. Bucket assignment
    runs JVM-side (narrow floor/clamp expression); the Python stage only
    folds integer counts. State: `buckets` longs per key, no timeout.

    Emits (key, bucket, n) for every non-empty bucket per batch (update
    mode) — feed `sketch.quantiles_from_histogram` for estimates."""
    width = (hi - lo) / buckets
    out_schema = f"{key_col} string, bucket integer, n long"
    state_schema = "counts array<long>"

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        counts: list[int] = (
            list(state.get[0]) if state.exists else [0] * buckets
        )
        for pdf in pdfs:
            for b in pdf["__b"]:
                counts[int(b)] += 1
        state.update((counts,))
        nonzero = [(i, c) for i, c in enumerate(counts) if c > 0]
        yield pd.DataFrame(
            {
                key_col: [key[0]] * len(nonzero),
                "bucket": [i for i, _ in nonzero],
                "n": [c for _, c in nonzero],
            }
        )

    b = F.floor((F.col(value_col).cast("double") - F.lit(lo)) / F.lit(width))
    b = F.least(F.greatest(b, F.lit(0)), F.lit(buckets - 1)).cast("int")
    bucketed = events.filter(F.col(value_col).isNotNull()).select(
        F.col(key_col), b.alias("__b")
    )
    return bucketed.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def budget_admission_stream(
    docs: DataFrame,
    budgets: dict[str, int],
    group_col: str = "source",
    id_col: str = "doc_id",
    size_col: str = "n_tokens",
) -> DataFrame:
    """Streaming token-budget admission: the stream twin of
    ``operators.sampling.budget_fill`` — each group admits arriving rows
    until its token budget is spent, with state = the group's running
    size total surviving across micro-batches.

    PREFIX semantics (identical to the batch operator): the running total
    advances for EVERY row seen, admitted or not, and a row is admitted iff
    the total up to and including it stays ≤ the budget. Once a group
    overflows, nothing later is admitted — so when rows arrive in priority
    order (in streaming, arrival IS the priority order — you cannot reorder
    the future), the admitted set equals ``budget_fill`` over the same rows
    ordered by arrival. Within a micro-batch rows are processed in
    ``id_col`` order for determinism under Spark's unordered batch grouping.

    State is one BIGINT per group — bounded by group cardinality, not
    stream length. Output mode: append (each admitted row exactly once).
    """
    out_schema = (
        f"{group_col} string, {id_col} long, {size_col} long, cum_size long"
    )
    state_schema = "seen_total long"

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        seen = state.get[0] if state.exists else 0
        budget = int(budgets.get(key[0], 0))
        out: list[tuple] = []
        for pdf in pdfs:
            for row in pdf.sort_values(id_col).itertuples(index=False):
                size = int(getattr(row, size_col))
                seen += size
                if seen <= budget:
                    out.append((key[0], int(getattr(row, id_col)), size, seen))
        state.update((seen,))
        yield pd.DataFrame(
            out, columns=[group_col, id_col, size_col, "cum_size"]
        )

    return docs.groupBy(group_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def running_moments_stream(
    events: DataFrame, key_col: str = "event_type", value_col: str = "value"
) -> DataFrame:
    """Per-key running FIRST TWO MOMENTS surviving across micro-batches —
    the state that powers online z-score / drift monitors. Values are
    2-decimal doubles, so the state is EXACT scaled integers
    (n, Σ100v, Σ(100v)²): merge is integer addition, which makes the
    emitted row after any number of micro-batches BIT-IDENTICAL to the
    same arithmetic over the union of all rows (pytest pins stream ==
    batch). mean and variance are derived by exact-operand divisions:

        mean = Σ100v / (100·n)
        var  = (n·Σ(100v)² − (Σ100v)²) / (10⁴·n²)

    State size: 3 longs per key, no timeout needed. Emits
    (key, n, s1, s2, mean, variance) per key per batch (update mode)."""
    out_schema = (
        f"{key_col} string, n long, s1 long, s2 long, mean double, variance double"
    )
    state_schema = "n long, s1 long, s2 long"

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        n, s1, s2 = state.get if state.exists else (0, 0, 0)
        for pdf in pdfs:
            for v in pdf["__v100"]:
                iv = int(v)
                n += 1
                s1 += iv
                s2 += iv * iv
        state.update((n, s1, s2))
        mean = s1 / (100.0 * n)
        variance = (n * s2 - s1 * s1) / (10_000.0 * n * n)
        yield pd.DataFrame(
            {
                key_col: [key[0]],
                "n": [n], "s1": [s1], "s2": [s2],
                "mean": [mean], "variance": [variance],
            }
        )

    # scale to integers JVM-side: 2-decimal doubles -> exact longs.
    # NULL values are dropped HERE, in the JVM projection: round(NULL*100)
    # stays NULL, arrives in pandas as NaN, and int(NaN) would raise inside
    # applyInPandasWithState — crashing the whole streaming query on one
    # bad row. A NULL has no moments; skipping it is the only semantics.
    scaled = events.filter(F.col(value_col).isNotNull()).select(
        F.col(key_col),
        F.round(F.col(value_col) * 100).cast("long").alias("__v100"),
    )
    return scaled.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def reservoir_sample_stream(
    events: DataFrame,
    id_col: str,
    k: int = 16,
    key_col: str | None = None,
) -> DataFrame:
    """Streaming deterministic reservoir: the running EXACT-k uniform
    sample of everything seen so far, surviving micro-batches — the
    stream twin of ``sampling.order_statistic_sample``. Because that
    operator defines the sample as the k smallest (content-hash, id)
    pairs, the reservoir is a MERGEABLE bottom-k semilattice: merging
    per-batch bottom-k states is lossless, so after any number of
    micro-batches the emitted sample is BIT-IDENTICAL to the batch
    operator over the union of all rows (the same stream==batch contract
    as ``kmv_distinct_stream``, which keeps bottom-k hashes for a
    different purpose). A classic RNG reservoir cannot make this promise
    — its content depends on arrival order.

    ``key_col`` groups the stream into per-key reservoirs (per-source
    samples); None keeps one global reservoir (single-group state — the
    sample is k rows, so state is tiny; shard by key for per-key scale).
    The hash is computed JVM-side; the Python stage folds (hash, id)
    longs only. Emits (key, n_kept, ids) per touched key per batch,
    ids ordered by (hash, id)."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    from graphrag_toolkit_spark.operators.sampling import hash_value

    # The state schema carries ids as longs; a non-integral id (string doc
    # hash, …) would cast to NULL and blow up inside the Python fold at
    # RUNTIME, killing the streaming query mid-batch. Fail at construction
    # with an actionable message instead.
    id_type = events.schema[id_col].dataType
    if not isinstance(id_type, (ByteType, ShortType, IntegerType, LongType)):
        raise TypeError(
            f"reservoir_sample_stream requires an integral id column; "
            f"{id_col!r} is {id_type.simpleString()}. Map the id to a long "
            f"first (e.g. xxhash64(col)) — the state schema stores longs."
        )

    kc = key_col or "__all"
    out_schema = f"{kc} string, n_kept integer, ids array<long>"
    state_schema = "hs array<long>, ids array<long>"

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        pairs: set[tuple[int, int]] = set()
        if state.exists:
            hs, ids = state.get
            pairs.update(zip((int(h) for h in hs), (int(i) for i in ids)))
        for pdf in pdfs:
            pairs.update(
                zip((int(h) for h in pdf["__h"]), (int(i) for i in pdf["__id"]))
            )
        kept = sorted(pairs)[:k]
        state.update(([h for h, _ in kept], [i for _, i in kept]))
        yield pd.DataFrame(
            {
                kc: [key[0]],
                "n_kept": [len(kept)],
                "ids": [[i for _, i in kept]],
            }
        )

    keyed = events.select(
        (F.col(key_col) if key_col else F.lit("__all")).cast("string").alias(kc),
        hash_value(F.col(id_col)).alias("__h"),
        F.col(id_col).cast("long").alias("__id"),
    )
    return keyed.groupBy(kc).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
