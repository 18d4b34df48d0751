"""Graph/vector sinks, checkpointing, cascade delete, SCD-2 versioning
(SURVEY §2.1 S4-S8).

Parity map:
- S4 batched graph sink (``indexing/build/graph_batch_client.py:29-140``,
  UNWIND batches of 25): → ``merge_nodes`` — content-addressed ids make
  ``dropDuplicates(id)`` + parquet append/overwrite the MERGE; there is no
  row-at-a-time path at all.
- S5 vector sink (``storage/vector/*``): same shape over embedding tables.
- S6 checkpoint (``indexing/build/checkpoint.py``): ``filter_processed`` is a
  left-anti join against the checkpoint table; ``mark_processed`` appends.
- S7 cascading delete (``indexing/build/delete_sources.py:51-230``): find the
  per-source closure, then delete only nodes NOT still referenced by a
  surviving source — multi-step anti-joins.
- S8 version manager (``indexing/build/version_manager.py``): SCD-2 —
  re-ingesting a logical id closes the previous version's ``valid_to`` at
  the new ``valid_from`` (window ``lead`` emulation of MERGE INTO, no Delta
  required).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from graphrag_toolkit_spark.filters import VALID_TO_MAX


# --- S4/S5: MERGE-semantics writes ------------------------------------------

def write_bucketed(
    df: DataFrame, table: str, bucket_col: str, num_buckets: int = 32,
    sort_col: str | None = None,
) -> None:
    """Write a node/edge table hash-bucketed (and optionally sorted) by its
    join key. Bucketed tables are the 100 TB co-location strategy from
    SCALE.md: two tables bucketed on the same key with the same bucket count
    join WITHOUT a shuffle on either side (Catalyst reads the bucketing from
    the catalog and drops both Exchanges) — at cluster scale that's the
    difference between re-shuffling the whole graph per traversal and
    scanning co-located buckets. MERGE semantics (id dedup) belong to the
    caller: node tables dedup on their content id, edge tables on the full
    (src, dst, type) identity — neither equals the bucketing key in
    general."""
    writer = df.write.mode("overwrite").bucketBy(num_buckets, bucket_col)
    if sort_col is not None:
        writer = writer.sortBy(sort_col)
    writer.format("parquet").saveAsTable(table)


def merge_nodes(
    df: DataFrame, path: str, id_col: str, partition_by: str | None = None
) -> None:
    """Idempotent node/edge/embedding write: dedup on content id, then
    overwrite-by-table (fixture scale) — on a cluster the same call targets a
    partitioned table and only touches the written partitions."""
    out = df.dropDuplicates([id_col])
    writer = out.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(path)


def append_merge(
    spark: SparkSession, df: DataFrame, path: str, id_col: str
) -> None:
    """Incremental MERGE: union with the existing table, keep one row per id
    with EXPLICIT precedence — existing wins (re-ingestion of identical
    content is a no-op; re-ingestion with changed payload keeps the stored
    row). ``dropDuplicates`` gives no survivor guarantee, so precedence is a
    priority column + ``min(struct(prio, payload))`` per id: existing rows
    (prio 0) beat new rows (prio 1), and ties within a batch resolve by
    payload order — fully deterministic across runs."""
    df = df.withColumn("_prio", F.lit(1))
    if os.path.exists(path):
        existing = spark.read.parquet(path).withColumn("_prio", F.lit(0))
        df = existing.unionByName(df, allowMissingColumns=True)
    payload = [c for c in df.columns if c not in (id_col, "_prio")]
    merged = (
        df.groupBy(id_col)
        .agg(F.min(F.struct("_prio", *payload)).alias("_s"))
        .select(id_col, *[F.col(f"_s.{c}").alias(c) for c in payload])
    )
    # write via a temp dir (parquet can't overwrite its own input), then
    # swap it into place: tmp stays whole until the old table is gone, so a
    # crash leaves one complete copy
    path = path.rstrip("/")
    tmp = path + "__tmp"
    merged.write.mode("overwrite").parquet(tmp)
    import shutil

    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)


# --- S6: checkpoint ----------------------------------------------------------

def filter_processed(
    work: DataFrame, checkpoint: DataFrame | None, id_col: str
) -> DataFrame:
    """Skip already-processed ids (anti-join; the reference filters chunk ids
    through a directory of marker files)."""
    if checkpoint is None:
        return work
    return work.join(
        checkpoint.select(id_col).distinct(), id_col, "left_anti"
    )


def mark_processed(
    spark: SparkSession, done: DataFrame, checkpoint_path: str, id_col: str
) -> None:
    done.select(id_col).distinct().write.mode("append").parquet(checkpoint_path)


# --- S7: cascading delete ----------------------------------------------------

def delete_sources(
    sources: DataFrame,
    chunks: DataFrame,
    statements: DataFrame,
    facts: DataFrame,
    edges: DataFrame,
    delete_ids: DataFrame,       # (source_id)
) -> dict[str, DataFrame]:
    """Cascade delete: remove the given sources, their chunks and statements,
    and any fact that is no longer supported by a surviving statement
    (shared facts survive — the reference's orphan check). Returns the new
    node/edge tables (pure function; callers persist).

    The narrow id frames below (dead chunk/statement ids, live fact ids,
    dead node ids) each feed two or more downstream tables; lazy
    localCheckpoints at those boundaries make every cascade stage compute
    once per action instead of once per plan reference — a caller counting
    all five tables otherwise re-runs the chunk→statement→fact chain per
    reference (the plan-size audit's worst offender: 2,423 formatted lines
    / 152 Exchanges before, guide §3.3)."""
    del_src = F.broadcast(delete_ids.select("source_id").distinct())

    new_sources = sources.join(del_src, "source_id", "left_anti")
    dead_chunks = (
        chunks.join(del_src, "source_id", "left_semi")
        .select("chunk_id")
        .localCheckpoint(eager=False)  # dead_stmts + dead_nodes read it
    )
    new_chunks = chunks.join(del_src, "source_id", "left_anti")
    dead_stmts = (
        statements.join(dead_chunks, "chunk_id", "left_semi")
        .select("statement_id")
        .localCheckpoint(eager=False)  # new_statements + dead_nodes read it
    )
    new_statements = statements.join(dead_stmts, "statement_id", "left_anti")

    supports = edges.filter(F.col("etype") == "SUPPORTS").select(
        F.col("src").alias("fact_id"), F.col("dst").alias("statement_id")
    )
    # facts still referenced by a SURVIVING statement stay (orphan check:
    # groupBy on remaining support edges, not a naive cascade)
    live_facts = (
        supports.join(
            new_statements.select("statement_id"), "statement_id", "left_semi"
        )
        .select("fact_id")
        .distinct()
        .localCheckpoint(eager=False)  # new_facts + dead_nodes read it
    )
    new_facts = facts.join(live_facts, "fact_id", "left_semi")

    dead_nodes = (
        dead_chunks.select(F.col("chunk_id").alias("node_id"))
        .unionByName(dead_stmts.select(F.col("statement_id").alias("node_id")))
        .unionByName(
            facts.join(live_facts, "fact_id", "left_anti").select(
                F.col("fact_id").alias("node_id")
            )
        )
        .unionByName(delete_ids.select(F.col("source_id").alias("node_id")))
        .distinct()
        .localCheckpoint(eager=False)  # new_edges anti-joins it on src AND dst
    )
    new_edges = edges.join(
        dead_nodes.withColumnRenamed("node_id", "src"), "src", "left_anti"
    ).join(dead_nodes.withColumnRenamed("node_id", "dst"), "dst", "left_anti")

    return {
        "sources": new_sources,
        "chunks": new_chunks,
        "statements": new_statements,
        "facts": new_facts,
        "edges": new_edges,
    }


# --- S8: SCD-2 versioning ----------------------------------------------------

def apply_versions(history: DataFrame, logical_id: str = "logical_id") -> DataFrame:
    """Close each version's ``valid_to`` at the next version's ``valid_from``
    (window ``lead``); the latest version stays open at the sentinel."""
    w = Window.partitionBy(logical_id).orderBy("valid_from")
    return history.withColumn(
        "valid_to",
        F.coalesce(F.lead("valid_from").over(w), F.lit(VALID_TO_MAX)),
    )


def current_versions(history: DataFrame) -> DataFrame:
    return history.filter(F.col("valid_to") == VALID_TO_MAX)


def versions_at(history: DataFrame, ts: int) -> DataFrame:
    return history.filter(
        (F.col("valid_from") <= ts) & (F.col("valid_to") > ts)
    )


def apply_changelog(
    base: DataFrame,
    changes: DataFrame,
    key_col: str,
    seq_col: str = "seq",
    op_col: str = "op",
) -> DataFrame:
    """CDC apply: fold an ordered changelog (op ∈ I/U/D, one sequence
    number per change) onto a base snapshot and return the new snapshot —
    the engine side of a Debezium/binlog ingestion path.

    Semantics: per key, the change with the highest ``seq`` wins; a final
    D deletes the key; a final I/U upserts its payload columns; keys
    untouched by the log pass through. One window over the (small)
    changelog + one full-outer join on the key — the base never shuffles
    more than the join requires, and the log is usually broadcastable.
    """
    payload = [c for c in changes.columns if c not in (key_col, seq_col, op_col)]
    w = Window.partitionBy(key_col).orderBy(F.desc(seq_col))
    last = (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(key_col, op_col, *payload)
    )
    joined = base.join(
        last.withColumnsRenamed({c: f"_new_{c}" for c in payload}),
        key_col,
        "full_outer",
    )
    kept = joined.filter(
        F.col(op_col).isNull() | (F.col(op_col) != "D")
    )
    cols = [F.col(key_col)]
    for c in [c for c in base.columns if c != key_col]:
        if c in payload:
            cols.append(
                F.when(F.col(op_col).isNotNull(), F.col(f"_new_{c}"))
                .otherwise(F.col(c))
                .alias(c)
            )
        else:
            cols.append(F.col(c))
    return kept.select(*cols)


def maintain_aggregate(
    base: DataFrame,
    changes: DataFrame,
    key_col: str,
    group_col: str,
    value_col: str,
    seq_col: str = "seq",
    op_col: str = "op",
) -> DataFrame:
    """Incremental view maintenance for a grouped (count, decimal-sum)
    aggregate: produce the post-changelog aggregate WITHOUT re-scanning the
    base table's full snapshot twice — base aggregates once, then only
    CHANGED keys contribute deltas (−old contribution, +new contribution;
    group moves handled naturally because the two contributions land in
    their own groups). Returns (group_col, n, total).

    This is the materialized-view refresh path of a 100 TB warehouse: the
    changelog is days-vs-corpus small, so the work per refresh is
    O(base-aggregate once, then |changes|) instead of O(|snapshot|) per
    refresh. Exactness: counts are integers, sums are exact DECIMAL —
    hash-identical to recomputing the aggregate from
    ``apply_changelog(base, changes)`` (the oracle's formulation).
    """
    payload = [c for c in changes.columns if c not in (key_col, seq_col, op_col)]
    w = Window.partitionBy(key_col).orderBy(F.desc(seq_col))
    last = (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(key_col, op_col, *payload)
    )
    dec = "decimal(18,2)"
    q = lambda c: F.round(F.col(c), 2).cast(dec)  # noqa: E731

    base_agg = base.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"), F.sum(q(value_col)).alias("total")
    )
    # old contributions of changed keys (keys may be absent from base: pure I)
    old = base.join(last.select(key_col), key_col, "left_semi").select(
        F.col(group_col).alias("g"),
        F.lit(-1).alias("dn"),
        (-q(value_col)).alias("dv"),
    )
    # new contributions (D rows contribute nothing)
    new = last.filter(F.col(op_col) != "D").select(
        F.col(group_col).alias("g"),
        F.lit(1).alias("dn"),
        q(value_col).alias("dv"),
    )
    delta = (
        old.unionByName(new)
        .groupBy("g")
        .agg(F.sum("dn").alias("dn"), F.sum("dv").alias("dv"))
    )
    merged = base_agg.join(
        delta.withColumnRenamed("g", group_col), group_col, "full_outer"
    ).select(
        group_col,
        (F.coalesce(F.col("n"), F.lit(0)) + F.coalesce(F.col("dn"), F.lit(0)))
        .cast("bigint")
        .alias("n"),
        (
            F.coalesce(F.col("total"), F.lit(0).cast(dec))
            + F.coalesce(F.col("dv"), F.lit(0).cast(dec))
        ).cast(dec).alias("total"),
    )
    return merged.filter(F.col("n") > 0).select(
        group_col, "n", F.col("total").cast("double").alias("total")
    )


def compact_parquet(
    spark,
    path: str,
    target_bytes_per_file: int = 128 * 1024 * 1024,
    sort_col: str | None = None,
) -> int:
    """Small-file compaction: rewrite a parquet directory into files sized
    for scan efficiency (the operational chore every streaming/incremental
    sink accumulates — thousands of KB-files turn a 100 TB scan into a
    metadata storm). File count = ceil(current_bytes / target, counting
    only ``*.parquet`` data files); optional ``sort_col`` re-clusters rows
    (range partition + in-file sort) so min/max row-group statistics prune
    after the rewrite.

    LOCAL-FILESYSTEM ONLY: the swap uses ``os.rename`` and ``glob``, so
    this helper targets local/NFS paths (dev, single-node sinks). On an
    object store or HDFS at 100 TB, compaction belongs to the table format
    (Delta OPTIMIZE / Iceberg rewrite_data_files) — directory renames are
    not atomic there.

    Crash safety: the new data is written to ``<path>__compacting``; the
    input is parked at ``<path>__precompact`` and only deleted after the
    new directory is renamed into place. A crash between the two renames
    leaves ``<path>`` missing but ``<path>__precompact`` intact — the next
    call (or a manual rename) restores it; this function auto-recovers
    that state on entry. Returns the new file count."""
    import glob as _glob
    import os
    import shutil

    old = path.rstrip("/") + "__precompact"
    tmp = path.rstrip("/") + "__compacting"
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)  # recover a swap interrupted between renames
    files = [
        f
        for f in _glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith(("_", "."))
    ]
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, -(-total // target_bytes_per_file))
    df = spark.read.parquet(path)
    if sort_col is not None:
        df = df.repartitionByRange(n_out, sort_col).sortWithinPartitions(sort_col)
    else:
        df = df.repartition(n_out)
    if os.path.exists(tmp):
        shutil.rmtree(tmp)  # stale leftover from a crashed write
    df.write.mode("overwrite").parquet(tmp)
    os.rename(path, old)
    try:
        os.rename(tmp, path)
    except OSError:
        os.rename(old, path)  # roll back so the input is never lost
        raise
    shutil.rmtree(old)
    return n_out


def compaction_plan(
    manifest: DataFrame,
    file_col: str,
    size_col: str,
    target_bytes: int,
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """Small-file compaction PLANNING over a file manifest — the decide
    half of lakehouse OPTIMIZE (`compact_parquet` is the act half, and
    `packing.zorder_layout` emits the post-compaction envelopes): group
    each partition's files into bins of ~`target_bytes` so one rewrite
    task merges one bin.

    Deterministic greedy packing, engine-exact: files order by
    (size DESC, file ASC) within their partition — largest first, the
    classic first-fit-decreasing shape — and bin = (exclusive running
    byte total) div target_bytes. All-integer window arithmetic; a file
    larger than target_bytes gets a bin of its own plus spillover, which
    is exactly what a rewrite task wants. Output = manifest + ``bin``
    (0-based per partition).

    Scale shape: the window partitions by the table's partition columns —
    distributed like the data. With ``partition_cols=None`` the manifest
    windows globally: manifests are METADATA (100 TB / 128 MB ≈ 800k
    rows), so a single-partition pass over them is the correct trade —
    never feed this operator the data itself."""
    if target_bytes < 1:
        raise ValueError("target_bytes must be >= 1")
    parts = [F.col(c) for c in (partition_cols or [])]
    w = (
        Window.partitionBy(*parts)
        .orderBy(F.desc(size_col), F.asc(file_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = F.coalesce(F.sum(F.col(size_col)).over(w), F.lit(0))
    return (
        manifest.withColumn("__prefix", prefix)
        .withColumn("bin", F.expr(f"__prefix div {target_bytes}").cast("long"))
        .drop("__prefix")
    )


def maintain_join(
    base_view: DataFrame,
    changes: DataFrame,
    key_col: str,
    dim: DataFrame,
    dim_key: str,
    seq_col: str = "seq",
    op_col: str = "op",
) -> DataFrame:
    """Incremental view maintenance for an EQUI-JOIN view (fact ⋈
    dimension) under a fact-side changelog — the delta-join rule that
    pairs with `maintain_aggregate`'s grouped-aggregate rule:

        J' = (J − rows whose fact key changed)  ∪  (Δfact_last ⋈ dim)

    Only the CHANGELOG joins the dimension — the materialized view is
    touched with one anti-join, never re-joined, so a refresh costs
    O(|view| scan + |Δ| ⋈ dim) instead of re-running the full fact ⋈ dim
    (the 100 TB materialized-view refresh path; with the view bucketed on
    the key, the anti-join is co-located and shuffle-free).

    Contract: the view's fact columns must equal the changelog payload
    columns (same names/types); the join is INNER on ``dim_key`` (an
    updated row whose new dim key has no match drops from the view,
    exactly as recomputing would). Latest change per key wins
    (``seq_col``; sequence numbers must be UNIQUE per key — a CDC log's
    offset/LSN is; ties would make the row_number pick arbitrary);
    'D' deletes. Exactness: row selection + one join — nothing is
    computed, so the result is hash-identical to the
    recompute-from-scratch oracle by construction."""
    payload = [c for c in changes.columns if c not in (seq_col, op_col)]
    w = Window.partitionBy(key_col).orderBy(F.desc(seq_col))
    last = (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(op_col, *payload)
    )
    survivors = base_view.join(last.select(key_col), key_col, "left_anti")
    fresh = last.filter(F.col(op_col) != "D").drop(op_col).join(dim, dim_key)
    return survivors.unionByName(fresh)


def derive_changelog(
    old: DataFrame,
    new: DataFrame,
    key_col: str,
    seq: int = 1,
    seq_col: str = "seq",
    op_col: str = "op",
) -> DataFrame:
    """Snapshot diff → CDC changelog: the INVERSE of `apply_changelog` —
    compare two snapshots of the same keyed table and emit the minimal
    I/U/D log that transforms ``old`` into ``new`` (the change-data-feed a
    lakehouse computes when the upstream can't publish its own log):

        I: key only in new (payload from new)
        D: key only in old (payload NULL)
        U: key in both with ANY payload column differing (null-safe
           compare — NULL→value and value→NULL are real updates);
           identical rows emit NOTHING (minimality).

    Round-trip invariant (pinned in tests and the oracle):
    ``apply_changelog(old, derive_changelog(old, new, k), k) == new``.

    Scale shape: one full-outer join on the key + a struct-equality
    filter — both snapshots shuffle once; with both bucketed on the key
    the join co-locates shuffle-free. The emitted log is change-sized."""
    payload = [c for c in new.columns if c != key_col]
    if [c for c in old.columns if c != key_col] != payload:
        raise ValueError("old/new must share the same payload columns")
    o = old.select(
        F.col(key_col), F.struct(*payload).alias("_old"), F.lit(1).alias("_ho")
    )
    n = new.select(
        F.col(key_col), F.struct(*payload).alias("_new"), F.lit(1).alias("_hn")
    )
    j = o.join(n, key_col, "full_outer")
    op = (
        F.when(F.col("_ho").isNull(), F.lit("I"))
        .when(F.col("_hn").isNull(), F.lit("D"))
        .when(~F.col("_old").eqNullSafe(F.col("_new")), F.lit("U"))
    )
    return (
        j.withColumn(op_col, op)
        .filter(F.col(op_col).isNotNull())
        .select(
            key_col,
            F.lit(seq).alias(seq_col),
            op_col,
            *[
                F.when(F.col(op_col) != "D", F.col(f"_new.{c}")).alias(c)
                for c in payload
            ],
        )
    )
