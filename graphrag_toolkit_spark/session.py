"""SparkSession factory tuned for this engine.

Scale notes (100 TB target): these configs encode the *local* test shape; on a
real cluster the same settings apply with shuffle partitions sized to
``max(2 * total_cores, input_bytes / 128MB)`` and AQE coalescing down from
there. Everything else (pushdown, broadcast selection, skew handling) is left
to Catalyst/AQE on purpose — we express plans declaratively and do not
hand-schedule.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def build_session(
    app_name: str = "graphrag_toolkit_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build a SparkSession with the engine's defaults.

    - AQE on (runtime coalesce / skew-join / broadcast demotion).
    - Arrow on (all pandas_udf / mapInPandas stages are Arrow-batched).
    - Session timezone pinned to UTC so timestamps compare exactly against
      the DuckDB oracle (DuckDB timestamps are UTC-naive).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    # NOTE: because of -Xms/AlwaysPreTouch below, the FULL driver heap is
    # committed (resident) at JVM launch; size SPARK_GRAFT_DRIVER_MEM to what
    # the host can actually hold alongside concurrent sessions.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    # spark.driver.memory reads a bare number as MiB, but the JVM -Xms flag
    # reads it as BYTES — normalize a unitless value so both agree.
    xms = driver_mem if driver_mem[-1:].lower() in "kmgt" else f"{driver_mem}m"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", driver_mem)
        # Pin the heap (Xms == Xmx) and pre-touch it at JVM launch. On this
        # class of virtualized host, first-touch page faults are pathologically
        # slow (measured: a growing heap put 32 task threads at 73-88% SYSTEM
        # time + 13-25% steal — an mmap/fault storm — turning a 7 s query into
        # 340 s), and G1 additionally UNCOMMITS regions after GC, re-paying
        # those faults inside later TIMED queries. Xms == Xmx makes uncommit
        # impossible and AlwaysPreTouch moves every heap fault to JVM launch,
        # which no per-query timing includes. Same discipline applies to
        # executor JVMs on a real cluster (spark.executor.extraJavaOptions).
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_DRIVER_JAVA_OPTS",
                f"-Xms{xms} -XX:+AlwaysPreTouch",
            ),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # events.parquet stores TIMESTAMP(NANOS), which Spark refuses by
        # default; read as long and convert in load() (DuckDB truncates
        # nanos→micros on read — integer division matches it exactly).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def release_blocks(spark: SparkSession) -> None:
    """Unpersist every persistent RDD (blocking). NO forced JVM GC — see below.

    Operators return eager/lazy localCheckpointed (or persisted) frames by
    design — the CONSUMER owns their lifetime. A harness that constructs
    many queries sequentially in one session (bench.py: 87, tools/check.py:
    279) must release each query's blocks before the next, or they pile up
    in the block manager: storage claims up to spark.memory.storageFraction
    of the unified pool that execution cannot evict (optimization guide §5
    "cached data competes with execution memory; unpersist when done").
    Measured on ann_ivf_pq_topk, 5 back-to-back constructions in one
    session: without release 14/9/14/35/42 s; with release 9.3/10.3/8.8/9.2
    s warm. Call ONLY between queries — never while a frame from the
    current query is still needed.

    Why no ``System.gc()``: a first version forced a full JVM GC here.
    Interleaved full-suite A/B (87 queries at sf0.1, same host, alternating
    runs) measured the GC variant at 297-370 s against 282-284 s without
    release, the cost spread +0.3-1.6 s over most queries — consistent with
    the collector uncommitting heap after the forced full GC and the next
    TIMED query paying the re-commit/page-zeroing. Unpersist-only measured
    265.9/251.3 s vs 264.1 s for no-release in the same interleaving: free
    on the total, keeps the block manager bounded, and retains the
    late-suite residue win (hub_knockout/cluster_size/katz each ~-0.5-1.5 s
    vs never releasing)."""
    import gc

    gc.collect()  # drop py4j refs so dead frames' JVM handles release too
    it = spark.sparkContext._jsc.getPersistentRDDs().entrySet().iterator()
    while it.hasNext():
        # blocking=True: finish removal NOW, in the untimed gap — an async
        # removal would run concurrently with (and perturb) the next query
        it.next().getValue().unpersist(True)


def warm_up(spark: SparkSession, sf_dir: str) -> None:
    """Pay the session's ONE-TIME environment costs outside any timed span.

    A fresh JVM (and, on a fresh host, a cold page cache) charges its
    first-use costs to whatever query happens to run first: class loading +
    C2 JIT of the join/aggregate/window/shuffle machinery, janino codegen
    warm-up, parquet footer reads, Python-daemon + worker spawn with the
    heavy imports (numpy/pandas/pyarrow read from disk, once per worker),
    and first-touch page faults on freshly mapped memory. Measured on this
    host (OPTIMIZATION_r09.md "warm-up"): the first bench run after boot
    carried ~198 s of such pollution spread over the suite (q1 11.8 s vs
    1.9 calm, bfs 17.2 vs 4.7, wav_pcm 9.8 vs 0.8 — the first mapInArrow
    query pays every worker's cold numpy import), and even warm-host runs
    paid ~30-40 s in the first ten queries. None of that is query work.

    This function runs REPRESENTATIVE throwaway jobs so those costs land
    here instead: full-column decode of each fixture table, one
    shuffle+join+window+checkpoint pipeline over synthetic ``spark.range``
    data, and one mapInArrow pass that spawns a Python worker per core and
    imports the heavy stack. It computes no query, caches no result, and
    leaves no state behind beyond the warmed JVM/process environment —
    every subsequent query still computes from the parquet inputs.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    # 1. fixture tables: full-column decode (a bare count() prunes every
    #    column and skips the data pages entirely)
    for t in TESTDATA_TABLES:
        try:
            load(spark, sf_dir, t).write.format("noop").mode("overwrite").save()
        except Exception:
            pass

    n = spark.sparkContext.defaultParallelism
    try:
        # 2. SQL machinery: hash-agg + broadcast join + sort-merge join +
        #    window + localCheckpoint + isEmpty + a tiny collect (the
        #    bench's timed action), all over generated data
        a = spark.range(0, 200_000, 1, n).select(
            F.pmod(F.xxhash64("id"), F.lit(997)).alias("k"),
            F.col("id").alias("v"),
        )
        b = spark.range(0, 997).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        agg = (
            a.join(F.broadcast(b), "k")
            .groupBy("k")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("c"))
        )
        agg = agg.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy(F.pmod(F.col("k"), F.lit(7))).orderBy(
                    "s", "k"
                )
            ),
        )
        ck = agg.localCheckpoint(eager=True)
        ck.write.format("noop").mode("overwrite").save()
        ck.filter(F.col("rn") < 0).isEmpty()
        c = spark.range(0, 100_000, 1, n).select(
            F.pmod(F.xxhash64("id"), F.lit(50_000)).alias("k"),
            F.col("id").alias("u"),
        )
        a.hint("merge").join(c.hint("merge"), "k").groupBy("k").agg(
            F.max("u")
        ).limit(10).collect()

        # 3. Python boundary: one worker per core, heavy imports paid here
        def _imports(batches):
            import numpy  # noqa: F401
            import pandas  # noqa: F401
            import pyarrow  # noqa: F401

            for batch in batches:
                yield batch

        spark.range(0, 4 * n, 1, 4 * n).mapInArrow(
            _imports, "id long"
        ).write.format("noop").mode("overwrite").save()
    except Exception:
        pass  # warm-up must never fail a run
    release_blocks(spark)


def load(spark: SparkSession, sf_dir: str, name: str):
    """Load one driver fixture table as a DataFrame.

    Works on ANY SparkSession, not just ones from build_session(), and on
    either events encoding the driver has shipped: TIMESTAMP(NANOS) (which
    Spark rejects unless spark.sql.legacy.parquet.nanosAsLong is set — that
    conf is runtime-settable, so set it here before the read) or plain
    TIMESTAMP(MICROS). Either way the column comes out as a microsecond
    timestamp, matching how DuckDB reads the same file.
    """
    from pyspark.sql import functions as F

    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # nanos-as-long → timestamp at microsecond precision (trunc, like DuckDB)
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # NTZ→TZ cast interprets the wall-clock in the SESSION timezone,
            # so it is value-preserving (a pure relabel) only under UTC.
            # build_session pins UTC; a foreign session must too, or the
            # instant silently shifts relative to the nanos-as-long path and
            # the DuckDB oracle (which reads the file UTC-naive).
            tz = spark.conf.get("spark.sql.session.timeZone")
            if tz != "UTC":
                raise ValueError(
                    "load('events') requires spark.sql.session.timeZone='UTC' "
                    f"(got {tz!r}): the TIMESTAMP_NTZ→TIMESTAMP relabel is "
                    "only value-preserving under UTC. Use build_session() or "
                    "set the conf before loading."
                )
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
