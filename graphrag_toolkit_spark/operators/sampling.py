"""Deterministic sampling / splitting for training-data pipelines (north-star
extension beyond the reference, alongside ``dedup.py``/``textstats.py``).

A 100 TB corpus pipeline needs samples and splits that are (a) reproducible
across runs and engines, (b) stable under re-partitioning and insertion order,
and (c) computable without a shuffle. ``rand(seed)`` fails (a)+(b) — Spark
seeds per-partition, so adding one input file reshuffles every assignment.
Content-hash bucketing gives all three: a row's bucket is a pure function of
its id, so samples are stable under re-ingestion, engine-portable (md5 is
md5 everywhere — the same arithmetic runs in the DuckDB oracles), and the
operators are narrow maps (filter on a hash expression — no shuffle, fully
pushed into the scan stage).

The 28-bit hash domain (7 hex chars) keeps the bucket integer exact in a
DOUBLE. The modulus is exactly uniform only for denominators dividing 2^28;
for others (e.g. the default 10_000) the low ``2^28 mod d`` buckets are
over-represented by one part in ``2^28 / d`` — bias < 1/2^14 (< 4e-5) for
any denominator ≤ 2^14, which is far below sampling noise at any real
corpus size. "Exact-rate" below means exact bucket arithmetic, with this
sub-1/2^14 bound on rate error.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graphrag_toolkit_spark.functions.littable import lit_table
from graphrag_toolkit_spark.functions.loop import fixpoint

HASH_DOMAIN = 1 << 28  # md5 first 7 hex chars


def hash_value(id_col: Column) -> Column:
    """Raw deterministic hash ∈ [0, 2^28) from a row id (md5 first 7 hex
    chars) — the full-resolution value behind ``hash_bucket``."""
    return F.conv(F.substring(F.md5(id_col.cast("string")), 1, 7), 16, 10).cast(
        "long"
    )


def hash_bucket(id_col: Column, denominator: int = 10_000) -> Column:
    """Deterministic bucket ∈ [0, denominator) from a row id: uniform,
    engine-portable (md5 + integer mod), stable across runs/partitioning."""
    return (hash_value(id_col) % F.lit(denominator)).alias("bucket")


def deterministic_sample(
    df: DataFrame, id_col: str, fraction: float, denominator: int = 10_000
) -> DataFrame:
    """Keep rows whose hash bucket falls in [0, fraction·denominator): an
    exact-rate, reproducible sample — same ids survive on every engine, every
    run, every partitioning. Narrow map, no shuffle."""
    cut = int(round(fraction * denominator))
    return df.filter(hash_bucket(F.col(id_col), denominator) < cut)


def order_statistic_sample(
    df: DataFrame,
    id_col: str,
    k: int,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """EXACT-k deterministic uniform sample without replacement: rank rows
    by the content hash of their id and keep the k smallest — hash order
    statistics are a uniform k-subset, so this is the distributed,
    rerun-stable analog of reservoir sampling (same ids survive on every
    engine / run / partitioning, unlike ``df.sample`` whose output depends
    on partition iteration order).

    Scale shape: the global form compiles to TakeOrderedAndProject (per-
    partition partial top-k, then a k-row merge — no global sort); the
    per-group form is one window over the group key. Use this over
    ``deterministic_sample`` when the SIZE must be exact rather than the
    rate."""
    h = hash_value(F.col(id_col))
    if group_cols:
        from pyspark.sql.window import Window

        w = Window.partitionBy(*group_cols).orderBy(h.asc(), F.col(id_col).asc())
        return (
            df.withColumn("_osr", F.row_number().over(w))
            .filter(F.col("_osr") <= k)
            .drop("_osr")
        )
    return df.orderBy(h.asc(), F.col(id_col).asc()).limit(k)


def train_val_test_split(
    df: DataFrame,
    id_col: str,
    val_fraction: float = 0.1,
    test_fraction: float = 0.1,
    denominator: int = 10_000,
) -> DataFrame:
    """Append a ``split`` column: 'test' for the first test buckets, then
    'val', then 'train' — disjoint, exhaustive, and stable: a row keeps its
    split for the lifetime of its id (re-ingestion, corpus growth, engine
    migration never move it across the leakage boundary)."""
    b = hash_bucket(F.col(id_col), denominator)
    test_cut = int(round(test_fraction * denominator))
    val_cut = test_cut + int(round(val_fraction * denominator))
    return df.withColumn(
        "split",
        F.when(b < test_cut, F.lit("test"))
        .when(b < val_cut, F.lit("val"))
        .otherwise(F.lit("train")),
    )


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis &
    Spirakis 2006): each row gets key = ln(u)/w for a content-hash uniform
    u ∈ (0, 1]; the k largest keys are a weighted k-subset (selection
    probability ∝ weight, exactly the A-ES reservoir scheme) — but with u
    derived from the id hash instead of an RNG, the sample is reproducible
    across runs, engines, and partitionings.

    Exactness discipline: ln(u) is quantized to the 6-decimal grid
    immediately (no raw transcendental ever crosses the engine boundary),
    the division runs on exact double operands, and the order has an id
    tie-break — so the selected set is engine-identical. Distributed as
    TakeOrderedAndProject (partial per-partition top-k), no global sort.
    Rows with weight <= 0 never win (key → -inf semantics via filter)."""
    u = (hash_value(F.col(id_col)) + 1).cast("double") / F.lit(float(HASH_DOMAIN))
    key = (
        F.round(F.log(u), 6).cast("decimal(12,6)").cast("double")
        / F.col(weight_col).cast("double")
    )
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("_wkey", key)
        .orderBy(F.desc("_wkey"), F.asc(id_col))
        .limit(k)
        .drop("_wkey")
    )


def stratified_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    denominator: int = 10_000,
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. keep 100% of rare languages,
    1% of the dominant one). ``fractions`` maps stratum value → keep rate;
    unlisted strata use ``default_fraction``. Still a narrow map: the keep
    decision is a CASE over the stratum column and the id hash — no shuffle,
    no per-stratum pass over the data (contrast ``df.sampleBy``, which is
    seed-per-partition randomized and not re-run-stable)."""
    b = hash_bucket(F.col(id_col), denominator)
    cut = F.lit(int(round(default_fraction * denominator)))
    for value, frac in sorted(fractions.items()):
        cut = F.when(
            F.col(strata_col) == value, F.lit(int(round(frac * denominator)))
        ).otherwise(cut)
    return df.filter(b < cut)


def shard_corpus(
    df: DataFrame, id_col: str, n_shards: int, salt: str = "shard"
) -> DataFrame:
    """Deterministic global shuffle + shard assignment for training export:
    appends ``shard`` ∈ [0, n_shards) and ``seq`` (0-based position within
    the shard). Reading shards in shard/seq order replays one fixed
    pseudo-random permutation of the corpus — the "shuffle once, globally"
    step before SGD consumption, reproducible across runs, engines, and
    input partitioning (same content-hash discipline as the samplers above;
    ``salt`` decouples the shuffle order from the sample/split buckets so a
    row's split never correlates with its batch position).

    Scale shape: the hash + shard assignment is a narrow map; the only
    shuffle is the per-shard sequence window, partitioned by shard —
    balanced by hash uniformity, so partitions stay even at any corpus
    size (grow ``n_shards`` with the corpus to bound shard size; a shard
    is one training-data file). Writing is then
    ``.repartition("shard").sortWithinPartitions("seq")`` +
    ``partitionBy("shard")`` — no further shuffle."""
    from pyspark.sql.window import Window

    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt + "|"), F.col(id_col).cast("string"))), 1, 7
        ),
        16,
        10,
    ).cast("long")
    w = Window.partitionBy("shard").orderBy("_h", id_col)
    return (
        df.withColumn("_h", h)
        .withColumn("shard", (F.col("_h") % n_shards).cast("int"))
        .withColumn("seq", F.row_number().over(w) - 1)
        .drop("_h")
    )


def resample_to_mix(
    df: DataFrame,
    id_col: str,
    class_col: str,
    weights: dict[str, int],
    domain: int = HASH_DOMAIN,
) -> DataFrame:
    """Downsample to a TARGET CLASS MIX (domain/language rebalancing — the
    'data mixture' step of a pre-training pipeline): keep the largest corpus
    whose class proportions equal ``weights`` (integer target ratios, e.g.
    ``{"en": 2, "fr": 1}`` = two parts en to one part fr) without
    upsampling any class.

    Exact integer arithmetic end-to-end (engine-portable, no float rates):
    with ``n_c`` the class counts, ``m = min_c floor(n_c / w_c)`` sets the
    binding class; class quota = ``m·w_c`` rows; a row is kept iff
    ``hash(id) < floor(m·w_c·domain / n_c)`` — the deterministic-sample
    rule at full 28-bit hash resolution. Quota attainment is approximate
    (hash uniformity, same < 1/2^14-bias bound as ``hash_bucket``); the
    MIX is what's guaranteed, proportionally across classes. Classes
    absent from ``weights`` have target share zero and are dropped.

    Scale shape: one k-row class-count aggregate, a k-row broadcast of the
    per-class thresholds, then a narrow filter — the corpus itself is
    never shuffled. Threshold arithmetic is int64: exact while
    ``m·w_c·domain`` < 2^63, i.e. class counts up to ~3·10^10 at the
    default 2^28 domain; beyond that pass a smaller ``domain`` (the
    precision of the keep-rate, not of the mix ratios).
    """
    spark = df.sparkSession
    w = lit_table(
        spark, "cls string, w bigint",
        [{"cls": c, "w": int(wt)} for c, wt in sorted(weights.items())],
    )
    counts = df.groupBy(F.col(class_col).alias("cls")).agg(
        F.count(F.lit(1)).alias("n")
    )
    per = counts.join(w, "cls").select("cls", "n", "w", F.expr("n div w").alias("per"))
    m = per.agg(F.min("per").alias("m"))
    thr = per.crossJoin(m).select(
        "cls", F.expr(f"(m * w * {domain}L) div n").alias("thr")
    )
    return df.join(
        F.broadcast(thr), F.col(class_col) == F.col("cls"), "inner"
    ).filter(hash_value(F.col(id_col)) < F.col("thr")).drop("cls", "thr")


def dsir_log_weights(
    corpus: DataFrame,
    target: DataFrame,
    text_col: str,
    id_col: str,
    n_buckets: int = 256,
) -> DataFrame:
    """DSIR importance log-weights (Xie et al., "Data Selection for
    Language Models via Importance Resampling", NeurIPS 2023): score every
    raw-corpus doc by how target-like it is under hashed bag-of-words
    bucket models,

        log w(x) = Σ_{tokens t∈x} [ ln p_tgt(b(t)) − ln p_raw(b(t)) ]

    with add-1-smoothed bucket unigram models p(b) = (c_b + 1)/(N + B)
    (b(t) = md5-hash of the token mod ``n_buckets``). High log-weight docs
    look like the target distribution; DSIR then resamples proportionally
    — pair with ``order_statistic_sample``/``weighted_sample`` for the
    selection step. Returns (id, n_tokens, dsir_logw).

    Exactness: every ln takes an exact INTEGER argument (count+1, N+B) and
    is quantized to the 6-decimal grid immediately (the ``word_entropy``
    discipline); a bucket score is the sum of four quantized decimals and
    a doc's log-weight the exact decimal sum of its tokens' bucket scores
    — engine-identical, so the whole operator is hash-gateable.

    Scale shape (DSIR's design point): the feature space is FIXED at
    ``n_buckets`` rows no matter the corpus size, so the score table is a
    broadcast dimension; scoring is one broadcast equi-join over the token
    stream + one groupBy(id). The target side is sample-sized by
    construction. Nothing quadratic, no driver collect."""
    def tok(df: DataFrame) -> DataFrame:
        t = F.explode(
            F.split(F.lower(F.col(text_col)), r"[^0-9a-z]+")
        ).alias("token")
        return (
            df.select(F.col(id_col).alias("id"), t)
            .filter(F.col("token") != "")
            .withColumn(
                "bucket", F.pmod(hash_value(F.col("token")), F.lit(n_buckets))
            )
        )

    lnq = lambda c: F.round(F.log(c.cast("double")), 6).cast("decimal(12,6)")  # noqa: E731
    spark = corpus.sparkSession
    buckets = spark.range(n_buckets).select(F.col("id").alias("bucket"))

    def bucket_counts(df: DataFrame, out: str) -> DataFrame:
        c = tok(df).groupBy("bucket").agg(F.count(F.lit(1)).alias(out))
        return buckets.join(c, "bucket", "left").select(
            "bucket", F.coalesce(out, F.lit(0)).cast("long").alias(out)
        )

    tgt = bucket_counts(target, "ct")
    raw = bucket_counts(corpus, "cr")
    # bounded at n_buckets rows; without the break the totals AND scores
    # references each re-tokenize corpus + target for their bucket counts
    joined = tgt.join(raw, "bucket").localCheckpoint(eager=False)
    totals = joined.agg(
        F.sum("ct").alias("nt"), F.sum("cr").alias("nr")
    )
    scores = joined.crossJoin(F.broadcast(totals)).select(
        "bucket",
        (
            lnq(F.col("ct") + 1) - lnq(F.col("nt") + n_buckets)
            - lnq(F.col("cr") + 1) + lnq(F.col("nr") + n_buckets)
        ).cast("decimal(14,6)").alias("score"),
    )
    per_doc = (
        tok(corpus)
        .join(F.broadcast(scores), "bucket")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.col("score").cast("decimal(28,6)")).alias("_s"),
        )
    )
    return (
        corpus.select(F.col(id_col).alias("id"))
        .join(per_doc, "id", "left")
        .select(
            "id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce(F.col("_s").cast("double"), F.lit(0.0)).alias("dsir_logw"),
        )
    )


IPF_GRID = 1_000_000


def ipf_rake(
    df: DataFrame,
    row_col: str,
    col_col: str,
    iterations: int = 2,
) -> DataFrame:
    """Iterative proportional fitting (raking, Deming & Stephan 1940) over
    a two-way (row × col) contingency of the corpus — the
    marginal-constrained version of domain-mix rebalancing
    (``resample_to_mix`` hits ONE categorical's proportions; raking finds
    per-cell weights whose weighted marginals match targets on BOTH axes
    simultaneously, e.g. language AND source). Targets here: uniform row
    and column marginals (the common "balance the corpus" ask). Returns
    (row_col, col_col, n, w6, weight) — w6 the integer grid weight,
    weight = w6/10⁶ for use as a sampling/loss weight.

    Exactness: the multiplicative update w ← w·T/current is division-
    bearing, so (like ``centrality.pagerank``) the loop runs on the 10⁶
    integer grid with floor semantics — w6·T is an exact BIGINT product,
    ``div`` is exact floor, and both engines agree by construction. Each
    half-iteration's truncation loses < 10⁻⁶ relative mass, far below the
    fitting tolerance raking is used at.

    Scale shape: everything after the first groupBy operates on the CELL
    table (|langs|×|sources| rows — dimension-sized, broadcast-friendly),
    not the corpus; per half-iteration one window partitioned on the axis
    (the marginal sums, no aggregate joined back), and each iteration is
    one `functions.loop.fixpoint` round. The corpus is touched exactly
    once.

    Degenerate inputs: a cell more than ~10⁶× under-represented relative
    to its marginal target can floor to w6 = 0 (it then contributes no
    mass to later passes — the raking simply gives up on a cell that far
    from feasible); if EVERY cell of an axis value floors to 0 its next
    scaling pass divides by zero and yields NULL weights for that slice —
    inputs that skewed need a coarser grid or capped targets."""
    from pyspark.sql.window import Window

    cells = (
        df.groupBy(F.col(row_col).alias("r"), F.col(col_col).alias("c"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        # the corpus groupBy feeds the totals AND the weight loop: truncate
        # so the one corpus pass is planned/run once (guide §3.3)
        .localCheckpoint(eager=False)
    )
    tot = cells.agg(
        F.sum("n").cast("long").alias("nn"),
        F.countDistinct("r").alias("nr"),
        F.countDistinct("c").alias("nc"),
    )
    w = cells.crossJoin(F.broadcast(tot)).select(
        "r", "c", "n", "nn", "nr", "nc",
        F.lit(IPF_GRID).cast("long").alias("w6"),
    )

    def _scale(w: DataFrame, axis: str, naxis: str) -> DataFrame:
        # one half-pass: rescale every cell so the axis marginals hit
        # nn/naxis; the marginal is a window partitioned on the axis, so
        # the pass reads w once (no aggregate joined back onto w)
        m = F.sum(F.col("n") * F.col("w6")).over(Window.partitionBy(axis))
        return w.withColumn("m", m.cast("long")).select(
            "r", "c", "n", "nn", "nr", "nc",
            F.expr(
                f"cast((w6 * ((nn * {IPF_GRID}L) div {naxis})) div m as long)"
            ).alias("w6"),
        )

    w = fixpoint(
        lambda w: _scale(_scale(w, "r", "nr"), "c", "nc"),
        w,
        iterations,
        name="ipf_rake",
    )
    return w.select(
        F.col("r").alias(row_col),
        F.col("c").alias(col_col),
        "n",
        "w6",
        (F.col("w6").cast("double") / F.lit(float(IPF_GRID))).alias("weight"),
    )


def budget_fill(
    df: DataFrame,
    group_col: str,
    size_col: str,
    budgets: DataFrame,
    order_by: list,
    budget_col: str | None = None,
) -> DataFrame:
    """Greedy per-group budget fill (the 'token budget per domain' step of a
    pre-training mixture: each domain contributes its best documents until
    its token budget is spent).

    ``budgets`` is a small (group, budget) table — broadcast; when it
    carries extra columns, name the budget with ``budget_col`` (inference
    requires exactly two columns and fails loudly otherwise). ``order_by``
    is the priority order WITHIN a group (must be a total order for
    reproducibility — end it with the id column). A row is kept iff the
    running ``size_col`` total up to and including it stays ≤ the group's
    budget — the classic greedy prefix, exact in integer arithmetic.

    Scale shape: one shuffle (the per-group window, keyed on the group) over
    rows that already survived upstream filters; the budget table is
    broadcast. Group skew is bounded by the budget itself — a group stops
    accumulating selected rows once its budget is reached, and the window
    scan is a single pass.

    Output: the selected rows plus ``cum_size`` (running total including the
    row) and the group's ``budget``.
    """
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy(group_col)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    if budget_col is None:
        # Inference is only safe when the budgets table is exactly
        # (group, budget): with extra columns the first non-group column
        # could silently cap groups by the wrong value.
        bcols = budgets.columns
        if len(bcols) != 2 or group_col not in bcols:
            raise ValueError(
                f"budgets must be exactly ({group_col}, <budget>) to infer "
                f"the budget column; got {bcols} — pass budget_col explicitly"
            )
        budget_col = next(c for c in bcols if c != group_col)
    return (
        df.join(F.broadcast(budgets), group_col)
        .withColumn("cum_size", F.sum(size_col).over(w))
        .filter(F.col("cum_size") <= F.col(budget_col))
    )


def temperature_weights(df: DataFrame, class_col: str) -> DataFrame:
    """Temperature-based mixture weights (the mT5/XLM-R alpha-sampling rule
    at alpha = 0.5): a class's sampling share is sqrt(n_c) / Σ sqrt(n_c),
    flattening the head and boosting the tail of a skewed class (language /
    domain) distribution.

    alpha is fixed at 0.5 because sqrt is IEEE-correctly-rounded (bit-exact
    in every engine) while pow(x, alpha) is not — an arbitrary-alpha variant
    would not survive a cross-engine hash gate. The sqrt terms are summed in
    a FIXED order (running sum over class_col ascending; terms are positive,
    so the final running value is the max) — an unordered SUM of doubles is
    order-dependent and engine-ambiguous.

    Output per class: n_rows, share_raw (n_c / N), share_alpha, and boost
    (share_alpha / share_raw — the up/down-sampling factor to apply).
    Scale shape: one k-row aggregate; everything after is arithmetic on a
    k-row table (k = number of classes).
    """
    from pyspark.sql.window import Window

    counts = df.groupBy(class_col).agg(F.count(F.lit(1)).alias("n_rows"))
    run = Window.orderBy(class_col).rowsBetween(Window.unboundedPreceding, 0)
    full = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    s = F.sqrt(F.col("n_rows").cast("double"))
    return (
        counts.withColumn("_cum", F.sum(s).over(run))
        .withColumn("_stot", F.max(F.col("_cum")).over(full))
        .withColumn("_ntot", F.sum("n_rows").over(full))
        .select(
            class_col,
            "n_rows",
            (F.col("n_rows").cast("double") / F.col("_ntot")).alias("share_raw"),
            (s / F.col("_stot")).alias("share_alpha"),
            (
                (s / F.col("_stot"))
                / (F.col("n_rows").cast("double") / F.col("_ntot"))
            ).alias("boost"),
        )
    )


# Poisson(1) CDF thresholds scaled to the 2^28 hash domain (floor(CDF_k·2^28)
# for k = 0..5; multiplicity is capped at 6, which the CDF reaches with
# probability < 1e-4). Hardcoded INTEGERS, not exp(-1) at runtime: libm exp
# is not bit-portable across engines, integer literals are.
POISSON1_THRESHOLDS = (
    98751885, 197503771, 246879713, 263338361, 267453023, 268275955,
)


def poisson_bootstrap(
    df: DataFrame,
    id_col: str,
    value_col: str,
    n_resamples: int = 32,
    salt: str = "boot",
) -> DataFrame:
    """Poisson bootstrap of the mean (the bootstrap that actually works on a
    cluster: per-row multiplicities m ~ Poisson(1) replace the global
    with-replacement draw, so no pass needs to know n — Chamandy et al.,
    'Estimating Uncertainty for Massive Data Streams', Google 2012).

    Multiplicity is the inverse-CDF of Poisson(1) applied to the row's
    deterministic 28-bit hash u = md5(salt|id|b): pure integer compares
    against ``POISSON1_THRESHOLDS`` — reproducible across runs, engines,
    and partitionings, and replayable in an oracle.

    Output: one row per resample b — n_eff (Σ m), total (Σ m·value), and
    ``mean_value`` (one double division of exact ints).

    Scale shape: the B-way explode is a narrow generator fused into a
    partial (map-side) aggregate — the shuffle carries B×partitions partial
    rows, never B× the data. Integer sums stay exact below 2^63.
    """
    b = F.explode(F.sequence(F.lit(0), F.lit(n_resamples - 1))).alias("b")
    rows = df.select(F.col(id_col), F.col(value_col), b)
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|", F.lit(salt), F.col(id_col).cast("string"),
                    F.col("b").cast("string"),
                )
            ),
            1,
            7,
        ),
        16,
        10,
    ).cast("bigint")
    m = F.lit(len(POISSON1_THRESHOLDS))
    for k in range(len(POISSON1_THRESHOLDS) - 1, -1, -1):
        m = F.when(h < POISSON1_THRESHOLDS[k], F.lit(k)).otherwise(m)
    return (
        rows.withColumn("m", m.cast("bigint"))
        .groupBy("b")
        .agg(
            F.sum("m").alias("n_eff"),
            F.sum(F.col("m") * F.col(value_col).cast("bigint")).alias("total"),
        )
        .withColumn(
            "mean_value", F.col("total").cast("double") / F.col("n_eff")
        )
    )


def poisson_bootstrap_by(
    df: DataFrame,
    group_col: str,
    id_col: str,
    value_col: str,
    n_resamples: int = 32,
    salt: str = "boot",
) -> DataFrame:
    """Grouped Poisson bootstrap: ``poisson_bootstrap`` stratified by
    ``group_col`` — one (group, b) row per stratum and resample, so every
    per-group statistic ships with its own uncertainty band. Same integer
    thresholds, same map-side-combine shape; the shuffle carries
    groups × B partial rows."""
    b = F.explode(F.sequence(F.lit(0), F.lit(n_resamples - 1))).alias("b")
    rows = df.select(F.col(group_col), F.col(id_col), F.col(value_col), b)
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|", F.lit(salt), F.col(id_col).cast("string"),
                    F.col("b").cast("string"),
                )
            ),
            1,
            7,
        ),
        16,
        10,
    ).cast("bigint")
    m = F.lit(len(POISSON1_THRESHOLDS))
    for k in range(len(POISSON1_THRESHOLDS) - 1, -1, -1):
        m = F.when(h < POISSON1_THRESHOLDS[k], F.lit(k)).otherwise(m)
    return (
        rows.withColumn("m", m.cast("bigint"))
        .groupBy(group_col, "b")
        .agg(
            F.sum("m").alias("n_eff"),
            F.sum(F.col("m") * F.col(value_col).cast("bigint")).alias("total"),
        )
        .withColumn(
            "mean_value", F.col("total").cast("double") / F.col("n_eff")
        )
    )
