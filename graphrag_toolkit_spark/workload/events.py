"""Event-time windowing workload over the driver's ``events`` table
(SURVEY §2.9 — engine extensions: the reference has no streaming engine; these
are the batch equivalents of the Structured Streaming operators in
``streaming/``, oracle-checked here so the window semantics are pinned).

Money-style sums are aggregated in DECIMAL (events.value is 2-decimal).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from graphrag_toolkit_spark.session import load


def _dec(col: str) -> F.Column:
    return F.col(col).cast("decimal(12,2)")


def tumbling_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling windows per event_type: count + exact value sum."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(_dec("value")), 2).cast("double").alias("total"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total")
    )


TUMBLING_ORACLE = """
SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, event_type,
       COUNT(*) AS n,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
FROM events
GROUP BY window_start, event_type
"""


def sliding_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 30 minutes (each event lands in 2)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )


SLIDING_ORACLE = """
WITH starts AS (
  SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS window_start FROM events
  UNION ALL
  SELECT time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE FROM events
)
SELECT window_start, COUNT(*) AS n FROM starts GROUP BY window_start
"""


SESSION_GAP_MINUTES = 30


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: per user, a >30-min silence starts a new
    session; emit per-session stats. The lag+cumsum pattern is the classic
    batch equivalent of streaming ``session_window`` (same session bounds)."""
    ev = load(spark, sf_dir, "events")
    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(by_user)
    with_s = (
        ev.withColumn("new_session", F.when(gap.isNull() | (gap > SESSION_GAP_MINUTES * 60), 1).otherwise(0))
        .withColumn("session_idx", F.sum("new_session").over(
            by_user.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    )
    return (
        with_s.groupBy("user_id", "session_idx")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(_dec("value")), 2).cast("double").alias("total_value"),
        )
    )


SESSIONIZE_ORACLE = f"""
WITH g AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > {SESSION_GAP_MINUTES * 60}
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM g
)
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       COUNT(*) AS n_events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value
FROM s GROUP BY user_id, session_idx
"""


def event_type_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ordered event-type journey (first 10 events), as a string —
    the ordered-collect discipline check on real event data."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .groupBy("user_id")
        .agg(
            F.concat_ws(
                ">",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("rn"), F.col("event_type")))
                    ),
                    lambda x: x["event_type"],
                ),
            ).alias("journey")
        )
    )


FUNNEL_ORACLE = """
WITH r AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
)
SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS journey
FROM r WHERE rn <= 10 GROUP BY user_id
"""


def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: every purchase gains the user's most recent prior (or
    simultaneous) view — `temporal.asof_join`'s union+carry-forward plan,
    one shuffle on user_id, no range theta-join. The view side is deduped
    to one row per (user_id, ts) (latest event_id wins) so the match is
    well-defined; gap_us is the exact integer lag in microseconds."""
    from graphrag_toolkit_spark.operators.temporal import asof_join

    ev = load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    vw = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    views = (
        ev.filter(F.col("event_type") == "view")
        .withColumn("rn", F.row_number().over(vw))
        .filter(F.col("rn") == 1)
        .select("user_id", "ts", F.col("value").alias("view_value"))
    )
    joined = asof_join(
        purchases, views, on=["user_id"], ts_col="ts",
        right_cols=["view_value"], tiebreak="event_id", suffix="_view",
    )
    return joined.select(
        "event_id", "user_id", "ts", "value",
        F.col("ts_view").alias("view_ts"),
        F.col("view_value_view").alias("view_value"),
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("ts_view"))).alias("gap_us"),
    )


ASOF_ORACLE = """
WITH views AS (
  SELECT user_id, ts, value AS view_value FROM (
    SELECT user_id, ts, value,
           ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
    FROM events WHERE event_type = 'view'
  ) WHERE rn = 1
)
SELECT p.event_id, p.user_id, p.ts, p.value,
       v.ts AS view_ts, v.view_value,
       epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
FROM (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN views v ON p.user_id = v.user_id AND p.ts >= v.ts
"""


TOP_SESSIONS = 20


def interval_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: system-wide event-type counts inside the 20 busiest
    sessions — `temporal.interval_join`'s cell-bucketed equi-join (intervals
    explode into hour cells, each event maps to one cell; exact containment
    filter after the join), not a theta-join."""
    from graphrag_toolkit_spark.operators.temporal import interval_join

    ev = load(spark, sf_dir, "events")
    sessions = sessionize_events(spark, sf_dir)
    top = (
        sessions.orderBy(
            F.col("n_events").desc(), F.col("user_id"), F.col("session_idx")
        )
        .limit(TOP_SESSIONS)
        .select(
            F.col("user_id").alias("s_user_id"),
            F.col("session_idx").cast("bigint").alias("session_idx"),
            F.col("session_start").alias("start"),
            F.col("session_end").alias("end"),
        )
    )
    matched = interval_join(
        ev.select("event_id", "ts", "event_type"),
        F.broadcast(top),
        start_col="start", end_col="end", ts_col="ts", cell_seconds=3600,
    )
    return matched.groupBy("s_user_id", "session_idx", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )


INTERVAL_ORACLE = f"""
WITH sess AS ({SESSIONIZE_ORACLE}),
top_s AS (
  SELECT user_id AS s_user_id, session_idx, session_start, session_end
  FROM sess ORDER BY n_events DESC, user_id, session_idx LIMIT {TOP_SESSIONS}
)
SELECT t.s_user_id, t.session_idx, e.event_type, COUNT(*) AS n
FROM events e JOIN top_s t
  ON e.ts >= t.session_start AND e.ts <= t.session_end
GROUP BY t.s_user_id, t.session_idx, e.event_type
"""


KMV_K = 64
_KMV_SPACE = float(1 << 52)


def kmv_distinct_users_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV bottom-k distinct-count sketch (`operators/sketch.py`): estimated
    vs exact distinct users per event_type. The estimate itself is
    hash-gated — KMV is pure order statistics over md5, so unlike HLL the
    sketch output is engine-portable and bit-exact."""
    from graphrag_toolkit_spark.operators import sketch

    ev = load(spark, sf_dir, "events")
    est = sketch.kmv_distinct(ev, ["event_type"], "user_id", k=KMV_K)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    return exact.join(est, "event_type")


KMV_ORACLE = f"""
WITH h AS (
  SELECT DISTINCT event_type,
         CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 13) AS BIGINT) AS hv
  FROM events
),
r AS (
  SELECT event_type, hv,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn
  FROM h
),
agg AS (
  SELECT event_type, COUNT(*) AS n_seen,
         MAX(CASE WHEN rn = {KMV_K} THEN hv END) AS kth
  FROM r WHERE rn <= {KMV_K} GROUP BY event_type
),
exact AS (
  SELECT event_type, COUNT(DISTINCT user_id) AS n_exact FROM events
  GROUP BY event_type
)
SELECT e.event_type, e.n_exact,
       CASE WHEN a.n_seen < {KMV_K} THEN CAST(a.n_seen AS DOUBLE)
            ELSE {float(KMV_K - 1)} / (CAST(a.kth AS DOUBLE) / {_KMV_SPACE})
       END AS distinct_est
FROM exact e JOIN agg a USING (event_type)
"""


def resample_gapfill_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample: dense hourly grid per event_type
    (`temporal.time_grid`), per-cell count/sum zero-filled, per-cell max
    carried forward across gaps (`temporal.ffill`) — the pandas
    resample+ffill shape as two windows and one bounded explode."""
    from graphrag_toolkit_spark.operators.temporal import ffill, time_grid

    ev = load(spark, sf_dir, "events")
    grid = time_grid(ev, ["event_type"], "ts", 3600)
    cell = F.floor(F.col("ts").cast("long") / F.lit(3600))
    agg = ev.groupBy("event_type", cell.alias("__cell")).agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.round(F.sum(_dec("value")), 2).cast("double").alias("total_raw"),
        F.max("value").alias("vmax"),
    ).select(
        "event_type",
        F.timestamp_seconds(F.col("__cell") * 3600).alias("cell_start"),
        "n_raw", "total_raw", "vmax",
    )
    j = grid.join(agg, ["event_type", "cell_start"], "left")
    return ffill(j, ["event_type"], "cell_start", "vmax").select(
        "event_type",
        "cell_start",
        F.coalesce(F.col("n_raw"), F.lit(0)).alias("n"),
        F.coalesce(F.col("total_raw"), F.lit(0.0)).alias("total"),
        "vmax_ffill",
    )


RESAMPLE_ORACLE = """
WITH b AS (
  SELECT event_type,
         CAST(floor(epoch(MIN(ts)) / 3600) AS BIGINT) AS c0,
         CAST(floor(epoch(MAX(ts)) / 3600) AS BIGINT) AS c1
  FROM events GROUP BY event_type
),
grid AS (SELECT event_type, unnest(generate_series(c0, c1)) AS cell FROM b),
agg AS (
  SELECT event_type, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS cell,
         COUNT(*) AS n_raw,
         CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_raw,
         MAX(value) AS vmax
  FROM events GROUP BY event_type, CAST(floor(epoch(ts) / 3600) AS BIGINT)
),
j AS (
  SELECT g.event_type, g.cell, a.n_raw, a.total_raw, a.vmax
  FROM grid g LEFT JOIN agg a ON a.event_type = g.event_type AND a.cell = g.cell
)
SELECT event_type, make_timestamp(cell * 3600 * 1000000) AS cell_start,
       COALESCE(n_raw, 0) AS n, COALESCE(total_raw, 0.0) AS total,
       last_value(vmax IGNORE NULLS) OVER (
         PARTITION BY event_type ORDER BY cell
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vmax_ffill
FROM j
"""


Z_THRESHOLD = 3.0


def zscore_anomalies_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomaly detection: events whose value is > 3σ from their type's
    mean. Moments come from exact decimal sums (value is 2-decimal, so v
    and v² are exact on the decimal grid) cast to double once; the z
    expression mirrors the oracle op-for-op, so the flagged set is
    hash-exact."""
    ev = load(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.sum(_dec("value")).cast("double").alias("s1"),
        F.sum((_dec("value") * _dec("value")).cast("decimal(24,4)"))
        .cast("double")
        .alias("s2"),
        F.count(F.lit(1)).cast("double").alias("n"),
    )
    j = ev.join(F.broadcast(stats), "event_type")
    mean = F.col("s1") / F.col("n")
    var = F.col("s2") / F.col("n") - mean * mean
    std = F.sqrt(F.greatest(var, F.lit(0.0)))
    z = (F.col("value") - mean) / std
    return (
        j.withColumn("z", z)
        .filter((std > 0) & (F.abs(F.col("z")) > Z_THRESHOLD))
        .select("event_id", "event_type", "value", "z")
    )


ZSCORE_ORACLE = f"""
WITH stats AS (
  SELECT event_type,
         CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2))
                       AS DECIMAL(24,4))) AS DOUBLE) AS s2,
         CAST(COUNT(*) AS DOUBLE) AS n
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type, e.value,
       (e.value - s1 / n) / sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0.0)) AS z
FROM events e JOIN stats s USING (event_type)
WHERE sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0.0)) > 0
  AND abs((e.value - s1 / n)
          / sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0.0))) > {Z_THRESHOLD}
"""


WEEK_S = 7 * 24 * 3600


def cohort_retention_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users bucketed by first-activity week; retention
    cell (cohort_week, week_offset) = distinct active users. Two groupBys
    (first-seen, then cells) — the cohort table is user-sized, cells are
    weeks², both ≪ the event log."""
    ev = load(spark, sf_dir, "events")
    week = F.floor(F.col("ts").cast("long") / F.lit(WEEK_S))
    first = ev.groupBy("user_id").agg(F.min(week).alias("cohort_week"))
    return (
        ev.select("user_id", week.alias("week"))
        .distinct()
        .join(first, "user_id")
        .groupBy("cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset"))
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


COHORT_ORACLE = f"""
WITH w AS (
  SELECT user_id, CAST(floor(epoch(ts) / {WEEK_S}) AS BIGINT) AS week
  FROM events
),
first AS (SELECT user_id, MIN(week) AS cohort_week FROM w GROUP BY user_id),
active AS (SELECT DISTINCT user_id, week FROM w)
SELECT f.cohort_week, a.week - f.cohort_week AS week_offset,
       COUNT(DISTINCT a.user_id) AS n_users
FROM active a JOIN first f USING (user_id)
GROUP BY f.cohort_week, a.week - f.cohort_week
"""


def json_stats_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction (`props` is a JSON object): per event_type
    stats over `$.k` — count, min/max, exact integer sum, double mean."""
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .filter(F.col("k").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
            F.sum("k").alias("k_sum"),
            (F.sum("k").cast("double") / F.count(F.lit(1))).alias("k_mean"),
        )
    )


JSON_STATS_ORACLE = """
WITH x AS (
  SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) AS k
  FROM events
)
SELECT event_type, COUNT(*) AS n, MIN(k) AS k_min, MAX(k) AS k_max,
       CAST(SUM(k) AS BIGINT) AS k_sum,
       CAST(SUM(k) AS DOUBLE) / COUNT(*) AS k_mean
FROM x WHERE k IS NOT NULL GROUP BY event_type
"""


def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences:
    adjacent (from → to) pairs via one lag window, counts plus the row-
    normalized transition probability (ratio of exact integer counts)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("prev", F.lag("event_type").over(w))
        .filter(F.col("prev").isNotNull())
        .groupBy(F.col("prev").alias("from_type"), F.col("event_type").alias("to_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = pairs.groupBy("from_type").agg(F.sum("n").alias("n_from"))
    return pairs.join(totals, "from_type").select(
        "from_type", "to_type", "n",
        (F.col("n").cast("double") / F.col("n_from")).alias("p"),
    )


TRANSITIONS_ORACLE = """
WITH pairs AS (
  SELECT prev AS from_type, event_type AS to_type, COUNT(*) AS n FROM (
    SELECT event_type,
           lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
    FROM events
  ) WHERE prev IS NOT NULL GROUP BY prev, event_type
),
totals AS (SELECT from_type, SUM(n) AS n_from FROM pairs GROUP BY from_type)
SELECT p.from_type, p.to_type, p.n,
       CAST(p.n AS DOUBLE) / t.n_from AS p
FROM pairs p JOIN totals t USING (from_type)
"""


def moving_avg_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling window: per event_type hourly totals with a trailing 3-cell
    moving average — frame sums in exact decimal, the divide on exact
    operands, mirrored op-for-op by the oracle's ROWS frame."""
    ev = load(spark, sf_dir, "events")
    cell = F.floor(F.col("ts").cast("long") / F.lit(3600))
    hourly = ev.groupBy("event_type", cell.alias("cell")).agg(
        F.sum(_dec("value")).alias("total_dec"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("cell")
        .rowsBetween(-2, Window.currentRow)
    )
    return hourly.select(
        "event_type",
        F.timestamp_seconds(F.col("cell") * 3600).alias("cell_start"),
        F.col("total_dec").cast("double").alias("total"),
        (
            F.sum("total_dec").over(w).cast("double")
            / F.count(F.lit(1)).over(w)
        ).alias("ma3"),
    )


MOVING_AVG_ORACLE = """
WITH hourly AS (
  SELECT event_type, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS cell,
         SUM(CAST(value AS DECIMAL(12,2))) AS total_dec
  FROM events GROUP BY event_type, CAST(floor(epoch(ts) / 3600) AS BIGINT)
)
SELECT event_type, make_timestamp(cell * 3600 * 1000000) AS cell_start,
       CAST(total_dec AS DOUBLE) AS total,
       CAST(SUM(total_dec) OVER w AS DOUBLE) / COUNT(*) OVER w AS ma3
FROM hourly
WINDOW w AS (PARTITION BY event_type ORDER BY cell
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
"""


FUNNEL_STEPS = ["view", "click", "purchase"]


def funnel_conversion_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel conversion: per step, how many users reached it IN
    ORDER (first view ≤ first subsequent click ≤ first subsequent
    purchase) plus the step-over-step conversion rate. One pass builds
    each user's first-occurrence times with conditional mins; the ordered
    reach is a row-local cascade — no joins, no explosion."""
    ev = load(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        *[
            F.min(F.when(F.col("event_type") == s, F.col("ts"))).alias(f"t{i}")
            for i, s in enumerate(FUNNEL_STEPS)
        ]
    )
    # reached step i iff t0 <= t1 <= ... <= ti (all present, in order);
    # "subsequent" uses first-occurrence times — the standard loose funnel
    reach = firsts.select(
        F.col("t0").isNotNull().alias("r0"),
        (F.col("t0").isNotNull() & F.col("t1").isNotNull()
         & (F.col("t0") <= F.col("t1"))).alias("r1"),
        (F.col("t0").isNotNull() & F.col("t1").isNotNull()
         & F.col("t2").isNotNull() & (F.col("t0") <= F.col("t1"))
         & (F.col("t1") <= F.col("t2"))).alias("r2"),
    )
    agg = reach.agg(
        *[F.sum(F.when(F.col(f"r{i}"), 1).otherwise(0)).alias(f"n{i}")
          for i in range(len(FUNNEL_STEPS))]
    )
    rows = []
    for i, s in enumerate(FUNNEL_STEPS):
        prev = F.col(f"n{i - 1}") if i else F.col("n0")
        rows.append(
            F.struct(
                F.lit(i).alias("step"),
                F.lit(s).alias("event_type"),
                F.col(f"n{i}").alias("n_users"),
                F.when(
                    prev > 0, F.col(f"n{i}").cast("double") / prev
                ).otherwise(F.lit(0.0)).alias("conversion"),
            )
        )
    return agg.select(F.explode(F.array(*rows)).alias("s")).select(
        "s.step", "s.event_type", "s.n_users", "s.conversion"
    )


FUNNEL_CONVERSION_ORACLE = """
WITH firsts AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS t0,
         MIN(CASE WHEN event_type = 'click' THEN ts END) AS t1,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t2
  FROM events GROUP BY user_id
),
reach AS (
  SELECT t0 IS NOT NULL AS r0,
         (t0 IS NOT NULL AND t1 IS NOT NULL AND t0 <= t1) AS r1,
         (t0 IS NOT NULL AND t1 IS NOT NULL AND t2 IS NOT NULL
          AND t0 <= t1 AND t1 <= t2) AS r2
  FROM firsts
),
agg AS (
  SELECT CAST(SUM(CASE WHEN r0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         CAST(SUM(CASE WHEN r1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN r2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
  FROM reach
)
SELECT 0 AS step, 'view' AS event_type, n0 AS n_users,
       CASE WHEN n0 > 0 THEN CAST(n0 AS DOUBLE) / n0 ELSE 0.0 END AS conversion
FROM agg
UNION ALL
SELECT 1, 'click', n1,
       CASE WHEN n0 > 0 THEN CAST(n1 AS DOUBLE) / n0 ELSE 0.0 END FROM agg
UNION ALL
SELECT 2, 'purchase', n2,
       CASE WHEN n1 > 0 THEN CAST(n2 AS DOUBLE) / n1 ELSE 0.0 END FROM agg
"""


def range_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: for every event, the exact decimal sum and
    count of the same type's events in the trailing 2 hours — a
    value-based (not row-count) frame, the sliding-lookback shape row
    frames can't express. Ordered by epoch MICROSECONDS so equal-second
    ties don't blur the frame edge between engines."""
    ev = load(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("event_type")
        .orderBy(us)
        .rangeBetween(-2 * 3600 * 1_000_000, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "event_type",
        F.count(F.lit(1)).over(w).alias("n_2h"),
        F.sum(_dec("value")).over(w).cast("double").alias("sum_2h"),
    )


RANGE_WINDOW_ORACLE = """
SELECT event_id, event_type,
       COUNT(*) OVER w AS n_2h,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) AS sum_2h
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts)
             RANGE BETWEEN 7200000000 PRECEDING AND CURRENT ROW)
"""


def robust_stats_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type statistics: exact linear-interpolation median plus
    MAD (median absolute deviation) — the outlier-resistant companion to
    the z-score query (z uses moments a single spike can drag; MAD does
    not). Two exact-percentile passes: medians broadcast back for the
    deviation pass; |v − med| on exact operands both engines."""
    ev = load(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("median")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("median"))
    )
    return dev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("median").alias("median"),
        F.expr("percentile(adev, 0.5)").alias("mad"),
    )


ROBUST_STATS_ORACLE = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS median
  FROM events GROUP BY event_type
),
dev AS (
  SELECT e.event_type, m.median, abs(e.value - m.median) AS adev
  FROM events e JOIN med m USING (event_type)
)
SELECT event_type, COUNT(*) AS n, MIN(median) AS median,
       quantile_cont(adev, 0.5) AS mad
FROM dev GROUP BY event_type
"""


def interarrival_stats_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival analysis: per event_type, exact percentiles of the
    per-user gap between consecutive events (lag diff in exact
    microseconds) — the burstiness profile behind session-gap tuning."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        ev.withColumn(
            "gap_us",
            F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w),
        )
        .filter(F.col("gap_us").isNotNull())
    )
    return gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.expr("percentile(gap_us, 0.5)").alias("gap_p50_us"),
        F.expr("percentile(gap_us, 0.95)").alias("gap_p95_us"),
        F.max("gap_us").alias("gap_max_us"),
    )


INTERARRIVAL_ORACLE = """
WITH g AS (
  SELECT event_type,
         epoch_us(ts) - lag(epoch_us(ts))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
  FROM events
)
SELECT event_type, COUNT(*) AS n_gaps,
       quantile_cont(gap_us, 0.5) AS gap_p50_us,
       quantile_cont(gap_us, 0.95) AS gap_p95_us,
       MAX(gap_us) AS gap_max_us
FROM g WHERE gap_us IS NOT NULL GROUP BY event_type
"""


# --- salted two-phase aggregation --------------------------------------------


def salted_agg_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key aggregation through `skew.two_phase_agg` (partial per
    (key, salt) → final per key): per event_type count + exact-decimal
    value sum + min/max. The oracle is the PLAIN group-by — hash equality
    proves the salted decomposition is value-identical, the property that
    lets a 100 TB pipeline route Zipfian keys through it blind."""
    from graphrag_toolkit_spark.functions.skew import two_phase_agg

    ev = load(spark, sf_dir, "events").withColumn(
        "q", F.round(F.col("value"), 2).cast("decimal(14,2)")
    )
    out = two_phase_agg(
        ev,
        key="event_type",
        unique_col="event_id",
        aggs={
            "n": (F.count(F.lit(1)), F.sum),
            "total": (F.sum("q"), F.sum),
            "v_min": (F.min("q"), F.min),
            "v_max": (F.max("q"), F.max),
        },
        n_salts=16,
    )
    return out.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.col("total").cast("double").alias("total"),
        F.col("v_min").cast("double").alias("v_min"),
        F.col("v_max").cast("double").alias("v_max"),
    )


SALTED_AGG_ORACLE = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(value, 2) AS DECIMAL(14,2))) AS DOUBLE) AS total,
       CAST(MIN(CAST(ROUND(value, 2) AS DECIMAL(14,2))) AS DOUBLE) AS v_min,
       CAST(MAX(CAST(ROUND(value, 2) AS DECIMAL(14,2))) AS DOUBLE) AS v_max
FROM events GROUP BY event_type
"""


# --- cumulative distinct users -----------------------------------------------


def cumulative_distinct_users_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-to-date: per day, how many unique users have EVER been seen.
    Scale shape: the naive distinct-over-growing-window rescans the corpus
    per day; instead reduce each user to their FIRST day (one groupBy),
    count first-appearances per day, and running-sum the day-sized result
    (the window runs over ~#days rows, not events). New-user growth curve —
    the standard activation metric."""
    from pyspark.sql.window import Window

    ev = load(spark, sf_dir, "events")
    first_day = (
        ev.groupBy("user_id")
        .agg(F.min(F.to_date("ts")).alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("new_users"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return first_day.select(
        "day", "new_users", F.sum("new_users").over(w).alias("cum_users")
    )


CUMULATIVE_DISTINCT_ORACLE = """
WITH fd AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS day FROM events GROUP BY user_id
),
per_day AS (
  SELECT day, COUNT(*) AS new_users FROM fd GROUP BY day
)
SELECT day, new_users,
       CAST(SUM(new_users) OVER (ORDER BY day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_users
FROM per_day
"""


# --- exact truncated EWMA ----------------------------------------------------

EWMA_WINDOW = 16
# Integer weights 2^(15-j) for j = 0..15: the PRE-SCALED halving kernel
# (actual EWMA x 2^16). Multiplying by ints keeps every product at the
# input's scale 2, so the final decimal -> double cast is a single
# correctly-rounded division in both engines -- the same pre-scaling trick
# as the Katz BIGINT ranks. (A direct 2^-(j+1) decimal kernel needs scale
# 19, whose double cast differs by 1 ulp between engines.)
_EWMA_INT_WEIGHTS = [1 << (EWMA_WINDOW - 1 - j) for j in range(EWMA_WINDOW)]


def ewma_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact truncated EWMA (α=1/2) of the event value per user, PRE-SCALED
    by 2¹⁶: at each event, ewma_x65536 = Σ_{j=0..15} q_{t−j}·2^(15−j) over
    the trailing 16-row frame. Integer halving weights keep every product
    at the input's decimal scale, so the whole smoothing is EXACT decimal
    arithmetic with a clean double cast — same pre-scaling trick as the
    Katz BIGINT ranks. One window per user, frame-bounded state."""
    from pyspark.sql.window import Window

    weights = F.array(*[F.lit(w) for w in _EWMA_INT_WEIGHTS])
    ev = load(spark, sf_dir, "events").withColumn(
        "q", F.round(F.col("value"), 2).cast("decimal(14,2)")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(EWMA_WINDOW - 1), 0)
    )
    # frame order is oldest→current; reverse so index j=0 is the current row
    framed = ev.select(
        "event_id",
        "user_id",
        F.reverse(F.collect_list("q").over(w)).alias("frame"),
    )
    prods = F.zip_with(
        F.col("frame"),
        F.slice(weights, 1, F.size(F.col("frame"))),
        lambda x, wt: x * wt,
    )
    return framed.select(
        "event_id",
        "user_id",
        F.aggregate(
            prods,
            F.lit(0).cast("decimal(30,2)"),
            lambda acc, v: (acc + v).cast("decimal(30,2)"),
        ).cast("double").alias("ewma_x65536"),
    )


_EWMA_WEIGHT_CASE = " ".join(
    f"WHEN {j} THEN {w}" for j, w in enumerate(_EWMA_INT_WEIGHTS)
)

EWMA_ORACLE = f"""
WITH base AS (
  SELECT event_id, user_id, CAST(ROUND(value, 2) AS DECIMAL(14,2)) AS q,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
weights AS (
  SELECT j, CASE j {_EWMA_WEIGHT_CASE} END AS wt
  FROM generate_series(0, {EWMA_WINDOW - 1}) AS t(j)
)
SELECT a.event_id, a.user_id,
       CAST(CAST(SUM(b.q * w.wt) AS DECIMAL(30,2)) AS DOUBLE) AS ewma_x65536
FROM base a
JOIN base b ON b.user_id = a.user_id
           AND b.rn BETWEEN a.rn - {EWMA_WINDOW - 1} AND a.rn
JOIN weights w ON w.j = a.rn - b.rn
GROUP BY a.event_id, a.user_id
"""




# --- histogram quantile sketch ------------------------------------------------

HIST_LO, HIST_HI, HIST_BUCKETS = 0.0, 500.0, 50
HIST_QS = [0.5, 0.9, 0.99]


def histogram_quantiles_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable fixed-memory quantile estimates (`sketch.histogram_sketch`
    + `quantiles_from_histogram`): equi-width integer bucket counts over
    the value domain, rank lookup + in-bucket linear interpolation — the
    deterministic t-digest/KLL stand-in whose ESTIMATES are hash-exact
    across engines (pure integer state + exact-operand division), unlike
    approx_percentile. State is 50 ints regardless of corpus size."""
    from graphrag_toolkit_spark.operators import sketch

    ev = load(spark, sf_dir, "events")
    hist = sketch.histogram_sketch(ev, "value", HIST_LO, HIST_HI, HIST_BUCKETS)
    return sketch.quantiles_from_histogram(
        hist, HIST_QS, HIST_LO, HIST_HI, HIST_BUCKETS
    )


_HIST_W = (HIST_HI - HIST_LO) / HIST_BUCKETS

HISTOGRAM_QUANTILES_ORACLE = f"""
WITH hist AS (
  SELECT LEAST(GREATEST(CAST(FLOOR((value - {HIST_LO!r}) / {_HIST_W!r}) AS BIGINT),
                        0), {HIST_BUCKETS - 1}) AS bucket,
         COUNT(*) AS n
  FROM events WHERE value IS NOT NULL GROUP BY 1
),
cum AS (
  SELECT bucket, n,
         SUM(n) OVER (ORDER BY bucket
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(n) OVER (ORDER BY bucket
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n
           AS cum_before
  FROM hist
),
total AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM hist),
qs AS (
  SELECT q, CAST(FLOOR(q * (t.total - 1)) AS BIGINT) + 1 AS r
  FROM (SELECT unnest([{", ".join(repr(q) for q in HIST_QS)}]) AS q), total t
)
SELECT CAST(qs.q AS DOUBLE) AS q,
       {HIST_LO!r} + {_HIST_W!r} * (CAST(c.bucket AS DOUBLE)
         + CAST(qs.r - c.cum_before AS DOUBLE) / c.n) AS est
FROM qs JOIN cum c ON c.cum >= qs.r AND c.cum_before < qs.r
"""




# --- KMV intersection estimate (join-size planning) ---------------------------

KMV_OVERLAP_K = 64


def kmv_overlap_users_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size planning with sketches (`sketch.kmv_intersection_estimate`):
    estimate |viewers ∩ purchasers| from two KMV sketches of the user_id
    column — the per-shard-mergeable synopsis a 100 TB planner prices joins
    with, never rescanning either side. The exact intersection rides along
    so the estimate's error is visible in the result."""
    from graphrag_toolkit_spark.operators import sketch

    ev = load(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "view").select("user_id")
    b = ev.filter(F.col("event_type") == "purchase").select("user_id")
    sa = sketch.kmv_sketch(a, [], "user_id", k=KMV_OVERLAP_K).select(
        F.col("kmv").alias("ka")
    )
    sb = sketch.kmv_sketch(b, [], "user_id", k=KMV_OVERLAP_K).select(
        F.col("kmv").alias("kb")
    )
    exact = a.distinct().intersect(b.distinct()).agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    return (
        exact.crossJoin(sa).crossJoin(sb)
        .select(
            "n_exact",
            sketch.kmv_intersection_estimate(
                F.col("ka"), F.col("kb"), KMV_OVERLAP_K
            ).alias("est_intersection"),
        )
    )


KMV_OVERLAP_ORACLE = f"""
WITH va AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'view'),
vb AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
ha AS (
  SELECT h FROM (
    SELECT DISTINCT CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 13)
                         AS BIGINT) AS h
    FROM va
  ) QUALIFY ROW_NUMBER() OVER (ORDER BY h) <= {KMV_OVERLAP_K}
),
hb AS (
  SELECT h FROM (
    SELECT DISTINCT CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 13)
                         AS BIGINT) AS h
    FROM vb
  ) QUALIFY ROW_NUMBER() OVER (ORDER BY h) <= {KMV_OVERLAP_K}
),
hu AS (
  SELECT h FROM (
    SELECT DISTINCT h FROM (SELECT h FROM ha UNION ALL SELECT h FROM hb)
  ) QUALIFY ROW_NUMBER() OVER (ORDER BY h) <= {KMV_OVERLAP_K}
),
stats AS (
  SELECT COUNT(*) AS size_u, MAX(h) AS kth,
         CAST(SUM(CASE WHEN h IN (SELECT h FROM ha)
                        AND h IN (SELECT h FROM hb) THEN 1 ELSE 0 END)
              AS BIGINT) AS common
  FROM hu
),
ex AS (SELECT COUNT(*) AS n_exact FROM va JOIN vb USING (user_id))
SELECT ex.n_exact,
       (CAST(s.common AS DOUBLE) / s.size_u)
         * (CASE WHEN s.size_u < {KMV_OVERLAP_K} THEN CAST(s.size_u AS DOUBLE)
                 ELSE {float(KMV_OVERLAP_K - 1)!r}
                      / (CAST(s.kth AS DOUBLE) / {float(1 << 52)!r}) END)
         AS est_intersection
FROM ex, stats s
"""




def asof_forward_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join (`temporal.asof_join(direction='forward')`): every
    view gains the user's NEXT purchase at-or-after it — the time-to-
    conversion lookup, the mirrored carry-BACKWARD window of the backward
    leg (one shuffle on user_id, no range theta-join)."""
    from graphrag_toolkit_spark.operators.temporal import asof_join

    ev = load(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    pw = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .withColumn("rn", F.row_number().over(pw))
        .filter(F.col("rn") == 1)
        .select("user_id", "ts", F.col("value").alias("purchase_value"))
    )
    joined = asof_join(
        views, purchases, on=["user_id"], ts_col="ts",
        right_cols=["purchase_value"], tiebreak="event_id",
        suffix="_p", direction="forward",
    )
    return joined.select(
        "event_id", "user_id", "ts",
        F.col("ts_p").alias("purchase_ts"),
        F.col("purchase_value_p").alias("purchase_value"),
        (F.unix_micros(F.col("ts_p")) - F.unix_micros(F.col("ts"))).alias("lag_us"),
    )


ASOF_FORWARD_ORACLE = """
WITH purchases AS (
  SELECT user_id, ts, value AS purchase_value FROM (
    SELECT user_id, ts, value,
           ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
    FROM events WHERE event_type = 'purchase'
  ) WHERE rn = 1
)
SELECT v.event_id, v.user_id, v.ts,
       p.ts AS purchase_ts, p.purchase_value,
       epoch_us(p.ts) - epoch_us(v.ts) AS lag_us
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view') v
ASOF LEFT JOIN purchases p ON v.user_id = p.user_id AND v.ts <= p.ts
"""




MAU_WINDOW_DAYS = 7


def dau_mau_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / rolling-WAU engagement: per day, distinct users that day and
    distinct users in the trailing 7 days, plus the stickiness ratio.
    Exact rolling distinct via bounded expansion: each (user, active-day)
    pair contributes to ≤7 window days (a 7× explode of the DEDUPED
    user-day table, not the event table), then one distinct count per
    window day — the scale-safe exact form of the classic DAU/MAU metric."""
    ev = load(spark, sf_dir, "events")
    user_days = ev.select(
        F.to_date("ts").alias("day"), "user_id"
    ).distinct().localCheckpoint(eager=False)
    dau = user_days.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    contrib = user_days.select(
        F.explode(
            F.sequence(F.lit(0), F.lit(MAU_WINDOW_DAYS - 1))
        ).alias("off"),
        "day",
        "user_id",
    ).select(F.date_add(F.col("day"), F.col("off")).alias("wday"), "user_id")
    wau = (
        contrib.join(
            dau.select(F.col("day").alias("wday")), "wday", "left_semi"
        )  # only emit days that actually occur
        .distinct()
        .groupBy("wday")
        .agg(F.count(F.lit(1)).alias("wau"))
    )
    return dau.join(wau, dau.day == wau.wday).select(
        "day", "dau", "wau",
        (F.col("dau").cast("double") / F.col("wau")).alias("stickiness"),
    )


DAU_MAU_ORACLE = f"""
WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
dau AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY day),
contrib AS (
  SELECT day + CAST(o AS INTEGER) AS wday, user_id
  FROM ud, generate_series(0, {MAU_WINDOW_DAYS - 1}) AS t(o)
),
wau AS (
  SELECT wday, COUNT(DISTINCT user_id) AS wau
  FROM contrib WHERE wday IN (SELECT day FROM dau)
  GROUP BY wday
)
SELECT d.day, d.dau, w.wau,
       CAST(d.dau AS DOUBLE) / w.wau AS stickiness
FROM dau d JOIN wau w ON w.wday = d.day
"""




MARKOV_TRAIN_FRAC = 0.8


def markov_accuracy_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov next-event predictor evaluation: fit the argmax transition
    table on each user's first 80% of events (time split — no leakage),
    predict the next event type on the held-out transitions, report exact
    accuracy. The train/eval composition a sequence-model baseline runs,
    entirely in integer counts + one final division."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id", "event_type",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("user_id")).alias("n_u"),
    )
    trans = seq.alias("a").join(
        seq.alias("b"),
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("b.rn") == F.col("a.rn") + 1),
    ).select(
        F.col("a.event_type").alias("src"),
        F.col("b.event_type").alias("dst"),
        (F.col("b.rn")
         <= F.floor(F.lit(MARKOV_TRAIN_FRAC) * F.col("a.n_u"))).alias("is_train"),
    ).localCheckpoint(eager=False)
    model = (
        trans.filter(F.col("is_train"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    mw = Window.partitionBy("src").orderBy(F.desc("c"), F.asc("dst"))
    pred = (
        model.withColumn("rnk", F.row_number().over(mw))
        .filter(F.col("rnk") == 1)
        .select("src", F.col("dst").alias("pred"))
    )
    test = trans.filter(~F.col("is_train"))
    return (
        # no hint: pred has a row per event type, but as (src, dst) the
        # plan cannot show that bound, so AQE decides
        test.join(pred, "src", "left")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum(
                F.when(F.col("pred") == F.col("dst"), 1).otherwise(0)
            ).cast("bigint").alias("n_correct"),
        )
        .select(
            "n_test", "n_correct",
            (F.col("n_correct").cast("double") / F.col("n_test")).alias("accuracy"),
        )
    )


MARKOV_ACCURACY_ORACLE = f"""
WITH seq AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n_u
  FROM events
),
trans AS (
  SELECT a.event_type AS src, b.event_type AS dst,
         b.rn <= FLOOR({MARKOV_TRAIN_FRAC!r} * a.n_u) AS is_train
  FROM seq a JOIN seq b ON b.user_id = a.user_id AND b.rn = a.rn + 1
),
model AS (
  SELECT src, dst, COUNT(*) AS c FROM trans WHERE is_train GROUP BY src, dst
),
pred AS (
  SELECT src, dst AS pred FROM (
    SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src ORDER BY c DESC, dst ASC) AS rnk
    FROM model
  ) WHERE rnk = 1
)
SELECT COUNT(*) AS n_test,
       CAST(SUM(CASE WHEN p.pred = t.dst THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       CAST(SUM(CASE WHEN p.pred = t.dst THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
         AS accuracy
FROM trans t LEFT JOIN pred p ON p.src = t.src
WHERE NOT t.is_train
"""




def iqr_outliers_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey IQR outlier fences per event type: Q1/Q3 (exact interpolated
    quantiles), the 1.5·IQR fences, and the count outside them — the
    robust-statistics complement to the z-score detector (no moment
    assumptions). Two passes: quantiles per group, then one conditional
    count against the broadcast fences."""
    ev = load(spark, sf_dir, "events")
    q = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.25)").alias("q1"),
        F.expr("percentile(value, 0.75)").alias("q3"),
    ).withColumn("iqr", F.col("q3") - F.col("q1"))
    fences = q.select(
        "event_type", "q1", "q3", "iqr",
        (F.col("q1") - 1.5 * F.col("iqr")).alias("lo"),
        (F.col("q3") + 1.5 * F.col("iqr")).alias("hi"),
    )
    joined = ev.join(F.broadcast(fences), "event_type")
    return joined.groupBy("event_type", "q1", "q3", "iqr").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when((F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi")), 1)
            .otherwise(0)
        ).cast("bigint").alias("n_outliers"),
    )


IQR_OUTLIERS_ORACLE = """
WITH q AS (
  SELECT event_type,
         quantile_cont(value, 0.25) AS q1,
         quantile_cont(value, 0.75) AS q3
  FROM events GROUP BY event_type
),
f AS (
  SELECT event_type, q1, q3, q3 - q1 AS iqr,
         q1 - 1.5 * (q3 - q1) AS lo, q3 + 1.5 * (q3 - q1) AS hi
  FROM q
)
SELECT e.event_type, f.q1, f.q3, f.iqr, COUNT(*) AS n,
       CAST(SUM(CASE WHEN e.value < f.lo OR e.value > f.hi THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers
FROM events e JOIN f ON f.event_type = e.event_type
GROUP BY e.event_type, f.q1, f.q3, f.iqr
"""



def hll_distinct_users_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-user estimate (`sketch.hll_registers` +
    `hll_estimate`, Flajolet et al. 2007) vs the exact count. The whole
    estimator IS hash-gated: harmonic terms are exact power-of-two doubles
    (1/(1<<reg), never libm pow), the 64-term sum fits double exactly in
    any order, and the linear-counting ln is quantized — so even this
    float-bearing sketch is engine-portable bit-for-bit."""
    from graphrag_toolkit_spark.operators import sketch

    ev = load(spark, sf_dir, "events")
    est = sketch.hll_estimate(sketch.hll_registers(ev, "user_id"))
    exact = ev.agg(F.countDistinct("user_id").alias("n_exact"))
    return est.crossJoin(exact)


HLL_ORACLE = """
WITH h AS (
  SELECT CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 13) AS BIGINT)
           AS hv
  FROM events WHERE user_id IS NOT NULL
),
reg AS (
  SELECT hv % 64 AS idx,
         CAST(MAX(CASE WHEN hv // 64 > 0
                       THEN 46 - (length(bin(hv // 64)) - 1)
                       ELSE 47 END) AS INT) AS reg
  FROM h GROUP BY hv % 64
),
filled AS (
  SELECT COALESCE(r.reg, 0) AS reg
  FROM (SELECT unnest(generate_series(0, 63)) AS idx) i
  LEFT JOIN reg r ON r.idx = i.idx
),
agg AS (
  SELECT SUM(1.0 / CAST(CAST(1 AS BIGINT) << reg AS DOUBLE)) AS s,
         CAST(SUM(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v
  FROM filled
)
SELECT CASE WHEN 0.709 * 4096.0 / s <= 160.0 AND v > 0
            THEN ROUND(64.0 * ln(64.0 / v), 6)
            ELSE 0.709 * 4096.0 / s END AS distinct_est,
       v AS zero_registers,
       0.709 * 4096.0 / s AS raw_est,
       (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events) AS n_exact
FROM agg
"""


ATTRIB_LOOKBACK_US = 24 * 3600 * 1_000_000


def touch_attribution_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last-touch attribution (`temporal.touch_attribution`): every
    purchase attributed to the same user's first and last click/view in
    the 24h before it — ONE per-user timeline sort with a RANGE frame,
    never a conversions×touches re-scan; integer-microsecond arithmetic,
    hash-exact vs the interval-join oracle twin."""
    from graphrag_toolkit_spark.operators.temporal import touch_attribution

    ev = load(spark, sf_dir, "events")
    return touch_attribution(
        ev, "user_id", "ts", "event_type",
        touch_types=["click", "view"], conversion_type="purchase",
        lookback_us=ATTRIB_LOOKBACK_US,
    )


TOUCH_ATTRIBUTION_ORACLE = f"""
WITH conv AS (
  SELECT user_id AS "user", event_id, epoch_us(ts) AS conv_ts_us
  FROM events WHERE event_type = 'purchase'
),
touch AS (
  SELECT user_id AS "user", epoch_us(ts) AS tts
  FROM events WHERE event_type IN ('click', 'view')
)
SELECT c."user", c.event_id, c.conv_ts_us,
       CAST(COUNT(t.tts) AS BIGINT) AS n_touches,
       MIN(t.tts) AS first_touch_us,
       MAX(t.tts) AS last_touch_us
FROM conv c LEFT JOIN touch t
  ON t."user" = c."user"
 AND t.tts >= c.conv_ts_us - {ATTRIB_LOOKBACK_US}
 AND t.tts < c.conv_ts_us
GROUP BY c."user", c.event_id, c.conv_ts_us
"""

COMPACT_TARGET_BYTES = 3000


def compaction_plan_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse maintenance planning (`sink.compaction_plan`): roll the
    events table into a per-(event_type, day) file manifest (size = props
    bytes), then bin each partition's files into ~COMPACT_TARGET_BYTES
    rewrite tasks — first-fit-decreasing, all-integer window arithmetic.
    Day ids compare in exact epoch-microseconds (the timestamp rule)."""
    from graphrag_toolkit_spark.sources.sink import compaction_plan

    manifest = (
        load(spark, sf_dir, "events")
        .select(
            "event_type",
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
            F.length("props").alias("b"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("b").cast("long").alias("size_bytes"))
    )
    return compaction_plan(
        manifest, "day", "size_bytes", COMPACT_TARGET_BYTES,
        partition_cols=["event_type"],
    )


COMPACTION_PLAN_ORACLE = f"""
WITH manifest AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         CAST(SUM(length(props)) AS BIGINT) AS size_bytes
  FROM events GROUP BY 1, 2
)
SELECT event_type, day, size_bytes,
       CAST(COALESCE(SUM(size_bytes) OVER (
         PARTITION BY event_type ORDER BY size_bytes DESC, day ASC
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
       ), 0) // {COMPACT_TARGET_BYTES} AS BIGINT) AS bin
FROM manifest
"""


def cusum_changepoint_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per event type: the day where the
    cumulative deviation of daily counts from the series mean peaks.

    The textbook statistic is S_k − k·μ with μ = S_n/n; cross-multiplying by
    n gives ``n·S_k − k·S_n`` — all BIGINT, no division, so the argmax (and
    the statistic itself) is hash-exact. One groupBy to daily counts, then
    per-type window scans — no shuffle beyond the two keyed aggregations;
    at 100 TB the daily-count table is tiny (types × days) regardless of
    input volume, so the window stage never skews."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("event_type").orderBy("d")
    tot = Window.partitionBy("event_type")
    cur = daily.select(
        "event_type",
        "d",
        F.row_number().over(w).cast("bigint").alias("k"),
        F.sum("cnt").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("sk"),
        F.sum("cnt").over(tot).alias("stot"),
        F.count(F.lit(1)).over(tot).cast("bigint").alias("n_days"),
    ).withColumn(
        "cusum_stat", F.col("n_days") * F.col("sk") - F.col("k") * F.col("stot")
    )
    pick = Window.partitionBy("event_type").orderBy(
        F.desc(F.abs(F.col("cusum_stat"))), F.asc("d")
    )
    return (
        cur.withColumn("r", F.row_number().over(pick))
        .filter(F.col("r") == 1)
        .select(
            "event_type",
            F.col("d").alias("changepoint_date"),
            "cusum_stat",
            "n_days",
        )
        .orderBy("event_type")
    )


CUSUM_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
),
cur AS (
  SELECT event_type, d,
         CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS BIGINT)
           AS k,
         CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY d
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sk,
         CAST(SUM(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS stot,
         CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days
  FROM daily
),
scored AS (
  SELECT event_type, d, n_days * sk - k * stot AS cusum_stat, n_days,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY ABS(n_days * sk - k * stot) DESC, d ASC)
           AS r
  FROM cur
)
SELECT event_type, d AS changepoint_date, cusum_stat, n_days
FROM scored WHERE r = 1
ORDER BY event_type
"""


PATHS_TOP_K = 20


def frequent_paths_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential pattern mining, the cheap-and-scalable core: the top-K
    most frequent length-3 event-type paths across per-user event streams
    (LEAD windows over (user, time) order — one shuffle keyed on user_id),
    with support = number of occurrences. The per-user window never skews
    beyond a user's own event count; the count aggregate is exact and the
    top-K sits under a total order (support desc, path asc).

    NULL event types are filtered BEFORE the window in both engines:
    concat_ws would silently skip a NULL (shortened path) while the
    oracle's ``||`` would null the whole path — a latent hash divergence
    if the fixture ever gains NULL types."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t2 = F.lead("event_type", 1).over(w)
    t3 = F.lead("event_type", 2).over(w)
    return (
        ev.select(
            F.concat_ws(">", F.col("event_type"), t2, t3).alias("path"),
            t3.alias("_t3"),
        )
        .filter(F.col("_t3").isNotNull())
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("support"))
        .orderBy(F.desc("support"), F.asc("path"))
        .limit(PATHS_TOP_K)
    )


FREQUENT_PATHS_ORACLE = f"""
WITH seq AS (
  SELECT event_type AS t1,
         LEAD(event_type, 1) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS t2,
         LEAD(event_type, 2) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS t3
  FROM events
  WHERE event_type IS NOT NULL
)
SELECT t1 || '>' || t2 || '>' || t3 AS path,
       CAST(COUNT(*) AS BIGINT) AS support
FROM seq WHERE t3 IS NOT NULL
GROUP BY 1
ORDER BY support DESC, path ASC
LIMIT {PATHS_TOP_K}
"""


def seasonal_anomalies_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-adjusted anomaly detection: hourly event counts flagged
    against their own hour-of-day baseline (the mean count for that
    (type, hour-of-day) across all days), catching spikes a global z-score
    misses because 3 am is ALWAYS quiet. The deviation test
    cross-multiplies (cnt·n_days vs 2·total and vs total/2) so the flag is
    exact-integer; the reported baseline is one double division. Input
    collapses to (type, day, hour) counts first — the anomaly scan runs on
    a table sized by the calendar, not the event volume."""
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.to_date("ts").alias("d"),
        F.hour("ts").alias("h"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    base = hourly.groupBy(F.col("event_type").alias("bt"), F.col("h").alias("bh")).agg(
        F.sum("cnt").alias("total"),
        F.count(F.lit(1)).alias("n_days"),
    )
    j = hourly.join(
        base, (hourly.event_type == base.bt) & (hourly.h == base.bh)
    )
    hi = F.col("cnt") * F.col("n_days") > F.col("total") * 2
    lo = F.col("cnt") * F.col("n_days") * 2 < F.col("total")
    return (
        j.filter(hi | lo)
        .select(
            "event_type",
            "d",
            "h",
            "cnt",
            (F.col("total").cast("double") / F.col("n_days")).alias("baseline"),
            F.when(hi, F.lit("spike")).otherwise(F.lit("drop")).alias("kind"),
        )
        .orderBy("event_type", "d", "h")
    )


SEASONAL_ANOMALIES_ORACLE = """
WITH hourly AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(hour(ts) AS INTEGER) AS h, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2, 3
),
base AS (
  SELECT event_type, h, CAST(SUM(cnt) AS BIGINT) AS total,
         CAST(COUNT(*) AS BIGINT) AS n_days
  FROM hourly GROUP BY 1, 2
)
SELECT hourly.event_type, hourly.d, hourly.h, hourly.cnt,
       CAST(base.total AS DOUBLE) / base.n_days AS baseline,
       CASE WHEN hourly.cnt * base.n_days > base.total * 2 THEN 'spike'
            ELSE 'drop' END AS kind
FROM hourly JOIN base USING (event_type, h)
WHERE hourly.cnt * base.n_days > base.total * 2
   OR hourly.cnt * base.n_days * 2 < base.total
ORDER BY event_type, d, h
"""


def winsorize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized per-type value totals: clamp each event's value at the
    exact 5th/95th order statistics of its type (rank = ceil(0.05·n) /
    ceil(0.95·n), pure integer arithmetic) and report the clamp bounds,
    clipped-row counts, and the clamped decimal sum — the robust-total
    recipe that makes revenue/latency aggregates outlier-proof. Two keyed
    passes: one rank window, one aggregate; bounds broadcast back."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    ranked = ev.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n"),
    )
    klo = F.expr("div(n * 5 + 99, 100)")
    khi = F.expr("div(n * 95 + 99, 100)")
    bounds = (
        ranked.groupBy(F.col("event_type").alias("bt"))
        .agg(
            F.max(F.when(F.col("r") == klo, F.col("value"))).alias("lo"),
            F.max(F.when(F.col("r") == khi, F.col("value"))).alias("hi"),
        )
    )
    clamped = ev.join(
        F.broadcast(bounds), ev.event_type == F.col("bt")
    ).withColumn(
        "cv",
        F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi")),
    )
    return (
        clamped.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("lo").alias("lo"),
            F.max("hi").alias("hi"),
            F.sum(F.when(F.col("value") < F.col("lo"), 1).otherwise(0)).alias(
                "n_clipped_low"
            ),
            F.sum(F.when(F.col("value") > F.col("hi"), 1).otherwise(0)).alias(
                "n_clipped_high"
            ),
            F.round(F.sum(_dec("cv")), 2).cast("double").alias("sum_winsorized"),
        )
        .orderBy("event_type")
    )


WINSORIZE_ORACLE = """
WITH ranked AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS r,
         CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM events
),
bounds AS (
  SELECT event_type,
         MAX(CASE WHEN r = (n * 5 + 99) // 100 THEN value END) AS lo,
         MAX(CASE WHEN r = (n * 95 + 99) // 100 THEN value END) AS hi
  FROM ranked GROUP BY event_type
),
clamped AS (
  SELECT e.event_type, e.value, b.lo, b.hi,
         LEAST(GREATEST(e.value, b.lo), b.hi) AS cv
  FROM events e JOIN bounds b USING (event_type)
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       MAX(lo) AS lo, MAX(hi) AS hi,
       CAST(SUM(CASE WHEN value < lo THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clipped_low,
       CAST(SUM(CASE WHEN value > hi THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clipped_high,
       CAST(ROUND(SUM(CAST(cv AS DECIMAL(12,2))), 2) AS DOUBLE)
         AS sum_winsorized
FROM clamped
GROUP BY event_type
ORDER BY event_type
"""


PSI_BUCKETS = 10


def psi_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between user-hash halves of each event
    type's value distribution — THE industry drift metric for deployed
    model inputs (rule of thumb: PSI < 0.1 stable, > 0.25 investigate):

        PSI = Σ_i (p_i − q_i) · ln(p_i / q_i)

    over {PSI_BUCKETS} equal-count buckets whose edges are exact order
    statistics of the pooled values (rank ceil(i·n/10) under a
    (value, event_id) total order — no percentile interpolation).

    EXACTNESS: bucket counts are integers; p, q, and the ratio are
    exact-operand divisions; ln is grid-quantized (word_entropy
    discipline); the 10-term sum runs in FIXED bucket order via a running
    window. Empty-side buckets use add-one smoothing on the COUNTS
    (classic PSI practice), keeping every input exact.

    Scale shape: one rank window for the edges (value-sorted once), then
    integer bucket aggregates; PSI arithmetic runs on types × 10 rows."""
    ev = load(spark, sf_dir, "events")
    half = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("psi|"), F.col("user_id").cast("string"))),
                1, 7,
            ),
            16, 10,
        ).cast("long")
        % 2
    )
    base = ev.select(
        "event_type", "event_id", F.col("value").alias("v"), half.alias("h")
    )
    base = base.localCheckpoint(eager=False)  # edges + bucketing both read it
    w = Window.partitionBy("event_type").orderBy("v", "event_id")
    ranked = base.select(
        "event_type", "v",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n"),
    )
    # bucket edges: value at rank ceil(i·n/B), i = 1..B-1 — ONE pass over
    # the ranked frame (a per-i filter loop would re-run the sort window
    # B-1 times); a rank can satisfy several i when n < B, so edge_i
    # explodes over the matching i's. floor((i·n+B−1)/B) in double is
    # exact here: operands < 2^53 and true quotients sit ≥ 1/B away from
    # the next integer except when exactly integral.
    target_rk = lambda i: F.floor(  # noqa: E731
        (i.cast("long") * F.col("n") + F.lit(PSI_BUCKETS - 1))
        / F.lit(PSI_BUCKETS)
    )
    edges = ranked.select(
        "event_type",
        F.col("v").alias("edge"),
        F.explode(
            F.filter(
                F.sequence(F.lit(1), F.lit(PSI_BUCKETS - 1)),
                lambda i: F.col("rk") == target_rk(i),
            )
        ).alias("edge_i"),
    )
    # bucket of a value = number of edges strictly below it
    j = base.join(F.broadcast(edges), "event_type")
    bucketed = (
        j.groupBy("event_type", "event_id", "h")
        .agg(F.sum(F.when(F.col("v") > F.col("edge"), 1).otherwise(0)).alias("b"))
    )
    counts = bucketed.groupBy("event_type", "b").agg(
        F.sum(F.when(F.col("h") == 0, 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("h") == 1, 1).otherwise(0)).alias("cb"),
    )
    tot = counts.groupBy("event_type").agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb"),
        F.count(F.lit(1)).alias("n_buckets"),
    )
    qln = lambda c: F.round(F.log(c), 6).cast("decimal(12,6)")  # noqa: E731
    smoothed = counts.join(F.broadcast(tot), "event_type").select(
        "event_type", "b",
        ((F.col("ca") + 1).cast("double")
         / (F.col("na") + F.col("n_buckets")).cast("double")).alias("p"),
        ((F.col("cb") + 1).cast("double")
         / (F.col("nb") + F.col("n_buckets")).cast("double")).alias("q"),
    )
    term = (
        (F.col("p") - F.col("q")) * qln(F.col("p") / F.col("q")).cast("double")
    )
    run = Window.partitionBy("event_type").orderBy("b").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        smoothed.withColumn("_t", term)
        .withColumn("_cum", F.sum("_t").over(run))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            # the running sum's value at the LAST bucket (fixed-order total)
            F.max_by("_cum", "b").alias("psi"),
        )
        .orderBy("event_type")
    )


PSI_ORACLE = f"""
WITH base AS (
  SELECT event_type, event_id, value AS v,
         CAST('0x' || substring(md5('psi|' || CAST(user_id AS VARCHAR)), 1, 7)
              AS BIGINT) % 2 AS h
  FROM events
),
ranked AS (
  SELECT event_type, v,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v, event_id) AS rk,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM base
),
edges AS (
  SELECT event_type, i.i AS edge_i, v AS edge
  FROM ranked, generate_series(1, {PSI_BUCKETS - 1}) AS i(i)
  WHERE rk = (i.i * n + {PSI_BUCKETS - 1}) // {PSI_BUCKETS}
),
bucketed AS (
  SELECT b.event_type, b.event_id, b.h,
         CAST(SUM(CASE WHEN b.v > e.edge THEN 1 ELSE 0 END) AS BIGINT) AS bk
  FROM base b JOIN edges e USING (event_type)
  GROUP BY 1, 2, 3
),
counts AS (
  SELECT event_type, bk,
         CAST(SUM(CASE WHEN h = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(SUM(CASE WHEN h = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
  FROM bucketed GROUP BY 1, 2
),
tot AS (
  SELECT event_type, SUM(ca) AS na, SUM(cb) AS nb,
         CAST(COUNT(*) AS BIGINT) AS n_buckets
  FROM counts GROUP BY event_type
),
terms AS (
  SELECT c.event_type, c.bk, t.n_buckets,
         (CAST(c.ca + 1 AS DOUBLE) / CAST(t.na + t.n_buckets AS DOUBLE)
          - CAST(c.cb + 1 AS DOUBLE) / CAST(t.nb + t.n_buckets AS DOUBLE))
         * CAST(CAST(ROUND(ln(
             (CAST(c.ca + 1 AS DOUBLE) / CAST(t.na + t.n_buckets AS DOUBLE))
             / (CAST(c.cb + 1 AS DOUBLE) / CAST(t.nb + t.n_buckets AS DOUBLE))
           ), 6) AS DECIMAL(12,6)) AS DOUBLE) AS term
  FROM counts c JOIN tot t USING (event_type)
),
summed AS (
  SELECT event_type, n_buckets,
         SUM(term) OVER (PARTITION BY event_type ORDER BY bk
                         ROWS UNBOUNDED PRECEDING) AS cum,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY bk DESC) AS rn
  FROM terms
)
SELECT event_type, CAST(n_buckets AS BIGINT) AS n_buckets, cum AS psi
FROM summed WHERE rn = 1
ORDER BY event_type
"""


def survival_curve_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier user-retention curve, log domain: per-user lifetime =
    days between first and last event; a user whose last event falls on
    the corpus's final day is CENSORED (still active), everyone else
    churned at their lifetime. Emits the KM table per distinct lifetime —
    at-risk count, churn events, censored exits, the quantized ln of the
    step factor (1 − d/n), and the RUNNING log-survival (exact decimal
    running sum in lifetime order; `exp` of it is the KM estimate, left
    to the caller because libm exp is not bit-portable — the
    `word_entropy` ln discipline, applied to survival analysis).

    All-churn terminal steps (d = n) have survival 0: factor/log emitted
    as NULL in both engines rather than −inf.

    Scale shape: one per-user aggregate, then everything runs on a table
    sized by DISTINCT LIFETIMES (≤ observation days), not events."""
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_d"),
        F.max(F.to_date("ts")).alias("last_d"),
    )
    horizon = ev.agg(F.max(F.to_date("ts")).alias("end_d"))
    # the lifetime IS a day count (datediff) — group under the calendar-
    # bounded name `day` so the plan guard PROVES the global KM windows run
    # over <= observation-days rows (alias back to `t` in the output)
    life = (
        per_user.crossJoin(F.broadcast(horizon))
        .select(
            F.datediff("last_d", "first_d").cast("long").alias("day"),
            F.when(F.col("last_d") == F.col("end_d"), 1).otherwise(0).alias("cens"),
        )
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_at_t"),
            F.sum(F.expr("1 - cens")).cast("long").alias("d_t"),
            F.sum("cens").cast("long").alias("c_t"),
        )
    )
    w_risk = Window.orderBy(F.asc("day")).rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    w_run = Window.orderBy(F.asc("day")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risked = life.withColumn("n_risk", F.sum("n_at_t").over(w_risk))
    qf = F.when(
        F.col("d_t") < F.col("n_risk"),
        F.round(
            F.log(
                F.lit(1.0)
                - F.col("d_t").cast("double") / F.col("n_risk").cast("double")
            ),
            6,
        ).cast("decimal(12,6)"),
    )
    return (
        risked.withColumn("_qf", qf)
        .withColumn(
            "log_survival",
            F.when(
                F.max(F.col("_qf").isNull().cast("int")).over(w_run) == 0,
                F.sum("_qf").over(w_run).cast("decimal(18,6)"),
            ).cast("double"),
        )
        .select(
            F.col("day").alias("t"),
            F.col("n_risk").cast("long").alias("n_risk"),
            "d_t", "c_t",
            F.col("_qf").cast("double").alias("ln_factor"),
            "log_survival",
        )
        .orderBy("t")
    )


SURVIVAL_ORACLE = """
WITH per_user AS (
  SELECT user_id,
         MIN(CAST(ts AS DATE)) AS first_d,
         MAX(CAST(ts AS DATE)) AS last_d
  FROM events GROUP BY user_id
),
horizon AS (SELECT MAX(CAST(ts AS DATE)) AS end_d FROM events),
life AS (
  SELECT CAST(datediff('day', first_d, last_d) AS BIGINT) AS t,
         CAST(COUNT(*) AS BIGINT) AS n_at_t,
         CAST(SUM(CASE WHEN last_d = end_d THEN 0 ELSE 1 END) AS BIGINT) AS d_t,
         CAST(SUM(CASE WHEN last_d = end_d THEN 1 ELSE 0 END) AS BIGINT) AS c_t
  FROM per_user, horizon GROUP BY 1
),
risked AS (
  SELECT *,
         SUM(n_at_t) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW
                           AND UNBOUNDED FOLLOWING) AS n_risk
  FROM life
),
stepped AS (
  SELECT *,
         CASE WHEN d_t < n_risk
              THEN CAST(ROUND(ln(1.0 - CAST(d_t AS DOUBLE)
                                     / CAST(n_risk AS DOUBLE)), 6)
                        AS DECIMAL(12,6))
         END AS qf
  FROM risked
)
SELECT t, CAST(n_risk AS BIGINT) AS n_risk, d_t, c_t,
       CAST(qf AS DOUBLE) AS ln_factor,
       CASE WHEN MAX(CASE WHEN qf IS NULL THEN 1 ELSE 0 END)
                 OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) = 0
            THEN CAST(CAST(SUM(qf) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
                           AS DECIMAL(18,6)) AS DOUBLE)
       END AS log_survival
FROM stepped
ORDER BY t
"""


def burstiness_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type traffic burstiness: the Fano factor (variance/mean) of the
    DAILY event counts — F ≈ 1 is Poisson-like arrivals, F ≫ 1 is bursty
    (flash crowds, batch jobs), F ≪ 1 is metronomic. The dispersion
    diagnostic a pipeline checks before trusting rate-based anomaly
    thresholds. Days with zero events don't emit a daily row and are
    OUTSIDE the statistic (observed-days convention, both engines).

    EXACTNESS: daily counts are integers, so variance·n·(n−1) and the
    Fano numerator n·(n·Σc² − (Σc)²) are exact BIGINT; mean and Fano are
    each ONE division of exact operands."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("c")
    )
    n = F.count(F.lit(1))
    sc = F.sum("c")
    sc2 = F.sum(F.col("c") * F.col("c"))
    return (
        daily.groupBy("event_type")
        .agg(
            n.cast("long").alias("n_days"),
            sc.cast("long").alias("n_events"),
            (sc.cast("double") / n.cast("double")).alias("mean_daily"),
            # single observed day → n·(n−1) = 0 → Fano undefined: NULL,
            # never a 0/0 (the CASE is mirrored in BURSTINESS_ORACLE)
            F.when(
                n > 1,
                (n * (n * sc2 - sc * sc)).cast("double")
                / (n * (n - 1) * sc).cast("double"),
            ).alias("fano"),
        )
        .orderBy("event_type")
    )


BURSTINESS_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
agg AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(c) AS BIGINT) AS sc,
         CAST(SUM(c * c) AS BIGINT) AS sc2
  FROM daily GROUP BY event_type
)
SELECT event_type, n AS n_days, sc AS n_events,
       CAST(sc AS DOUBLE) / CAST(n AS DOUBLE) AS mean_daily,
       CASE WHEN n > 1 THEN CAST(n * (n * sc2 - sc * sc) AS DOUBLE)
                              / CAST(n * (n - 1) * sc AS DOUBLE)
       END AS fano
FROM agg
ORDER BY event_type
"""


NEYMAN_BUDGET = 1000


def neyman_allocation_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sample allocation over event types:
    quota_h ∝ N_h·S_h (Neyman 1934 — minimum-variance allocation of a
    fixed sample budget across strata), with largest-remainder rounding so
    the integer quotas sum exactly to the budget. The planning step before
    a stratified telemetry sample; the output is the per-stratum audit
    (size, spread, share, quota).

    EXACTNESS: values live on the 10⁻⁶ decimal grid; the variance
    numerator n·Σv² − (Σv)² is exact decimal arithmetic; S_h is one sqrt
    of one exact-operand division; the share denominator is a FIXED-ORDER
    running sum of the positive N_h·S_h terms (unordered double SUM is
    engine-ambiguous — `temperature_weights` discipline); floor + ranked
    remainders keep the rounding integer-exact.

    Scale shape: one per-stratum aggregate (map-side combined); everything
    after runs on a k-row table (k = distinct event types)."""
    ev = load(spark, sf_dir, "events")
    vq = F.round(F.col("value").cast("double"), 6).cast("decimal(12,6)")
    per = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_h"),
        F.sum(vq).alias("sum_v"),
        F.sum(vq * vq).alias("sum_v2"),
    )
    # The variance numerator MUST stay exact decimal in BOTH engines: with
    # the default SUM result widths, Spark's n·Σv² product overflows
    # precision 38 and silently REDUCES SCALE (rounds), while DuckDB falls
    # back to DOUBLE — two different inexact paths, a 1-ulp hash divergence
    # (seen at sf0.01). Re-cast to tight widths first so every product fits
    # exactly: n_h < 10⁹, |Σv| < 10¹² (fixture max ~10⁷), Σv² < 10¹².
    n_dec = F.col("n_h").cast("decimal(9,0)")
    sv = F.col("sum_v").cast("decimal(18,6)")
    sv2 = F.col("sum_v2").cast("decimal(24,12)")
    var_num = (n_dec * sv2 - sv * sv).cast("decimal(38,12)")
    # decimal→double is only correctly rounded when the RAW scaled integer
    # fits in 2^53; var_num's raw value is ~10²² here, where DuckDB's
    # int128→double path and Spark's BigDecimal path round DIFFERENTLY
    # (1-ulp hash divergence, seen at sf0.01). Split into integer part
    # (< 2^53, exact as double — documented bound: variance numerator
    # < 9·10¹⁵) + fraction (raw < 10¹², exact), one IEEE add — identical
    # bits in both engines.
    num_int = F.floor(var_num)
    num_frac = var_num - num_int.cast("decimal(38,12)")
    num_dbl = num_int.cast("double") + num_frac.cast("double")
    # a single-event stratum has no spread estimate: n_h·(n_h−1) = 0 would
    # 0/0-NaN the share sum for EVERY stratum — NULL it out instead (the
    # CASE is mirrored in _NEYMAN_CTE; NULL w → NULL share/alloc, and the
    # draw step skips the stratum)
    s_h = F.when(
        F.col("n_h") > 1,
        F.sqrt(num_dbl / (F.col("n_h") * (F.col("n_h") - 1)).cast("double")),
    )
    scored = per.select(
        "event_type", "n_h", (F.col("n_h").cast("double") * s_h).alias("w")
    )
    run = Window.orderBy("event_type").rowsBetween(Window.unboundedPreceding, 0)
    full = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    shared = (
        scored.withColumn("_cum", F.sum("w").over(run))
        .withColumn("_wtot", F.max("_cum").over(full))
        .withColumn("share", F.col("w") / F.col("_wtot"))
        .withColumn("raw", F.lit(float(NEYMAN_BUDGET)) * F.col("share"))
        .withColumn("base", F.floor("raw").cast("long"))
        .withColumn("_rem", F.col("raw") - F.floor("raw"))
        .withColumn("_short", F.lit(NEYMAN_BUDGET) - F.sum("base").over(full))
        .withColumn(
            "_rk",
            F.row_number().over(
                Window.orderBy(F.desc("_rem"), F.asc("event_type"))
            ),
        )
    )
    return shared.select(
        "event_type", "n_h",
        (F.col("w") / F.col("n_h").cast("double")).alias("s_h"),
        "share",
        (
            F.col("base")
            + F.when(F.col("_rk") <= F.col("_short"), 1).otherwise(0)
        ).cast("long").alias("alloc"),
    ).orderBy("event_type")


def neyman_sample_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTE the Neyman plan: draw exactly `alloc` rows per stratum by
    content-hash order (the deterministic-sample discipline — the same
    rows survive on every engine, every run) — plan → sample in one job.
    Output is the sampled (event_type, event_id) set itself, so the gate
    hashes the exact membership, not just counts.

    Scale shape: the quota table is stratum-sized and broadcast; the draw
    is one per-stratum rank window over the events scan."""
    alloc = neyman_allocation_events(spark, sf_dir).select("event_type", "alloc")
    ev = load(spark, sf_dir, "events").select("event_type", "event_id")
    w = Window.partitionBy("event_type").orderBy(
        F.md5(F.concat(F.lit("ns|"), F.col("event_id").cast("string"))),
        F.asc("event_id"),
    )
    return (
        ev.withColumn("_rn", F.row_number().over(w))
        .join(F.broadcast(alloc), "event_type")
        .filter(F.col("_rn") <= F.col("alloc"))
        .select("event_type", "event_id")
        .orderBy("event_type", "event_id")
    )


_NEYMAN_CTE = f"""per AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_h,
         SUM(CAST(ROUND(CAST(value AS DOUBLE), 6) AS DECIMAL(12,6))) AS sum_v,
         SUM(CAST(ROUND(CAST(value AS DOUBLE), 6) AS DECIMAL(12,6))
             * CAST(ROUND(CAST(value AS DOUBLE), 6) AS DECIMAL(12,6))) AS sum_v2
  FROM events GROUP BY event_type
),
vnum AS (
  -- tight decimal widths keep n·Σv² − (Σv)² exact (see the Spark twin:
  -- default widths overflow → Spark rounds scale, DuckDB falls to DOUBLE);
  -- one DECIMAL(20,*) operand forces DuckDB's HUGEINT multiply path
  -- (symmetric 18x18 overflows its INT64 fast path on this data)
  SELECT event_type, n_h,
         CAST(CAST(n_h AS DECIMAL(9,0)) * CAST(sum_v2 AS DECIMAL(24,12))
              AS DECIMAL(38,12))
         - CAST(CAST(sum_v AS DECIMAL(20,6)) * CAST(sum_v AS DECIMAL(18,6))
                AS DECIMAL(38,12)) AS vn
  FROM per
),
scored AS (
  -- decimal→double split: integer part (< 2^53) + fraction, one IEEE add —
  -- a direct CAST of the ~10²²-raw decimal rounds differently per engine
  SELECT event_type, n_h,
         CASE WHEN n_h > 1 THEN
           CAST(n_h AS DOUBLE)
             * sqrt((CAST(FLOOR(vn) AS DOUBLE)
                     + CAST(vn - FLOOR(vn) AS DOUBLE))
                    / CAST(n_h * (n_h - 1) AS DOUBLE))
         END AS w
  FROM vnum
),
shared AS (
  SELECT event_type, n_h, w,
         MAX(cum) OVER () AS wtot
  FROM (
    SELECT *, SUM(w) OVER (ORDER BY event_type ROWS UNBOUNDED PRECEDING) AS cum
    FROM scored
  )
),
alloc AS (
  SELECT event_type, n_h, w, w / wtot AS share,
         {NEYMAN_BUDGET} * (w / wtot) AS raw,
         CAST(FLOOR({NEYMAN_BUDGET} * (w / wtot)) AS BIGINT) AS base
  FROM shared
),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (ORDER BY raw - FLOOR(raw) DESC, event_type) AS rk,
         {NEYMAN_BUDGET} - SUM(base) OVER () AS short
  FROM alloc
)"""

NEYMAN_ORACLE = f"""
WITH {_NEYMAN_CTE}
SELECT event_type, n_h, w / CAST(n_h AS DOUBLE) AS s_h, share,
       CAST(base + CASE WHEN rk <= short THEN 1 ELSE 0 END AS BIGINT) AS alloc
FROM ranked
ORDER BY event_type
"""

NEYMAN_SAMPLE_ORACLE = f"""
WITH {_NEYMAN_CTE},
quota AS (
  SELECT event_type,
         CAST(base + CASE WHEN rk <= short THEN 1 ELSE 0 END AS BIGINT)
           AS alloc
  FROM ranked
),
drawn AS (
  SELECT event_type, event_id,
         ROW_NUMBER() OVER (
           PARTITION BY event_type
           ORDER BY md5('ns|' || CAST(event_id AS VARCHAR)), event_id
         ) AS rn
  FROM events
)
SELECT d.event_type, d.event_id
FROM drawn d JOIN quota q USING (event_type)
WHERE d.rn <= q.alloc
ORDER BY d.event_type, d.event_id
"""


QUERIES = {
    "neyman_allocation_events": neyman_allocation_events,
    "neyman_sample_events": neyman_sample_events,
    "burstiness_events": burstiness_events,
    "survival_curve_events": survival_curve_events,
    "psi_events": psi_events,
    "winsorize_events": winsorize_events,
    "seasonal_anomalies_events": seasonal_anomalies_events,
    "frequent_paths_events": frequent_paths_events,
    "cusum_changepoint_events": cusum_changepoint_events,
    "compaction_plan_events": compaction_plan_events,
    "tumbling_window_events": tumbling_window_events,
    "salted_agg_events": salted_agg_events,
    "cumulative_distinct_users_events": cumulative_distinct_users_events,
    "ewma_events": ewma_events,
    "histogram_quantiles_events": histogram_quantiles_events,
    "kmv_overlap_users_events": kmv_overlap_users_events,
    "asof_forward_events": asof_forward_events,
    "dau_mau_events": dau_mau_events,
    "markov_accuracy_events": markov_accuracy_events,
    "iqr_outliers_events": iqr_outliers_events,
    "robust_stats_events": robust_stats_events,
    "interarrival_stats_events": interarrival_stats_events,
    "resample_gapfill_events": resample_gapfill_events,
    "zscore_anomalies_events": zscore_anomalies_events,
    "cohort_retention_events": cohort_retention_events,
    "json_stats_events": json_stats_events,
    "event_transitions": event_transitions,
    "moving_avg_events": moving_avg_events,
    "funnel_conversion_events": funnel_conversion_events,
    "range_window_events": range_window_events,
    "sliding_window_events": sliding_window_events,
    "sessionize_events": sessionize_events,
    "event_type_funnel": event_type_funnel,
    "asof_join_events": asof_join_events,
    "interval_join_events": interval_join_events,
    "kmv_distinct_users_events": kmv_distinct_users_events,
    "hll_distinct_users_events": hll_distinct_users_events,
    "touch_attribution_events": touch_attribution_events,
}

ORACLES = {
    "neyman_allocation_events": NEYMAN_ORACLE,
    "neyman_sample_events": NEYMAN_SAMPLE_ORACLE,
    "burstiness_events": BURSTINESS_ORACLE,
    "survival_curve_events": SURVIVAL_ORACLE,
    "psi_events": PSI_ORACLE,
    "winsorize_events": WINSORIZE_ORACLE,
    "seasonal_anomalies_events": SEASONAL_ANOMALIES_ORACLE,
    "frequent_paths_events": FREQUENT_PATHS_ORACLE,
    "cusum_changepoint_events": CUSUM_ORACLE,
    "compaction_plan_events": COMPACTION_PLAN_ORACLE,
    "salted_agg_events": SALTED_AGG_ORACLE,
    "cumulative_distinct_users_events": CUMULATIVE_DISTINCT_ORACLE,
    "ewma_events": EWMA_ORACLE,
    "histogram_quantiles_events": HISTOGRAM_QUANTILES_ORACLE,
    "kmv_overlap_users_events": KMV_OVERLAP_ORACLE,
    "asof_forward_events": ASOF_FORWARD_ORACLE,
    "dau_mau_events": DAU_MAU_ORACLE,
    "markov_accuracy_events": MARKOV_ACCURACY_ORACLE,
    "iqr_outliers_events": IQR_OUTLIERS_ORACLE,
    "tumbling_window_events": TUMBLING_ORACLE,
    "sliding_window_events": SLIDING_ORACLE,
    "sessionize_events": SESSIONIZE_ORACLE,
    "event_type_funnel": FUNNEL_ORACLE,
    "asof_join_events": ASOF_ORACLE,
    "interval_join_events": INTERVAL_ORACLE,
    "kmv_distinct_users_events": KMV_ORACLE,
    "hll_distinct_users_events": HLL_ORACLE,
    "touch_attribution_events": TOUCH_ATTRIBUTION_ORACLE,
    "resample_gapfill_events": RESAMPLE_ORACLE,
    "zscore_anomalies_events": ZSCORE_ORACLE,
    "cohort_retention_events": COHORT_ORACLE,
    "json_stats_events": JSON_STATS_ORACLE,
    "event_transitions": TRANSITIONS_ORACLE,
    "moving_avg_events": MOVING_AVG_ORACLE,
    "funnel_conversion_events": FUNNEL_CONVERSION_ORACLE,
    "range_window_events": RANGE_WINDOW_ORACLE,
    "robust_stats_events": ROBUST_STATS_ORACLE,
    "interarrival_stats_events": INTERARRIVAL_ORACLE,
}
