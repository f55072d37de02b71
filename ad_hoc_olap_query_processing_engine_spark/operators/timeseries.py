"""Time-series rollups (SURVEY.md §2.3 — NOT-IN-REFERENCE; the hypertable
face of a telemetry pipeline).

timebucket_gapfill  the generic continuous-aggregate primitive: bucket event
                    time into fixed-width epoch buckets, aggregate per
                    (bucket, keys), then LEFT-join the aggregate onto the
                    dense (bucket × key) grid so silent periods surface as
                    explicit zero/NULL rows (what TimescaleDB calls
                    time_bucket_gapfill). The grid is built from the
                    aggregated bounds — sequence() + explode over a one-row
                    bounds frame, never a driver-side action — and is tiny
                    (buckets × keys) no matter how large the fact table is,
                    so the gap-fill join is a broadcast over the already-
                    aggregated data. At 100 TB the only full-table work is
                    the first aggregation, which map-side combines.

func_timebucket     the registered instance: daily event counts + exact
                    decimal value sums per event_type with gap-filled days.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from .iterutil import generation
from .registry import register

BUCKET_SECS = 86400


def timebucket_gapfill(
    df: DataFrame,
    ts_col: str,
    key_cols: list[str],
    bucket_secs: int,
    aggs: list,
) -> DataFrame:
    """``df.groupBy(bucket, keys).agg(*aggs)`` over a DENSE bucket grid:
    every (bucket, key) combination between the observed min and max bucket
    appears, with NULL aggregates where no rows landed (callers coalesce
    counts to 0). ``aggs`` are ready-made aliased Column aggregates."""
    bucket = (F.floor(F.unix_micros(F.col(ts_col)) / (bucket_secs * 1_000_000)) * bucket_secs).cast(
        "bigint"
    )
    agged = df.withColumn("__bucket", bucket).groupBy("__bucket", *key_cols).agg(*aggs)
    bounds = agged.groupBy().agg(
        F.min("__bucket").alias("__lo"), F.max("__bucket").alias("__hi")
    )
    buckets = bounds.select(
        F.explode(
            F.sequence(F.col("__lo"), F.col("__hi"), F.lit(bucket_secs).cast("bigint"))
        ).alias("__bucket")
    )
    grid = buckets.crossJoin(F.broadcast(agged.select(*key_cols).distinct()))
    return grid.join(F.broadcast(agged), ["__bucket", *key_cols], "left")


def func_timebucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    out = timebucket_gapfill(
        e,
        "ts",
        ["event_type"],
        BUCKET_SECS,
        [
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        ],
    )
    return out.select(
        F.col("__bucket").alias("bucket_start"),
        "event_type",
        F.coalesce(F.col("n_events"), F.lit(0)).cast("bigint").alias("n_events"),
        "sum_value",
    )


FUNC_TIMEBUCKET_SQL = f"""\
WITH agged AS (
  SELECT CAST(FLOOR(epoch_us(ts) / {BUCKET_SECS * 1_000_000}) * {BUCKET_SECS} AS BIGINT) AS bucket_start,
         event_type,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
  FROM events GROUP BY 1, 2),
bounds AS (SELECT MIN(bucket_start) AS lo, MAX(bucket_start) AS hi FROM agged),
buckets AS (
  SELECT unnest(generate_series(lo, hi, {BUCKET_SECS})) AS bucket_start FROM bounds),
grid AS (SELECT b.bucket_start, t.event_type
         FROM buckets b CROSS JOIN (SELECT DISTINCT event_type FROM agged) t)
SELECT g.bucket_start, g.event_type,
       COALESCE(a.n_events, 0) AS n_events,
       a.sum_value AS sum_value
FROM grid g LEFT JOIN agged a
  ON a.bucket_start = g.bucket_start AND a.event_type = g.event_type"""


register("func_timebucket", func_timebucket, FUNC_TIMEBUCKET_SQL)


# ---------------------------------------------------------------------------
# rel_funnel — ordered conversion funnel per user (view → first click AFTER
# that view → first purchase AFTER that click), reported as one stage-count
# row. Each stage's anchor time attaches per row via a min-over-user window;
# the three windows and the final user rollup share ONE hashpartitioning
# (user_id) exchange, so the whole funnel is a single pass over events — the
# same shape at 100 TB, where per-user event counts (window partition size)
# stay bounded while users scale out. Epoch-micro integer mins keep every
# stage timestamp exact across engines; the conversion rate is an
# exact-count division.
# ---------------------------------------------------------------------------


def _per_user_funnel(
    spark: SparkSession, sf_dir: str, click_within_us=None, purchase_within_us=None
) -> DataFrame:
    """(user_id, t_view, t_click, t_purch): each user's first view, first
    click after it and first purchase after that click, in epoch micros; a
    step with a deadline must also land within it of the previous step.
    Shared by the funnel siblings."""
    from pyspark.sql import Window as W

    e = load_table(spark, "events", sf_dir).select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    w = W.partitionBy("user_id")
    t_view = F.min(F.when(F.col("event_type") == "view", F.col("us"))).over(w)
    e = e.withColumn("__t_view", t_view)
    for step, kind, prev, within in (
        ("__t_click", "click", "__t_view", click_within_us),
        ("__t_purch", "purchase", "__t_click", purchase_within_us),
    ):
        cond = (F.col("event_type") == kind) & (F.col("us") > F.col(prev))
        if within is not None:
            cond = cond & (F.col("us") <= F.col(prev) + within)
        e = e.withColumn(step, F.min(F.when(cond, F.col("us"))).over(w))
    # min over a per-user-constant window column == that constant (min
    # instead of first: order-independent by construction)
    return e.groupBy("user_id").agg(
        F.min("__t_view").alias("t_view"),
        F.min("__t_click").alias("t_click"),
        F.min("__t_purch").alias("t_purch"),
    )


def rel_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _per_user_funnel(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_view").alias("n_viewed"),
        F.count("t_click").alias("n_clicked_after_view"),
        F.count("t_purch").alias("n_purchased_after_click"),
        (F.count("t_purch").cast("double") / F.count("t_view")).alias(
            "view_to_purchase_rate"
        ),
    )


REL_FUNNEL_SQL = """\
WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
u AS (
  SELECT user_id,
         MIN(us) FILTER (WHERE event_type = 'view') AS t_view
  FROM e GROUP BY user_id),
c AS (
  SELECT e.user_id, MIN(e.us) AS t_click
  FROM e JOIN u ON u.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.us > u.t_view
  GROUP BY e.user_id),
p AS (
  SELECT e.user_id, MIN(e.us) AS t_purch
  FROM e JOIN c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.us > c.t_click
  GROUP BY e.user_id)
SELECT COUNT(*)          AS n_users,
       COUNT(u.t_view)   AS n_viewed,
       COUNT(c.t_click)  AS n_clicked_after_view,
       COUNT(p.t_purch)  AS n_purchased_after_click,
       CAST(COUNT(p.t_purch) AS DOUBLE) / COUNT(u.t_view)
                         AS view_to_purchase_rate
FROM u
LEFT JOIN c ON c.user_id = u.user_id
LEFT JOIN p ON p.user_id = u.user_id"""


register("rel_funnel", rel_funnel, REL_FUNNEL_SQL)


# ---------------------------------------------------------------------------
# func_multires_rollup — the hypertable continuous-aggregate ladder: an hourly
# base aggregate computed ONCE from raw events, and the daily tier derived
# FROM THE HOURLY AGGREGATE, never from raw (count/sum/min/max re-aggregate
# losslessly). That is the 100 TB shape: raw is touched exactly once per
# refresh window, and each coarser tier aggregates |finer tier| rows —
# thousands — regardless of raw volume; TimescaleDB/Druid maintain their
# rollup ladders the same way. Both resolutions surface in one frame tagged
# by a `resolution` column. The oracle recomputes BOTH tiers from raw — so a
# hash match proves the rollup-of-rollup derivation is lossless, which is the
# whole point of the operator.
# ---------------------------------------------------------------------------

HOUR_SECS = 3600


def _hourly_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hourly continuous aggregate, materialized once per (session,
    sf_dir) — it IS the maintained rollup artifact; persisting it also makes
    the output union and the daily derivation share one fact pass (without
    it, the unioned lineage re-scans raw events), and the session cache
    keeps repeated invocations from piling up orphaned cached copies."""
    from .session_cache import session_cached

    def build() -> DataFrame:
        e = load_table(spark, "events", sf_dir)
        hour = (
            F.floor(F.unix_micros(F.col("ts")) / (HOUR_SECS * 1_000_000)) * HOUR_SECS
        ).cast("bigint")
        return (
            e.withColumn("__b", hour)
            .groupBy("__b", "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,6)")).alias("__sum"),
                F.min(F.col("value").cast("decimal(18,6)")).alias("__min"),
                F.max(F.col("value").cast("decimal(18,6)")).alias("__max"),
            )
            .persist()
        )

    return session_cached("multires_hourly", spark, sf_dir, build)


def func_multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    hourly = _hourly_tier(spark, sf_dir)
    # daily tier: re-aggregate the HOURLY rows (floor of the hourly bucket,
    # sum of counts/sums, min of mins, max of maxes)
    day = (F.floor(F.col("__b") / BUCKET_SECS) * BUCKET_SECS).cast("bigint")
    daily = (
        hourly.withColumn("__b", day)
        .groupBy("__b", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("__sum").alias("__sum"),
            F.min("__min").alias("__min"),
            F.max("__max").alias("__max"),
        )
    )
    out = hourly.withColumn("resolution", F.lit("1h")).unionByName(
        daily.withColumn("resolution", F.lit("1d"))
    )
    return out.select(
        "resolution",
        F.col("__b").alias("bucket_start"),
        "event_type",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("__sum").cast("double").alias("sum_value"),
        F.col("__min").cast("double").alias("min_value"),
        F.col("__max").cast("double").alias("max_value"),
    )


FUNC_MULTIRES_ROLLUP_SQL = f"""\
WITH tiers AS (
  SELECT '1h' AS resolution, CAST({HOUR_SECS} AS BIGINT) AS width
  UNION ALL
  SELECT '1d', {BUCKET_SECS})
SELECT t.resolution,
       CAST(FLOOR(epoch_us(e.ts) / (t.width * 1000000)) * t.width AS BIGINT) AS bucket_start,
       e.event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
       CAST(MIN(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS min_value,
       CAST(MAX(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS max_value
FROM events e CROSS JOIN tiers t
GROUP BY 1, 2, 3"""


register("func_multires_rollup", func_multires_rollup, FUNC_MULTIRES_ROLLUP_SQL)


# ---------------------------------------------------------------------------
# rel_retention_cohorts — the classic cohort-retention matrix: users cohorted
# by first-activity week, each later week's active share of the cohort. Three
# aggregates — per-user first week, distinct (user, week) activity, and the
# (cohort, week_no) rollup — all keyed on user_id or the tiny cohort key, so
# the only data-sized shuffles are the two user_id groupBys (AQE handles
# skew). The exact distinct-user count per cell is the one expensive step; at
# 100 TB swap in approx_count_distinct per cell or pre-dedup (user, week)
# into the activity table the way this query's `distinct()` already does.
# Ratios divide exact integers, so both engines agree bit-for-bit.
# ---------------------------------------------------------------------------


def rel_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    wk = F.date_trunc("week", F.col("ts"))
    d = e.select("user_id", wk.alias("wk"))
    firsts = d.groupBy("user_id").agg(F.min("wk").alias("cohort"))
    act = d.distinct()
    cells = (
        act.join(firsts, "user_id")
        .groupBy(
            "cohort",
            (F.datediff(F.col("wk"), F.col("cohort")) / 7).cast("int").alias("week_no"),
        )
        .agg(F.count_distinct("user_id").alias("active_users"))
    )
    sizes = firsts.groupBy("cohort").agg(F.count(F.lit(1)).alias("cohort_size"))
    return (
        cells.join(F.broadcast(sizes), "cohort")
        .select(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
            "week_no",
            "active_users",
            "cohort_size",
            (F.col("active_users").cast("double") / F.col("cohort_size").cast("double")).alias(
                "retention"
            ),
        )
    )


REL_RETENTION_COHORTS_SQL = """\
WITH d AS (
  SELECT user_id, date_trunc('week', ts) AS wk FROM events),
firsts AS (
  SELECT user_id, MIN(wk) AS cohort FROM d GROUP BY user_id),
act AS (SELECT DISTINCT user_id, wk FROM d),
cells AS (
  SELECT cohort,
         CAST(date_diff('day', cohort, wk) / 7 AS INT) AS week_no,
         COUNT(DISTINCT a.user_id) AS active_users
  FROM act a JOIN firsts USING (user_id)
  GROUP BY cohort, CAST(date_diff('day', cohort, wk) / 7 AS INT)),
sizes AS (SELECT cohort, COUNT(*) AS cohort_size FROM firsts GROUP BY cohort)
SELECT CAST(CAST(cohort AS DATE) AS VARCHAR) AS cohort_week, week_no,
       active_users, cohort_size,
       CAST(active_users AS DOUBLE) / CAST(cohort_size AS DOUBLE) AS retention
FROM cells JOIN sizes USING (cohort)"""


register("rel_retention_cohorts", rel_retention_cohorts, REL_RETENTION_COHORTS_SQL)


# ---------------------------------------------------------------------------
# ts_interpolate — linear interpolation across silent buckets (the value
# counterpart of func_timebucket's count gap-fill: TimescaleDB's
# `interpolate()` / pandas' `interpolate(method='time')`), over an hourly
# per-user panel — per-user hourly series have real gaps at every scale
# factor, so the straight-line arithmetic is genuinely exercised (per-type
# daily series are dense and would make the fill path vacuous).  Pipeline:
# exact per-(user, hour) means over the dense gap-filled grid, then one
# window pass per series direction: previous/next observed (bucket, value)
# via last/first IGNORE NULLS, and the straight-line value between them.
# Grid rows are buckets×types (bounded by the time span, not the fact
# table); the two windows partition by event_type and share one exchange —
# at 100 TB the only data-sized work is the first aggregate, and the window
# state is the tiny dense grid.  Series edges clamp to the nearest observed
# value.  The interpolation expression is written identically in both
# engines over identical doubles (exact decimal sums / exact counts), then
# floor-quantized to 1e-4 fixed point (integer output column).
# ---------------------------------------------------------------------------


INTERP_BUCKET_SECS = 3600  # hourly: per-user hourly series are sparse at
# EVERY scale factor (per-user event counts are constant as users scale),
# so the interpolation path is genuinely exercised, unlike per-type daily
# series which are dense

INTERP_USERS = (1, 2, 3)


def ts_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = load_table(spark, "events", sf_dir).filter(F.col("user_id").isin(*INTERP_USERS))
    grid = timebucket_gapfill(
        e,
        "ts",
        ["user_id"],
        INTERP_BUCKET_SECS,
        [
            (
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("obs")
        ],
    )
    back = (
        W.partitionBy("user_id")
        .orderBy("__bucket")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    fwd = (
        W.partitionBy("user_id")
        .orderBy("__bucket")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    obs_b = F.when(F.col("obs").isNotNull(), F.col("__bucket"))
    prev_v = F.last("obs", ignorenulls=True).over(back)
    prev_b = F.last(obs_b, ignorenulls=True).over(back)
    next_v = F.first("obs", ignorenulls=True).over(fwd)
    next_b = F.first(obs_b, ignorenulls=True).over(fwd)
    interp = (
        F.when(F.col("obs").isNotNull(), F.col("obs"))
        .when(prev_v.isNull(), next_v)
        .when(next_v.isNull(), prev_v)
        .otherwise(
            prev_v
            + (next_v - prev_v)
            * ((F.col("__bucket") - prev_b).cast("double") / (next_b - prev_b).cast("double"))
        )
    )
    # fixed-point 1e-4 quantization via FLOOR, not ROUND: round's half-up
    # rule sits exactly on the fp boundary for interpolated halves and
    # Spark (BigDecimal semantics) vs DuckDB (fp round) can disagree by one
    # ulp there; floor over the identical IEEE expression is bit-stable
    return grid.select(
        F.col("__bucket").alias("bucket_start"),
        "user_id",
        F.col("obs").isNull().alias("is_filled"),
        F.floor(interp * 10000).cast("bigint").alias("value_e4"),
    )


TS_INTERPOLATE_SQL = f"""\
WITH agged AS (
  SELECT CAST(FLOOR(epoch_us(ts) / {INTERP_BUCKET_SECS * 1_000_000}) * {INTERP_BUCKET_SECS} AS BIGINT) AS b,
         user_id,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS obs
  FROM events WHERE user_id IN {INTERP_USERS} GROUP BY 1, 2),
bounds AS (SELECT MIN(b) AS lo, MAX(b) AS hi FROM agged),
buckets AS (SELECT unnest(generate_series(lo, hi, {INTERP_BUCKET_SECS})) AS b FROM bounds),
grid AS (
  SELECT g.b, t.user_id, a.obs
  FROM buckets g
  CROSS JOIN (SELECT DISTINCT user_id FROM agged) t
  LEFT JOIN agged a ON a.b = g.b AND a.user_id = t.user_id),
filled AS (
  SELECT b, user_id, obs,
         LAST_VALUE(obs IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY b
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
         LAST_VALUE(CASE WHEN obs IS NOT NULL THEN b END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY b
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_b,
         FIRST_VALUE(obs IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY b
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
         FIRST_VALUE(CASE WHEN obs IS NOT NULL THEN b END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY b
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_b
  FROM grid)
SELECT b AS bucket_start, user_id,
       obs IS NULL AS is_filled,
       CAST(FLOOR((CASE WHEN obs IS NOT NULL THEN obs
                  WHEN prev_v IS NULL THEN next_v
                  WHEN next_v IS NULL THEN prev_v
                  ELSE prev_v + (next_v - prev_v)
                       * (CAST(b - prev_b AS DOUBLE) / CAST(next_b - prev_b AS DOUBLE))
             END) * 10000) AS BIGINT) AS value_e4
FROM filled"""


register("ts_interpolate", ts_interpolate, TS_INTERPOLATE_SQL)


# ---------------------------------------------------------------------------
# ts_anomaly_mad — robust outlier screening: per event_type, median and
# median-absolute-deviation (MAD), then count readings beyond 3·MAD (the
# robust z-score rule — insensitive to the outliers it hunts, unlike
# mean/stddev).  The two exact interpolated percentiles are chained (median,
# then median of |v − median|), so the per-type stats table is materialized
# in the session cache: two fact passes build it, the flag pass reads it.  At 100 TB the same plan swaps the exact
# percentile for approx_percentile (one pass per level, mergeable sketches)
# without changing shape — exact is kept here because the DuckDB oracle
# must hash-match.  All arithmetic chains identical IEEE expressions over
# exact inputs; outputs round to 4 dp.
# ---------------------------------------------------------------------------

MAD_K = 3.0


def _mad_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-type (median, MAD) stats table, session-cached — the artifact
    a monitoring pipeline materializes.  Uncached, the flag pass referencing
    the deviation frame re-executed the whole median subtree (4 fact scans
    measured); as a materialized tiny table the query is median pass + MAD
    pass to build, one flag pass to read — 3 fact scans total, 1 on reuse."""
    from .session_cache import session_cached

    def build() -> DataFrame:
        e = load_table(spark, "events", sf_dir).select(
            "event_type", F.col("value").cast("double").alias("v")
        )
        med = e.groupBy("event_type").agg(F.percentile("v", 0.5).alias("med"))
        dev = e.join(F.broadcast(med), "event_type").withColumn(
            "adev", F.abs(F.col("v") - F.col("med"))
        )
        return (
            dev.groupBy("event_type")
            .agg(F.percentile("adev", 0.5).alias("mad"), F.first("med").alias("med"))
            .persist()
        )

    return session_cached("events_mad_stats", spark, sf_dir, build)


def ts_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir).select(
        "event_type", F.col("value").cast("double").alias("v")
    )
    flagged = e.join(F.broadcast(_mad_stats(spark, sf_dir)), "event_type").withColumn(
        "adev", F.abs(F.col("v") - F.col("med"))
    )
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.first("med"), 4).alias("median_value"),
        F.round(F.first("mad"), 4).alias("mad"),
        F.sum(
            F.when(F.col("adev") > F.lit(MAD_K) * F.col("mad"), 1).otherwise(0)
        ).cast("bigint").alias("n_anomalies"),
    )


TS_ANOMALY_MAD_SQL = f"""\
WITH typed AS (
  SELECT event_type, CAST(value AS DOUBLE) AS v FROM events),
med AS (
  SELECT event_type, quantile_cont(v, 0.5) AS med
  FROM typed GROUP BY event_type),
dev AS (
  SELECT t.event_type, v, ABS(v - med) AS adev, med
  FROM typed t JOIN med USING (event_type)),
mad AS (
  SELECT event_type, quantile_cont(adev, 0.5) AS mad, ANY_VALUE(med) AS med
  FROM dev GROUP BY event_type)
SELECT d.event_type,
       COUNT(*) AS n_events,
       ROUND(ANY_VALUE(m.med), 4) AS median_value,
       ROUND(ANY_VALUE(m.mad), 4) AS mad,
       CAST(SUM(CASE WHEN d.adev > {MAD_K} * m.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
FROM dev d JOIN mad m ON d.event_type = m.event_type
GROUP BY d.event_type"""


register("ts_anomaly_mad", ts_anomaly_mad, TS_ANOMALY_MAD_SQL)


# ---------------------------------------------------------------------------
# rel_rolling_distinct — trailing-7-day active users per day (rolling WAU):
# the rolling-window COUNT(DISTINCT) no window frame can express (distinct
# does not decompose over frames).  The scale formulation is the explode
# trick: each (day, user) contribution fans out to the ≤7 window-end days it
# participates in, turning the range-distinct into a plain equi-group
# COUNT(DISTINCT) — constant 7× row amplification, map-side dedup of the
# (day, user) pairs first, shuffle keyed by window-end day.  The DuckDB
# oracle deliberately uses the OTHER standard formulation (day-grid range
# join, d.day BETWEEN b-6 AND b) so agreement checks the fan-out logic.
# Output buckets are restricted to observed days (semi join), so sparse
# calendars do not invent trailing windows.
# ---------------------------------------------------------------------------

ROLL_DAYS = 7


def rel_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    du = e.select(F.col("ts").cast("date").alias("d"), "user_id").distinct()
    days = du.select("d").distinct()
    fanned = du.select(
        F.explode(F.sequence(F.col("d"), F.date_add(F.col("d"), ROLL_DAYS - 1))).alias("b"),
        "user_id",
    )
    return (
        fanned.join(days.select(F.col("d").alias("b")), "b", "left_semi")
        .groupBy(F.date_format("b", "yyyy-MM-dd").alias("day"))
        .agg(F.countDistinct("user_id").alias("active_users_7d"))
    )


REL_ROLLING_DISTINCT_SQL = f"""\
WITH du AS (
  SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
days AS (SELECT DISTINCT d AS b FROM du)
SELECT strftime(b, '%Y-%m-%d') AS day,
       COUNT(DISTINCT user_id) AS active_users_7d
FROM days JOIN du ON du.d BETWEEN b - {ROLL_DAYS - 1} AND b
GROUP BY b"""


register("rel_rolling_distinct", rel_rolling_distinct, REL_ROLLING_DISTINCT_SQL)


# ---------------------------------------------------------------------------
# ts_resample_ohlc — downsample the per-user event series to daily
# open/high/low/close/volume candles (the classic time-series resample).
#
# ONE aggregate, ONE shuffle: open/close come from MIN/MAX over a
# (ts, event_id, value) struct — Spark orders structs lexicographically, so
# the extremal struct IS the first/last observation, with event_id breaking
# same-microsecond ties deterministically.  No window, no second pass; at
# 100 TB this is a single map-side-combining groupBy keyed (user, day),
# which is exactly how a metrics store materializes its daily tier.  The
# DuckDB oracle formulates first/last via ROW_NUMBER windows instead —
# agreement checks the struct-extremum trick, not a shared plan.  Volume
# sums exact decimal before the final double cast.
# ---------------------------------------------------------------------------


def ts_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    first_s = F.min(F.struct("ts", "event_id", "value"))
    last_s = F.max(F.struct("ts", "event_id", "value"))
    return (
        e.groupBy(
            F.col("user_id"),
            (F.floor(F.unix_timestamp("ts") / 86400) * 86400).cast("bigint").alias("day_start"),
        )
        .agg(
            first_s.getField("value").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            last_s.getField("value").alias("close"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("volume"),
            F.count(F.lit(1)).alias("n_obs"),
        )
    )


TS_RESAMPLE_OHLC_SQL = """\
WITH ranked AS (
  SELECT user_id,
         CAST(FLOOR(epoch(ts) / 86400) * 86400 AS BIGINT) AS day_start,
         value,
         ROW_NUMBER() OVER (PARTITION BY user_id, FLOOR(epoch(ts) / 86400)
                            ORDER BY ts, event_id)           AS rn_a,
         ROW_NUMBER() OVER (PARTITION BY user_id, FLOOR(epoch(ts) / 86400)
                            ORDER BY ts DESC, event_id DESC) AS rn_z
  FROM events)
SELECT user_id, day_start,
       MAX(CASE WHEN rn_a = 1 THEN value END)              AS open,
       MAX(value)                                          AS high,
       MIN(value)                                          AS low,
       MAX(CASE WHEN rn_z = 1 THEN value END)              AS close,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)   AS volume,
       COUNT(*)                                            AS n_obs
FROM ranked
GROUP BY user_id, day_start"""


register("ts_resample_ohlc", ts_resample_ohlc, TS_RESAMPLE_OHLC_SQL)


# ---------------------------------------------------------------------------
# ts_ewma — exponentially weighted moving average per user (α = ½, window
# truncated at the last 8 observations), compiled to EIGHT LAG TERMS over one
# JVM window (PARTITION BY user_id ORDER BY ts, event_id).  A truncated-tap
# EWMA is NOT a recursive fold — each output depends on a fixed, bounded
# suffix of the series — so it belongs in Tungsten, not in a Python worker:
# the round-7 verdict flagged the previous applyInPandas form as the repo's
# last full-fact-table Python funnel (the vectorized kernel was fine; the
# Arrow serialization of every event row was the 100 TB bottleneck).  One
# hash-partition+sort on user_id, zero Python, whole-stage codegen
# throughout.  Kernels that genuinely need unbounded sequential state
# (ts_lttb's argmax chain, the udf_* certifications) keep applyInPandas.
#
# Exactness contract: observations quantize to 1e-4 fixed point, the tap
# weights are powers of two (128, 64, …, 1), the ramp-up denominator is
# 2^8 − 2^(8−m) for m available taps, and the final smoothing is INTEGER
# division — every intermediate is an exact int64, so Spark and the DuckDB
# oracle (same 8-LAG unrolling) agree bit-for-bit; no recursive float
# accumulation ever happens.  Spark's DIV and DuckDB's // both TRUNCATE
# toward zero, so agreement holds at any sign (the old pandas kernel's
# flooring numpy // was why a non-negativity caveat used to live here).
# ---------------------------------------------------------------------------

EWMA_TAPS = 8


def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = load_table(spark, "events", sf_dir).select(
        "user_id",
        "event_id",
        "ts",
        F.floor(F.col("value") * 10000.0).cast("bigint").alias("xq"),
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    num = None
    den = None
    for j in range(EWMA_TAPS):
        wgt = F.lit(1 << (EWMA_TAPS - 1 - j))  # 128, 64, ..., 1
        x = F.lag("xq", j).over(w) if j else F.col("xq")
        t = F.coalesce(x * wgt, F.lit(0))
        d = F.when(x.isNull(), F.lit(0)).otherwise(wgt)
        num = t if num is None else num + t
        den = d if den is None else den + d
    return e.select(
        "user_id", "event_id", num.alias("__num"), den.alias("__den")
    ).select("user_id", "event_id", F.expr("__num DIV __den").alias("ewma_fp"))


def _ewma_sql() -> str:
    taps = []
    dens = []
    for j in range(EWMA_TAPS):
        w = 1 << (EWMA_TAPS - 1 - j)
        x = f"LAG(xq, {j}) OVER w" if j else "xq"
        taps.append(f"COALESCE({x} * {w}, 0)")
        dens.append(f"CASE WHEN {x} IS NULL THEN 0 ELSE {w} END")
    num = " + ".join(taps)
    den = " + ".join(dens)
    return f"""\
WITH q AS (
  SELECT user_id, event_id, ts,
         CAST(FLOOR(value * 10000.0) AS BIGINT) AS xq
  FROM events)
SELECT user_id, event_id,
       ({num}) // ({den}) AS ewma_fp
FROM q
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"""


register("ts_ewma", ts_ewma, _ewma_sql())


# ---------------------------------------------------------------------------
# rel_attribution — first-touch marketing attribution: every purchase is
# credited to the event type of the user's FIRST event in the trailing
# 7-day window before the purchase (strictly earlier; no prior touch ⇒
# 'direct').  One event-time RANGE window over the per-user stream does the
# lookback — the matched row travels as a (us, event_id, event_type)
# struct-minimum so all its fields come from the same event — then a
# per-channel rollup of conversion counts and exact-decimal credited value.
# Single shuffle on user_id; the same shape at 100 TB (state bounded by the
# window horizon per user).  The DuckDB oracle formulates the lookback as
# the textbook correlated ORDER-BY-LIMIT-1 subquery instead — agreement
# checks the window reformulation.  Equal-timestamp ordering note: the
# event stream has no duplicate (user_id, ts) pairs (same contract as the
# as-of family), so strict-time priority is total.
# ---------------------------------------------------------------------------

ATTR_WINDOW_US = 7 * 86400 * 1_000_000


def rel_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = load_table(spark, "events", sf_dir).select(
        "event_id", "user_id", "event_type", "value", F.unix_micros("ts").alias("us")
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-ATTR_WINDOW_US, -1)
    )
    first_touch = F.min(F.struct("us", "event_id", "event_type")).over(w)
    return (
        e.withColumn("__ft", first_touch)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.coalesce(F.col("__ft.event_type"), F.lit("direct")).alias("channel"),
            "value",
        )
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias(
                "attributed_value"
            ),
        )
    )


REL_ATTRIBUTION_SQL = f"""\
SELECT COALESCE((
         SELECT e.event_type
         FROM events e
         WHERE e.user_id = p.user_id
           AND epoch_us(e.ts) BETWEEN epoch_us(p.ts) - {ATTR_WINDOW_US}
                                  AND epoch_us(p.ts) - 1
         ORDER BY e.ts, e.event_id LIMIT 1), 'direct') AS channel,
       COUNT(*) AS n_conversions,
       CAST(SUM(CAST(p.value AS DECIMAL(18,6))) AS DOUBLE) AS attributed_value
FROM events p
WHERE p.event_type = 'purchase'
GROUP BY 1"""


register("rel_attribution", rel_attribution, REL_ATTRIBUTION_SQL)


# ---------------------------------------------------------------------------
# rel_funnel_window — the bounded-window funnel (ClickHouse windowFunnel
# semantics): a conversion only counts if each step lands within its
# deadline — first click within 1 h of the user's first view, first
# purchase within 24 h of that click.  Same single-shuffle per-user window
# machinery as rel_funnel, with the deadlines as extra integer bounds on
# the conditional mins; all epoch-microsecond arithmetic, no timestamps
# cross the engines.
# ---------------------------------------------------------------------------

FUNNEL_CLICK_US = 3_600_000_000         # 1 h after first view
FUNNEL_PURCHASE_US = 86_400_000_000     # 24 h after qualifying click


def rel_funnel_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_user = _per_user_funnel(spark, sf_dir, FUNNEL_CLICK_US, FUNNEL_PURCHASE_US)
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_view").alias("n_viewed"),
        F.count("t_click").alias("n_clicked_1h"),
        F.count("t_purch").alias("n_purchased_24h"),
        (F.count("t_purch").cast("double") / F.count("t_view")).alias(
            "windowed_conversion"
        ),
    )


REL_FUNNEL_WINDOW_SQL = f"""\
WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
u AS (
  SELECT user_id,
         MIN(us) FILTER (WHERE event_type = 'view') AS t_view
  FROM e GROUP BY user_id),
c AS (
  SELECT e.user_id, MIN(e.us) AS t_click
  FROM e JOIN u ON u.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.us > u.t_view
    AND e.us <= u.t_view + {FUNNEL_CLICK_US}
  GROUP BY e.user_id),
p AS (
  SELECT e.user_id, MIN(e.us) AS t_purch
  FROM e JOIN c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.us > c.t_click
    AND e.us <= c.t_click + {FUNNEL_PURCHASE_US}
  GROUP BY e.user_id)
SELECT COUNT(*)         AS n_users,
       COUNT(u.t_view)  AS n_viewed,
       COUNT(c.t_click) AS n_clicked_1h,
       COUNT(p.t_purch) AS n_purchased_24h,
       CAST(COUNT(p.t_purch) AS DOUBLE) / COUNT(u.t_view)
                        AS windowed_conversion
FROM u
LEFT JOIN c ON c.user_id = u.user_id
LEFT JOIN p ON p.user_id = u.user_id"""


register("rel_funnel_window", rel_funnel_window, REL_FUNNEL_WINDOW_SQL)


# ---------------------------------------------------------------------------
# ts_activity_heatmap — the day-of-week × hour-of-day activity matrix every
# ops dashboard renders.  ISO weekday is DERIVED portably ((dayofweek + 5)
# mod 7 + 1 from Spark's Sunday=1 convention vs DuckDB's native isodow) —
# calendar-function conventions differ across engines even when both are
# "correct", so the mapping is pinned by the oracle.  Exact counts + one
# decimal-summed value column; single map-side-combining aggregate.
# ---------------------------------------------------------------------------


def ts_activity_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    isodow = ((F.dayofweek("ts") + 5) % 7 + 1).cast("int")
    return (
        e.groupBy(
            isodow.alias("iso_dow"),
            F.hour("ts").cast("int").alias("hour"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
    )


TS_ACTIVITY_HEATMAP_SQL = """\
SELECT CAST(isodow(ts) AS INT) AS iso_dow,
       CAST(hour(ts) AS INT)   AS hour,
       COUNT(*)                AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2"""


register("ts_activity_heatmap", ts_activity_heatmap, TS_ACTIVITY_HEATMAP_SQL)


# ---------------------------------------------------------------------------
# ts_clamped_balance — inventory-style running balance with a floor: credits
# add, debits subtract, and the balance CLAMPS at zero (an oversold debit
# burns only what's there).  The fold LOOKS non-associative, but with a floor
# only (no cap) it admits a closed form over plain prefix aggregates:
#     bal_t    = S_t - min(0, min_{k<=t} S_k)        (S = raw prefix sum)
#     clamp@t  <=> S_t < min(0, min_{k<t} S_k)       (strict new below-zero
#                                                     prefix minimum)
# (property-tested against the sequential fold; with BOTH a floor and a cap
# the closed form would NOT exist and an applyInPandas kernel would be the
# right tool).  That compiles the whole operator to two window passes over
# ONE hash-partition + sort on user_id — fully JVM/WholeStageCodegen, zero
# Python in the hot path — and the trailing groupBy reuses the same
# partitioning, so the plan is a single Exchange end-to-end.  Deltas are
# exact 1e-4 fixed point (credit for purchases, debit for errors); the
# DuckDB oracle replays the ORIGINAL sequential fold as a per-user recursive
# CTE — agreement between the closed form and the literal fold is the proof.
# ---------------------------------------------------------------------------


def ts_clamped_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir).filter(
        F.col("event_type").isin("purchase", "error")
    )
    deltas = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.col("event_type") == "purchase",
            F.floor(F.col("value") * 10000).cast("bigint"),
        )
        .otherwise(-F.floor(F.col("value") * 10000).cast("bigint"))
        .alias("delta"),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_prior = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    s = deltas.withColumn("s", F.sum("delta").over(w_run))
    marked = s.withColumn(
        "clamped",
        (
            F.col("s")
            < F.least(F.lit(0).cast("bigint"), F.coalesce(F.min("s").over(w_prior), F.lit(0)))
        ).cast("int"),
    )
    return marked.groupBy("user_id").agg(
        (F.sum("delta") - F.least(F.lit(0).cast("bigint"), F.min("s")))
        .cast("bigint")
        .alias("final_balance_e4"),
        F.sum("clamped").cast("int").alias("n_clamped"),
        F.count(F.lit(1)).alias("n_moves"),
    )


TS_CLAMPED_BALANCE_SQL = """\
WITH RECURSIVE t AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'purchase'
              THEN CAST(FLOOR(value * 10000) AS BIGINT)
              ELSE -CAST(FLOOR(value * 10000) AS BIGINT) END AS delta,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
  WHERE event_type IN ('purchase', 'error')),
fold(user_id, rn, bal, clamps) AS (
  SELECT user_id, rn, GREATEST(0, delta),
         CASE WHEN delta < 0 THEN 1 ELSE 0 END
  FROM t WHERE rn = 1
  UNION ALL
  SELECT t.user_id, t.rn,
         GREATEST(0, f.bal + t.delta),
         f.clamps + CASE WHEN f.bal + t.delta < 0 THEN 1 ELSE 0 END
  FROM fold f JOIN t ON t.user_id = f.user_id AND t.rn = f.rn + 1)
SELECT f.user_id,
       f.bal AS final_balance_e4,
       CAST(f.clamps AS INT) AS n_clamped,
       f.rn AS n_moves
FROM fold f
JOIN (SELECT user_id, MAX(rn) AS mx FROM t GROUP BY user_id) last
  ON last.user_id = f.user_id AND last.mx = f.rn"""


register("ts_clamped_balance", ts_clamped_balance, TS_CLAMPED_BALANCE_SQL)


def _daily_active(e: DataFrame) -> DataFrame:
    """Distinct (user_id, epoch-day) reduction shared by the growth-metric
    family — one definition so the day-bucketing discipline can't drift
    between consumers."""
    return (
        e.select(
            "user_id",
            F.floor(F.unix_micros("ts") / 86_400_000_000).cast("bigint").alias("day"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# rel_rolling_retention — the growth team's daily D1/D7 retention series:
# for every day, what fraction of that day's active users were also active
# exactly 1 and 7 days earlier.  The daily-active set reduces the event
# stream once (distinct (user, day) — the same pre-aggregation discipline
# as rel_customer_distribution), then two self-equi-joins on (user, day−k)
# reuse that small table; rates are exact-count divisions.  Distinct from
# rel_retention_cohorts (monthly cohort × age matrix) — this is the
# day-grain operational series dashboards alert on.
# ---------------------------------------------------------------------------


def rel_rolling_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    dau = _daily_active(e)
    base = dau.groupBy("day").agg(F.count(F.lit(1)).alias("n_active"))
    d1 = dau.select("user_id", (F.col("day") + 1).alias("day"))
    d7 = dau.select("user_id", (F.col("day") + 7).alias("day"))
    r1 = dau.join(d1, ["user_id", "day"]).groupBy("day").agg(
        F.count(F.lit(1)).alias("n_retained_d1")
    )
    r7 = dau.join(d7, ["user_id", "day"]).groupBy("day").agg(
        F.count(F.lit(1)).alias("n_retained_d7")
    )
    return (
        base.join(r1, "day", "left")
        .join(r7, "day", "left")
        .select(
            "day",
            "n_active",
            F.coalesce("n_retained_d1", F.lit(0)).cast("bigint").alias("n_retained_d1"),
            F.coalesce("n_retained_d7", F.lit(0)).cast("bigint").alias("n_retained_d7"),
            (F.coalesce("n_retained_d1", F.lit(0)).cast("double") / F.col("n_active")).alias(
                "d1_rate"
            ),
            (F.coalesce("n_retained_d7", F.lit(0)).cast("double") / F.col("n_active")).alias(
                "d7_rate"
            ),
        )
    )


REL_ROLLING_RETENTION_SQL = """\
WITH dau AS (
  SELECT DISTINCT user_id,
         CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) AS day
  FROM events),
base AS (SELECT day, COUNT(*) AS n_active FROM dau GROUP BY day),
r1 AS (
  SELECT a.day, COUNT(*) AS n
  FROM dau a JOIN dau b ON a.user_id = b.user_id AND b.day = a.day - 1
  GROUP BY a.day),
r7 AS (
  SELECT a.day, COUNT(*) AS n
  FROM dau a JOIN dau b ON a.user_id = b.user_id AND b.day = a.day - 7
  GROUP BY a.day)
SELECT base.day, base.n_active,
       COALESCE(r1.n, 0) AS n_retained_d1,
       COALESCE(r7.n, 0) AS n_retained_d7,
       CAST(COALESCE(r1.n, 0) AS DOUBLE) / base.n_active AS d1_rate,
       CAST(COALESCE(r7.n, 0) AS DOUBLE) / base.n_active AS d7_rate
FROM base
LEFT JOIN r1 ON r1.day = base.day
LEFT JOIN r7 ON r7.day = base.day"""


register("rel_rolling_retention", rel_rolling_retention, REL_ROLLING_RETENTION_SQL)


# ---------------------------------------------------------------------------
# rel_new_vs_returning — daily actives split into first-ever-seen vs
# returning users (the growth dashboard's companion to the retention
# series).  First-seen day is one min-aggregate over the DAU table; the
# split is a flag comparison, never a self-join over history.
# ---------------------------------------------------------------------------


def rel_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    dau = _daily_active(e)
    first = dau.groupBy("user_id").agg(F.min("day").alias("__first"))
    return (
        dau.join(first, "user_id")
        .groupBy("day")
        .agg(
            F.sum(F.when(F.col("day") == F.col("__first"), 1).otherwise(0)).alias(
                "n_new"
            ),
            F.sum(F.when(F.col("day") != F.col("__first"), 1).otherwise(0)).alias(
                "n_returning"
            ),
        )
    )


REL_NEW_VS_RETURNING_SQL = """\
WITH dau AS (
  SELECT DISTINCT user_id,
         CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) AS day
  FROM events),
first AS (SELECT user_id, MIN(day) AS f FROM dau GROUP BY user_id)
SELECT day,
       CAST(SUM(CASE WHEN day = f THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
       CAST(SUM(CASE WHEN day <> f THEN 1 ELSE 0 END) AS BIGINT) AS n_returning
FROM dau JOIN first USING (user_id)
GROUP BY day"""


register("rel_new_vs_returning", rel_new_vs_returning, REL_NEW_VS_RETURNING_SQL)


# ---------------------------------------------------------------------------
# rel_cohort_ltv — cumulative lifetime value per signup cohort: users
# cohort by their first-active WEEK (the fixture's event stream spans one
# month, so monthly cohorts would degenerate to a single cell; at
# production span the same code runs at month grain by swapping the
# divisor), purchase revenue accrues per (cohort, weeks-since-signup),
# and the running total per cohort gives the LTV curve finance
# extrapolates from.  The cumsum windows over the (cohort × age)
# aggregate (tiny), ordered by age — exact 1e-4 fixed point until the
# final double cast.
# ---------------------------------------------------------------------------


def rel_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = load_table(spark, "events", sf_dir)
    week = F.floor(F.unix_micros("ts") / (7 * 86_400_000_000)).cast("bigint")
    first = (
        e.select("user_id", week.alias("__w"))
        .groupBy("user_id")
        .agg(F.min("__w").alias("cohort_w"))
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        week.alias("__w"),
        F.floor(F.col("value") * 10000).cast("bigint").alias("__v"),
    )
    accrual = (
        purchases.join(first, "user_id")
        .groupBy("cohort_w", (F.col("__w") - F.col("cohort_w")).alias("age_weeks"))
        .agg(F.sum("__v").alias("__rev"))
    )
    wcum = W.partitionBy("cohort_w").orderBy("age_weeks")
    return accrual.select(
        "cohort_w",
        "age_weeks",
        (F.col("__rev").cast("double") / 10000).alias("revenue"),
        (
            F.sum("__rev").over(wcum.rowsBetween(W.unboundedPreceding, 0)).cast("double")
            / 10000
        ).alias("cumulative_ltv"),
    )


REL_COHORT_LTV_SQL = """\
WITH m AS (
  SELECT user_id, event_type, value,
         CAST(FLOOR(epoch_us(ts) / 604800000000) AS BIGINT) AS ew
  FROM events),
first AS (SELECT user_id, MIN(ew) AS cohort_w FROM m GROUP BY user_id),
accrual AS (
  SELECT f.cohort_w, m.ew - f.cohort_w AS age_weeks,
         SUM(CAST(FLOOR(m.value * 10000) AS BIGINT)) AS rev
  FROM m JOIN first f USING (user_id)
  WHERE m.event_type = 'purchase'
  GROUP BY 1, 2)
SELECT cohort_w, age_weeks,
       CAST(rev AS DOUBLE) / 10000 AS revenue,
       CAST(SUM(rev) OVER (PARTITION BY cohort_w ORDER BY age_weeks
                           ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 10000
         AS cumulative_ltv
FROM accrual"""


register("rel_cohort_ltv", rel_cohort_ltv, REL_COHORT_LTV_SQL)


# ---------------------------------------------------------------------------
# rel_max_concurrency — peak concurrent activity per day: each event opens a
# 30-minute activity interval, and the report is the maximum number of
# simultaneously-open intervals (the occupancy/Gantt gauge: concurrent
# sessions, licenses, live connections).  Spark side is the classic +1/−1
# SWEEP made PARTITION-SAFE: points cumsum within their day and a tiny
# midnight-carryover aggregate (intervals still open at each day's first
# instant) adds the cross-boundary context — no global ORDER BY window
# ever materializes.  Ends sort before starts at the same instant, so
# back-to-back intervals never double-count.  Caveat the code states: the
# in-day maximum always occurs at an in-day start point, and the
# day-start occupancy equals the carryover alone, which the first start's
# cumsum+carry already dominates — so max(in-day cumsum)+carry is the
# day's true peak.  The DuckDB
# oracle is the INDEPENDENT quadratic formulation — for every start point,
# count intervals covering it — so agreement proves the sweep against
# first principles, not a shared algorithm.
# ---------------------------------------------------------------------------

CONC_INTERVAL_US = 1_800_000_000  # each event holds activity open 30 min


def rel_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    DAY_US = 86_400_000_000
    e = load_table(spark, "events", sf_dir).select(F.unix_micros("ts").alias("us"))
    starts = e.select(F.col("us").alias("t"), F.lit(1).alias("d"))
    ends = e.select((F.col("us") + CONC_INTERVAL_US).alias("t"), F.lit(-1).alias("d"))
    points = starts.unionByName(ends)
    day = F.floor(F.col("t") / DAY_US).cast("bigint")
    # PARTITION-SAFE sweep: cumsum per day plus a midnight carryover (the
    # count of intervals still open at each day's first instant) — a global
    # ORDER BY window would funnel every point through one task.  With a
    # 30-minute interval an open-at-midnight interval must start in the
    # last 30 minutes of the previous day, so the carryover is a tiny
    # per-day aggregate joined back.
    carry = (
        # >= (not >): an interval ending EXACTLY at midnight still drops its
        # -1 point into the next day's partition, so it must also appear in
        # that day's carry or the cumsum starts one short
        e.filter((F.col("us") % DAY_US) >= DAY_US - CONC_INTERVAL_US)
        .groupBy((F.floor(F.col("us") / DAY_US) + 1).cast("bigint").alias("day"))
        .agg(F.count(F.lit(1)).alias("__carry"))
    )
    # ends (-1) before starts (+1) at the same instant: order by (t, d)
    w = W.partitionBy("day").orderBy("t", "d").rowsBetween(W.unboundedPreceding, 0)
    swept = (
        points.select(day.alias("day"), "t", "d")
        .select("day", F.sum("d").over(w).alias("__open"), "d")
        .filter(F.col("d") == 1)  # concurrency is sampled AT start points
        .groupBy("day")
        .agg(F.max("__open").alias("__in_day_max"))
    )
    return swept.join(F.broadcast(carry), "day", "left").select(
        "day",
        (F.col("__in_day_max") + F.coalesce(F.col("__carry"), F.lit(0))).alias(
            "max_concurrent"
        ),
    )


REL_MAX_CONCURRENCY_SQL = f"""\
WITH iv AS (
  SELECT epoch_us(ts) AS s, epoch_us(ts) + {CONC_INTERVAL_US} AS e
  FROM events),
at_start AS (
  SELECT a.s,
         (SELECT COUNT(*) FROM iv b
          WHERE b.s <= a.s AND a.s < b.e) AS open_count
  FROM iv a)
SELECT CAST(FLOOR(s / 86400000000) AS BIGINT) AS day,
       MAX(open_count) AS max_concurrent
FROM at_start
GROUP BY 1"""


register("rel_max_concurrency", rel_max_concurrency, REL_MAX_CONCURRENCY_SQL)


# ---------------------------------------------------------------------------
# ts_lttb — Largest-Triangle-Three-Buckets plot downsampling (Steinarsson's
# thesis algorithm, the de-facto standard in Grafana/InfluxDB dashboards):
# keep the first and last point of each series, split the middle n-2 points
# into B-2 equal rank-buckets, and in each bucket keep the point maximizing
# the triangle area with the PREVIOUSLY SELECTED point and the NEXT bucket's
# centroid.  The previous-selection dependence makes the scan genuinely
# sequential per series (unlike ts_clamped_balance there is no closed form),
# so the Spark side is an applyInPandas kernel — one shuffle on user_id,
# B-step numpy-vectorized loop inside the group — the computational class
# grouped sequential kernels exist for.
#
# Cross-engine parity is by QUANTIZED-AREA design: x = whole seconds from
# the series start (BIGINT), y = floor(value·100) (BIGINT), and the
# candidate score is the centroid-cleared twice-area
#     |(x_a·nn − Σx)·(y_c − y_a) − (x_a − x_c)·(Σy − y_a·nn)|
# — the triangle area against the next bucket's MEAN, multiplied through by
# the bucket size nn, so it is exact int64 arithmetic with no float centroid
# (bounds: |x| ≤ series span in seconds, |y| ≤ 100·max(value); products stay
# far under 2^63 for any realistic series).  Ties break to the smallest rank
# (numpy argmax first-hit == SQL ORDER BY score DESC, rn ASC).  The DuckDB
# oracle replays the sequential selection as a B-step UNROLLED CTE chain
# (QUALIFY argmax per step) — a deliberately different formulation of the
# same recurrence.  Series shorter than B points are dropped on both sides.
# ---------------------------------------------------------------------------

LTTB_B = 12  # output points per series


def _lttb_fold(pdf, B):
    """Vectorized per-series LTTB fold; module-level so it is directly
    property-testable against a naive sequential reference without Spark.
    NOT passed to applyInPandas itself: a two-parameter function would be
    dispatched with the (key, pdf) grouped-map signature — the single-arg
    wrapper below is what Spark calls."""
    import numpy as np
    import pandas as pd

    pdf = pdf.sort_values(["ts_us", "event_id"], kind="mergesort")
    n = len(pdf)
    if n < B:
        return pd.DataFrame(
            {"user_id": [], "pos": [], "rn": [], "x_off": [], "y_e2": []}
        ).astype(
            {"user_id": "int64", "pos": "int32", "rn": "int64",
             "x_off": "int64", "y_e2": "int64"}
        )
    x = pdf["ts_us"].to_numpy() // 1_000_000
    x = x - x.min()
    y = pdf["y"].to_numpy()
    rn = np.arange(1, n + 1, dtype=np.int64)
    # bucket of middle points rn=2..n-1 (0-based positions 1..n-2)
    b = (rn[1 : n - 1] - 2) * (B - 2) // (n - 2)
    sel = [0]
    a = 0
    for bb in range(B - 2):
        idx = np.nonzero(b == bb)[0] + 1  # 0-based positions in x/y
        if bb < B - 3:
            nxt = np.nonzero(b == bb + 1)[0] + 1
            sx, sy, nn = int(x[nxt].sum()), int(y[nxt].sum()), len(nxt)
        else:
            sx, sy, nn = int(x[n - 1]), int(y[n - 1]), 1
        score = np.abs(
            (x[a] * nn - sx) * (y[idx] - y[a]) - (x[a] - x[idx]) * (sy - y[a] * nn)
        )
        a = int(idx[np.argmax(score)])  # first max ⇒ smallest rank
        sel.append(a)
    sel.append(n - 1)
    sel_a = np.array(sel)
    return pd.DataFrame(
        {
            "user_id": np.repeat(pdf["user_id"].iloc[0], B).astype("int64"),
            "pos": np.arange(B, dtype=np.int32),
            "rn": rn[sel_a],
            "x_off": x[sel_a],
            "y_e2": y[sel_a],
        }
    )


def _lttb_kernel(pdf):
    return _lttb_fold(pdf, LTTB_B)


def ts_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir).select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        F.floor(F.col("value") * 100).cast("bigint").alias("y"),
    )
    # explicit keyed repartition at the session's parallelism: the grouped
    # kernel's exchange is otherwise AQE-coalesced by BYTES (tiny panel →
    # ONE post-shuffle partition → one Python worker runs every per-series
    # fold sequentially; measured at sf0.1: 3.7-4.0 s → 1.1-1.2 s).  A
    # user-specified partition count is exempt from AQE coalescing, and
    # groupBy on the same key reuses the exchange, so the plan keeps its
    # single shuffle (pinned in test_plans).
    e = e.repartition(e.sparkSession.sparkContext.defaultParallelism, "user_id")
    return e.groupBy("user_id").applyInPandas(
        _lttb_kernel, "user_id bigint, pos int, rn bigint, x_off bigint, y_e2 bigint"
    )


def _lttb_sql() -> str:
    B = LTTB_B
    score = (
        "ABS((a.x * t.nn - t.sx) * (m.y - a.y)"
        " - (a.x - m.x) * (t.sy - a.y * t.nn))"
    )
    sels = []
    for bb in range(B - 2):
        prev = f"sel{bb}"
        sels.append(f"""\
sel{bb + 1} AS (
  SELECT m.user_id, m.rn, m.x, m.y
  FROM mid m
  JOIN {prev} a ON a.user_id = m.user_id
  JOIN nxt t ON t.user_id = m.user_id AND t.b = {bb}
  WHERE m.b = {bb}
  QUALIFY ROW_NUMBER() OVER (PARTITION BY m.user_id
                             ORDER BY {score} DESC, m.rn ASC) = 1)""")
    sel_ctes = ",\n".join(sels)
    outs = [f"SELECT user_id, 0 AS pos, rn, x AS x_off, y AS y_e2 FROM sel0"]
    outs += [
        f"SELECT user_id, {bb + 1} AS pos, rn, x, y FROM sel{bb + 1}"
        for bb in range(B - 2)
    ]
    outs.append(
        f"SELECT user_id, {B - 1} AS pos, rn, x, y FROM pts WHERE n >= {B} AND rn = n"
    )
    union = "\nUNION ALL\n".join(outs)
    return f"""\
WITH pts AS (
  SELECT user_id, event_id,
         CAST(FLOOR(value * 100) AS BIGINT) AS y,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts), event_id) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n,
         epoch_us(ts) // 1000000
           - MIN(epoch_us(ts) // 1000000) OVER (PARTITION BY user_id) AS x
  FROM events),
mid AS (
  SELECT user_id, rn, x, y, ((rn - 2) * {B - 2}) // (n - 2) AS b
  FROM pts WHERE n >= {B} AND rn >= 2 AND rn <= n - 1),
nxt AS (
  SELECT user_id, b - 1 AS b, CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy, COUNT(*) AS nn
  FROM mid WHERE b >= 1 GROUP BY user_id, b
  UNION ALL
  SELECT user_id, {B - 3} AS b, x AS sx, y AS sy, 1 AS nn
  FROM pts WHERE n >= {B} AND rn = n),
sel0 AS (SELECT user_id, rn, x, y FROM pts WHERE n >= {B} AND rn = 1),
{sel_ctes}
SELECT user_id, CAST(pos AS INT) AS pos, rn, x_off, y_e2
FROM ({union})"""


register("ts_lttb", ts_lttb, _lttb_sql())


# ---------------------------------------------------------------------------
# ts_stl_decompose — classical additive seasonal decomposition by moving
# averages (the statsmodels `seasonal_decompose` shape, the moving-average
# core STL builds on): per event_type daily series,
#     trend    = centered period-7 moving average,
#     seasonal = day-of-week mean of the detrended series, grand-centered,
#     remainder= value − trend − seasonal.
# All arithmetic is EXACT until a final deterministic floor: daily values are
# DECIMAL-summed 1e-4 fixed point; the centered MA is kept ×7 as a window
# SUM (full 7-day frames only — edges NULL like statsmodels); per-dow means
# and the grand seasonal mean use FLOOR(int64 / int) computed via one IEEE
# double division — identical operands give identical doubles in both
# engines, so the floor is bit-stable (Spark DIV truncates while DuckDB //
# floors, which differ on the negative detrended values — that pair is
# deliberately avoided).  Every window runs over the AGGREGATED panel
# (|event_types| × |days| rows), never the facts: at 100 TB the only
# fact-sized operation is the one map-side-combined daily aggregate.
# ---------------------------------------------------------------------------

STL_PERIOD = 7


def ts_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    with generation("ts_stl_decompose") as pins:
        daily = (
            e.groupBy(
                "event_type",
                F.floor(F.unix_micros("ts") / 86_400_000_000).cast("bigint").alias("day"),
            )
            .agg(
                (F.sum(F.col("value").cast("decimal(18,4)")) * 10000)
                .cast("bigint")
                .alias("value_e4")
            )
            # the tiny (|types| × |days|) panel feeds the trend window, the
            # seasonal aggregate AND the final select — checkpoint it so the
            # fact scan runs once, not once per re-inlined consumer
            .transform(pins.checkpoint)
        )
    half = STL_PERIOD // 2
    # RANGE (not ROWS) on the numeric day: with a gapped panel a ROWS frame
    # would silently span more than 7 calendar days and still pass the
    # completeness check — RANGE + COUNT==7 means "a full calendar week of
    # data or no trend at all", the statsmodels contract
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rangeBetween(-half, half)
    )
    with_trend = daily.withColumn(
        "trend_x7",
        F.when(
            F.count(F.lit(1)).over(w) == STL_PERIOD, F.sum("value_e4").over(w)
        ),
    ).withColumn("dow", (F.col("day") % STL_PERIOD).cast("int"))
    # detrended ×7 keeps exactness: d7 = 7·value − trend_x7
    detr = with_trend.withColumn(
        "d7", F.lit(STL_PERIOD) * F.col("value_e4") - F.col("trend_x7")
    )
    seas = (
        detr.filter(F.col("d7").isNotNull())
        .groupBy("event_type", "dow")
        .agg(
            F.floor(
                F.sum("d7").cast("double") / (F.count(F.lit(1)) * STL_PERIOD)
            )
            .cast("bigint")
            .alias("seasonal_raw")
        )
    )
    grand = seas.groupBy("event_type").agg(
        F.floor(F.sum("seasonal_raw").cast("double") / STL_PERIOD)
        .cast("bigint")
        .alias("grand_mean")
    )
    out = (
        detr.join(F.broadcast(seas), ["event_type", "dow"])
        .join(F.broadcast(grand), ["event_type"])
        .select(
            "event_type",
            "day",
            "value_e4",
            F.floor(F.col("trend_x7").cast("double") / STL_PERIOD)
            .cast("bigint")
            .alias("trend_e4"),
            (F.col("seasonal_raw") - F.col("grand_mean")).alias("seasonal_e4"),
            (
                F.col("value_e4")
                - F.floor(F.col("trend_x7").cast("double") / STL_PERIOD).cast("bigint")
                - (F.col("seasonal_raw") - F.col("grand_mean"))
            ).alias("remainder_e4"),
        )
    )
    return out


TS_STL_DECOMPOSE_SQL = f"""\
WITH daily AS (
  SELECT event_type,
         CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) * 10000 AS BIGINT) AS value_e4
  FROM events GROUP BY 1, 2),
t AS (
  SELECT event_type, day, value_e4,
         CASE WHEN COUNT(*) OVER w = {STL_PERIOD}
              THEN CAST(SUM(value_e4) OVER w AS BIGINT) END AS trend_x7,
         CAST(day % {STL_PERIOD} AS INT) AS dow
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               RANGE BETWEEN {STL_PERIOD // 2} PRECEDING
                         AND {STL_PERIOD // 2} FOLLOWING)),
detr AS (
  SELECT *, {STL_PERIOD} * value_e4 - trend_x7 AS d7 FROM t),
seas AS (
  SELECT event_type, dow,
         CAST(FLOOR(CAST(SUM(d7) AS DOUBLE) / (COUNT(*) * {STL_PERIOD}))
              AS BIGINT) AS seasonal_raw
  FROM detr WHERE d7 IS NOT NULL GROUP BY 1, 2),
grand AS (
  SELECT event_type,
         CAST(FLOOR(CAST(SUM(seasonal_raw) AS DOUBLE) / {STL_PERIOD})
              AS BIGINT) AS grand_mean
  FROM seas GROUP BY 1)
SELECT d.event_type, d.day, d.value_e4,
       CAST(FLOOR(CAST(d.trend_x7 AS DOUBLE) / {STL_PERIOD}) AS BIGINT) AS trend_e4,
       s.seasonal_raw - g.grand_mean AS seasonal_e4,
       d.value_e4
         - CAST(FLOOR(CAST(d.trend_x7 AS DOUBLE) / {STL_PERIOD}) AS BIGINT)
         - (s.seasonal_raw - g.grand_mean) AS remainder_e4
FROM detr d
JOIN seas s ON d.event_type = s.event_type AND d.dow = s.dow
JOIN grand g ON d.event_type = g.event_type"""


register("ts_stl_decompose", ts_stl_decompose, TS_STL_DECOMPOSE_SQL)


# ---------------------------------------------------------------------------
# rel_interval_coverage — merged-interval time coverage per user: each event
# opens a CONC_INTERVAL_US activity window (same convention as
# rel_max_concurrency); overlapping windows union, and the query reports how
# much wall-clock each user was "active" plus how many disjoint activity
# islands that is.  The classic gaps-and-islands sweep, fully windowed:
# order intervals by start per user, carry the running MAX(end) over
# PRECEDING rows, mark an island start whenever start > that carry, number
# islands by a cumulative sum of the marks, then one aggregate per island
# and one per user.  Two partition-aligned exchanges total (user_id, then
# user_id ∪ island — the second reuses the first's partitioning), never a
# self-join: the O(n²) interval-overlap formulation this replaces is the
# thing that dies at 100 TB.  Pure epoch-µs int64 arithmetic end to end.
# ---------------------------------------------------------------------------


def rel_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir).select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + CONC_INTERVAL_US).alias("t"),
        "event_id",
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    marked = e.withColumn(
        "new_island",
        F.when(F.col("s") > F.coalesce(F.max("t").over(w_prev), F.lit(-1)), 1).otherwise(0),
    ).withColumn("island", F.sum("new_island").over(w_run))
    islands = marked.groupBy("user_id", "island").agg(
        F.min("s").alias("lo"), F.max("t").alias("hi"), F.count(F.lit(1)).alias("n")
    )
    return islands.groupBy("user_id").agg(
        F.sum("n").alias("n_intervals"),
        F.count(F.lit(1)).alias("n_islands"),
        F.sum(F.col("hi") - F.col("lo")).alias("covered_us"),
    )


REL_INTERVAL_COVERAGE_SQL = f"""\
WITH iv AS (
  SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + {CONC_INTERVAL_US} AS t,
         event_id
  FROM events),
marked AS (
  SELECT user_id, s, t,
         CASE WHEN s > COALESCE(MAX(t) OVER (PARTITION BY user_id ORDER BY s, event_id
                                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS new_island,
         event_id
  FROM iv),
numbered AS (
  SELECT user_id, s, t,
         SUM(new_island) OVER (PARTITION BY user_id ORDER BY s, event_id
                               ROWS UNBOUNDED PRECEDING) AS island
  FROM marked),
islands AS (
  SELECT user_id, island, MIN(s) AS lo, MAX(t) AS hi, COUNT(*) AS n
  FROM numbered GROUP BY 1, 2)
SELECT user_id,
       CAST(SUM(n) AS BIGINT) AS n_intervals,
       COUNT(*) AS n_islands,
       CAST(SUM(hi - lo) AS BIGINT) AS covered_us
FROM islands
GROUP BY user_id"""


register("rel_interval_coverage", rel_interval_coverage, REL_INTERVAL_COVERAGE_SQL)


# ---------------------------------------------------------------------------
# ts_autocorr — lag-1 sample autocorrelation per user (the seasonality /
# momentum probe: r₁ ≈ 0 white noise, r₁ → 1 trending, r₁ < 0 mean-
# reverting), computed WITHOUT floats: multiplying the textbook
#   r₁ = Σ_{t>1}(x_t − x̄)(x_{t−1} − x̄) / Σ(x_t − x̄)²
# through by n² clears the rational mean (x̄ = S/n):
#   num·n² = n²·Σ x_t x_{t−1} − n·S·(Σ_{t>1} x_t + Σ_{t>1} x_{t−1}) + m·S²
#   den·n² = n²·Σ x² − n·S²                       (m = n − 1 pair count)
# so everything is integer arithmetic on per-user aggregates of a single
# LAG column, and r₁ ships as exact bps: num·10⁴ DIV den (truncating DIV ≡
# DuckDB //, valid at any sign).  Products are widened to DECIMAL(38,0)
# BEFORE multiplying — per-user sums of e2-quantized squares cross int64
# around n ≈ 2,000 observations (the rel_share_of_parent overflow class;
# ANSI Spark would raise, non-ANSI would wrap).  One shuffle (user_id),
# whole-stage codegen throughout; same plan at any history length.
# ---------------------------------------------------------------------------


def ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir).select(
        "user_id",
        "ts",
        "event_id",
        F.floor(F.col("value") * 100.0).cast("bigint").alias("x"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = e.withColumn("xp", F.lag("x").over(w))
    agg = lagged.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("sxx"),
        F.sum(F.when(F.col("xp").isNotNull(), F.expr("CAST(x AS DECIMAL(38,0)) * xp"))).alias("sxy"),
        F.sum(F.when(F.col("xp").isNotNull(), F.col("x"))).alias("st"),
        F.sum("xp").alias("sp"),
    )
    num = (
        "CAST(n AS DECIMAL(38,0)) * n * sxy"
        " - CAST(n AS DECIMAL(38,0)) * s * (st + sp)"
        " + CAST(n - 1 AS DECIMAL(38,0)) * s * s"
    )
    den = (
        "CAST(n AS DECIMAL(38,0)) * n * sxx"
        " - CAST(n AS DECIMAL(38,0)) * s * s"
    )
    return agg.filter(F.col("n") >= 3).select(
        "user_id",
        "n",
        F.expr(
            f"CAST(({num}) * 10000 DIV NULLIF({den}, 0) AS BIGINT)"
        ).alias("r1_bps"),
    )


TS_AUTOCORR_SQL = """\
WITH q AS (
  SELECT user_id,
         CAST(FLOOR(value * 100.0) AS BIGINT) AS x,
         LAG(CAST(FLOOR(value * 100.0) AS BIGINT))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS xp
  FROM events),
agg AS (
  SELECT user_id,
         COUNT(*)                                            AS n,
         SUM(x)                                              AS s,
         SUM(CAST(x AS DECIMAL(38,0)) * x)                   AS sxx,
         SUM(CASE WHEN xp IS NOT NULL
                  THEN CAST(x AS DECIMAL(38,0)) * xp END)    AS sxy,
         SUM(CASE WHEN xp IS NOT NULL THEN x END)            AS st,
         SUM(xp)                                             AS sp
  FROM q GROUP BY user_id)
SELECT user_id, n,
       -- the quotient runs through HUGEINT on purpose: DuckDB's // on
       -- DECIMAL operands is PLAIN division (verified: DECIMAL -7 // 2 =
       -- -3.5), while integer // truncates toward zero like Spark's DIV;
       -- DECIMAL(38,0) casts to int128 exactly, output narrows to BIGINT
       CAST(CAST((CAST(n AS DECIMAL(38,0)) * n * sxy
                  - CAST(n AS DECIMAL(38,0)) * s * (st + sp)
                  + CAST(n - 1 AS DECIMAL(38,0)) * s * s) AS HUGEINT) * 10000
            // NULLIF(CAST(CAST(n AS DECIMAL(38,0)) * n * sxx
                           - CAST(n AS DECIMAL(38,0)) * s * s AS HUGEINT), 0)
            AS BIGINT) AS r1_bps
FROM agg
WHERE n >= 3"""


register("ts_autocorr", ts_autocorr, TS_AUTOCORR_SQL)


# ---------------------------------------------------------------------------
# ts_backtest_snaive — walk-forward backtest of the seasonal-naive
# forecaster (ŷ_d = y_{d−7}, the baseline every real forecasting system
# must beat): daily per-event-type totals in 1e-2 fixed point, the
# forecast joins in as LAG(7) over the day sequence, and the report is the
# per-type backtest scorecard — evaluated days, MAE and bias (mean signed
# error) in exact 1e-2 integer units (truncating DIV), and the naive-beats-
# nothing share |err|=0.  This is the eval harness shape (like
# sim_recall_report / dedup_lsh_recall_report for their tiers): one daily
# rollup scan + one window, no Python, identical plan at any history
# length.  LAG over the OBSERVED day sequence (days are dense in the
# fixture; a production run would gap-fill first — ts_interpolate is that
# operator).
# ---------------------------------------------------------------------------


def ts_backtest_snaive(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    daily = e.groupBy(
        "event_type",
        F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day"),
    ).agg(
        F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias("y_e2")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    bt = daily.withColumn("yhat_e2", F.lag("y_e2", 7).over(w)).filter(
        F.col("yhat_e2").isNotNull()
    )
    return bt.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.expr("SUM(ABS(y_e2 - yhat_e2)) DIV COUNT(*)").alias("mae_e2"),
        F.expr("SUM(y_e2 - yhat_e2) DIV COUNT(*)").alias("bias_e2"),
        F.sum(F.when(F.col("y_e2") == F.col("yhat_e2"), 1).otherwise(0)).alias(
            "n_exact_hits"
        ),
    )


TS_BACKTEST_SNAIVE_SQL = """\
WITH daily AS (
  SELECT event_type,
         strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
         CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS y_e2
  FROM events GROUP BY 1, 2),
bt AS (
  SELECT event_type, y_e2,
         LAG(y_e2, 7) OVER (PARTITION BY event_type ORDER BY day) AS yhat_e2
  FROM daily)
SELECT event_type,
       COUNT(*)                                   AS n_days,
       CAST(SUM(ABS(y_e2 - yhat_e2)) // COUNT(*) AS BIGINT) AS mae_e2,
       CAST(SUM(y_e2 - yhat_e2) // COUNT(*) AS BIGINT)       AS bias_e2,
       CAST(SUM(CASE WHEN y_e2 = yhat_e2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_exact_hits
FROM bt
WHERE yhat_e2 IS NOT NULL
GROUP BY event_type"""


register("ts_backtest_snaive", ts_backtest_snaive, TS_BACKTEST_SNAIVE_SQL)


# ---------------------------------------------------------------------------
# ts_cusum_alarms — CUSUM change-point detection per user (the drift monitor
# a data pipeline runs on metric streams): C_t = max(0, C_{t−1} + (x_t − k))
# with allowance k and decision interval h; an ALARM is an upcrossing of h
# (C_{t−1} < h ≤ C_t).  The recurrence is the same floor-at-zero fold as
# ts_clamped_balance, so it compiles to the SAME proven closed form
# C = S − min(0, running-min S) over one user_id window pass (zero Python;
# the closed-form ⇔ sequential-fold identity is property-tested in
# test_kernel_properties.py), plus one LAG pass for upcrossing edges.  The
# DuckDB oracle replays the LITERAL sequential recurrence as a recursive
# CTE — agreement proves the closed form again on this op's own data path.
# All arithmetic in exact 1e-2 fixed point.
# ---------------------------------------------------------------------------

CUSUM_K_E2 = 16500  # allowance: only values above 165.00 accumulate drift
CUSUM_H_E2 = 50000  # decision interval: alarm at 500.00 cumulative excess


def ts_cusum_alarms(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir).select(
        "user_id",
        "ts",
        "event_id",
        (F.floor(F.col("value") * 100).cast("bigint") - CUSUM_K_E2).alias("d"),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    s = e.withColumn("s", F.sum("d").over(w_run))
    c = s.withColumn(
        "c",
        F.col("s") - F.least(F.lit(0).cast("bigint"), F.min("s").over(w_run)),
    )
    w_seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = c.select(
        "user_id",
        "c",
        F.row_number().over(w_seq).alias("rn"),
        F.coalesce(F.lag("c").over(w_seq), F.lit(0).cast("bigint")).alias("cp"),
    )
    return marked.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.max(F.struct("rn", "c")).getField("c").alias("final_cusum_e2"),
        F.max("c").alias("max_cusum_e2"),
        F.sum(
            F.when((F.col("c") >= CUSUM_H_E2) & (F.col("cp") < CUSUM_H_E2), 1).otherwise(0)
        ).cast("int").alias("n_alarms"),
        F.sum(F.when(F.col("c") >= CUSUM_H_E2, 1).otherwise(0)).cast("int").alias(
            "n_above"
        ),
    )


TS_CUSUM_ALARMS_SQL = f"""\
WITH RECURSIVE t AS (
  SELECT user_id,
         CAST(FLOOR(value * 100) AS BIGINT) - {CUSUM_K_E2} AS d,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events),
fold(user_id, rn, c) AS (
  SELECT user_id, rn, GREATEST(0, d) FROM t WHERE rn = 1
  UNION ALL
  SELECT t.user_id, t.rn, GREATEST(0, f.c + t.d)
  FROM fold f JOIN t ON t.user_id = f.user_id AND t.rn = f.rn + 1),
seq AS (
  SELECT user_id, rn, c,
         COALESCE(LAG(c) OVER (PARTITION BY user_id ORDER BY rn), 0) AS cp
  FROM fold)
SELECT user_id,
       COUNT(*) AS n_obs,
       MAX(CASE WHEN rn = (SELECT MAX(rn) FROM seq s2 WHERE s2.user_id = seq.user_id)
                THEN c END)                              AS final_cusum_e2,
       MAX(c)                                            AS max_cusum_e2,
       CAST(SUM(CASE WHEN c >= {CUSUM_H_E2} AND cp < {CUSUM_H_E2}
                     THEN 1 ELSE 0 END) AS INT)          AS n_alarms,
       CAST(SUM(CASE WHEN c >= {CUSUM_H_E2} THEN 1 ELSE 0 END) AS INT)
         AS n_above
FROM seq
GROUP BY user_id"""


register("ts_cusum_alarms", ts_cusum_alarms, TS_CUSUM_ALARMS_SQL)


# ---------------------------------------------------------------------------
# ts_seasonality_index — day-of-week seasonal index (retail's "Monday
# index"): per event type and weekday, mean daily volume relative to the
# type's overall daily mean, in exact bps via cross-multiplication —
# idx = (dow_sum · n_days_total) · 10⁴ DIV (total_sum · n_days_dow) — so
# no rational mean is ever materialized and the whole report is int64
# arithmetic on two nested aggregates (events → daily rollup → dow
# rollup).  Complements ts_stl_decompose (model-based seasonal split) with
# the direct empirical index planners actually quote; an index far from
# 10000 flags the weekday effect.  Sums are 1e-2-quantized; products
# bounded by (sum ≈ 1e9) · (days ≈ 1e4) ≪ int64 at sf1000.
# ---------------------------------------------------------------------------


def ts_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    daily = e.groupBy(
        "event_type",
        F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day"),
        F.dayofweek(F.col("ts").cast("date")).cast("int").alias("dow"),
    ).agg(F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias("y_e2"))
    dow = daily.groupBy("event_type", "dow").agg(
        F.sum("y_e2").alias("dow_sum"), F.count(F.lit(1)).alias("dow_days")
    )
    tot = daily.groupBy("event_type").agg(
        F.sum("y_e2").alias("tot_sum"), F.count(F.lit(1)).alias("tot_days")
    )
    return (
        dow.join(tot, "event_type")
        .select(
            "event_type",
            "dow",
            "dow_days",
            F.expr(
                "dow_sum * tot_days * 10000 DIV (tot_sum * dow_days)"
            ).alias("season_idx_bps"),
        )
    )


TS_SEASONALITY_INDEX_SQL = """\
WITH daily AS (
  SELECT event_type,
         strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
         CAST(dayofweek(CAST(ts AS DATE)) + 1 AS INT) AS dow,
         CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS y_e2
  FROM events GROUP BY 1, 2, 3),
dw AS (
  SELECT event_type, dow,
         CAST(SUM(y_e2) AS BIGINT) AS dow_sum, COUNT(*) AS dow_days
  FROM daily GROUP BY 1, 2),
tt AS (
  SELECT event_type,
         CAST(SUM(y_e2) AS BIGINT) AS tot_sum, COUNT(*) AS tot_days
  FROM daily GROUP BY 1)
SELECT dw.event_type, dw.dow, dw.dow_days,
       CAST(dow_sum * tot_days * 10000 // (tot_sum * dow_days) AS BIGINT)
         AS season_idx_bps
FROM dw JOIN tt USING (event_type)"""


register("ts_seasonality_index", ts_seasonality_index, TS_SEASONALITY_INDEX_SQL)


# ---------------------------------------------------------------------------
# ts_rolling_zscore — trailing-baseline breakout alerts: each event is
# scored against the PRECEDING up-to-8 events of the same user (ROWS 7
# PRECEDING .. 1 PRECEDING — the current value never contaminates its own
# baseline), alerting when |value − mean| > 2·stddev.  The whole test runs
# in exact int64 arithmetic by clearing denominators: with n, S=Σv, Q=Σv²
# over the trailing frame, |v−mean| > k·σ  ⇔  (n·v − S)² > k²·(n·Q − S²)
# (both sides are the population moments scaled by n²) — no sqrt, no
# floats, no Python.  Headroom audit at the fixture's 1e-2 fixed point
# (v ≤ ~32,753): |n·v − S| ≤ 524,048 → squared ≤ 2.75e11; n·Q ≤ 6.9e10 —
# four orders of magnitude inside int64 at ANY sf (the frame is constant-
# width, so bounds don't grow with data).  Plan: ONE hash exchange on
# user_id feeds the window, and the per-user rollup reuses that
# partitioning — JVM end to end.  The per-user report keys each alert
# count to n_eval (events with a ≥4-sample baseline) and sums the alert
# excess (LHS − RHS of the cleared inequality) as a value-sensitive hash
# anchor.  DuckDB oracle = the same cleared-denominator window algebra
# (window SUMs cast from HUGEINT back to BIGINT per the oracle type lint).
# ---------------------------------------------------------------------------

_ZS_K2 = 4  # k = 2 sigmas, squared
_ZS_MIN_N = 4  # baseline must hold ≥4 samples before scoring


def ts_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-7, -1)
    )
    e = load_table(spark, "events", sf_dir).select(
        "user_id",
        "ts",
        "event_id",
        F.floor(F.col("value") * 100).cast("bigint").alias("v"),
    )
    scored = e.select(
        "user_id",
        "v",
        F.count("v").over(w).alias("n"),
        F.sum("v").over(w).alias("s"),
        F.sum(F.col("v") * F.col("v")).over(w).alias("q"),
    ).select(
        "user_id",
        (F.col("n") >= _ZS_MIN_N).alias("evald"),
        (
            (F.col("n") * F.col("v") - F.col("s"))
            * (F.col("n") * F.col("v") - F.col("s"))
            - F.lit(_ZS_K2) * (F.col("n") * F.col("q") - F.col("s") * F.col("s"))
        ).alias("excess"),
    )
    alert = F.col("evald") & (F.col("excess") > 0)
    return scored.groupBy("user_id").agg(
        F.count_if(F.col("evald")).alias("n_eval"),
        F.count_if(alert).alias("n_alerts"),
        F.coalesce(F.sum(F.when(alert, F.col("excess"))), F.lit(0)).alias(
            "sum_excess"
        ),
    )


TS_ROLLING_ZSCORE_SQL = f"""\
WITH s AS (
  SELECT user_id,
         CAST(FLOOR(value * 100) AS BIGINT) AS v,
         CAST(COUNT(v) OVER w AS BIGINT) AS n,
         CAST(COALESCE(SUM(v) OVER w, 0) AS BIGINT) AS s,
         CAST(COALESCE(SUM(v * v) OVER w, 0) AS BIGINT) AS q
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
x AS (
  SELECT user_id,
         n >= {_ZS_MIN_N} AS evald,
         (n * v - s) * (n * v - s) - {_ZS_K2} * (n * q - s * s) AS excess
  FROM s)
SELECT user_id,
       CAST(COUNT(*) FILTER (WHERE evald) AS BIGINT) AS n_eval,
       CAST(COUNT(*) FILTER (WHERE evald AND excess > 0) AS BIGINT) AS n_alerts,
       CAST(COALESCE(SUM(excess) FILTER (WHERE evald AND excess > 0), 0)
            AS BIGINT) AS sum_excess
FROM x GROUP BY user_id"""


register("ts_rolling_zscore", ts_rolling_zscore, TS_ROLLING_ZSCORE_SQL)


# ---------------------------------------------------------------------------
# ts_trend_ols — exact ordinary-least-squares trend per event type: slope /
# intercept / R² of the daily value total against the day index, all in
# EXACT integer rationals (the regression-family capability the engine was
# missing; ts_backtest_snaive forecasts, this one explains).  The whole fit
# reduces to five per-group sums (n, Σx, Σy, Σxy, Σx²[, Σy² for R²]) — ONE
# pass over the daily rollup, no matrix library, no floats:
#   β   = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²)              → slope_e6
#   α   = (Σy·den − num·Σx) / (n·den)                 → intercept_e6
#   R²  = num² / (den · (nΣy² − (Σy)²))               → r2_e6
# Numerators are widened to DECIMAL(38,0) before the products (Σy·den
# crosses 1e20 at sf10, num² crosses 1e27 — far past int64, comfortably
# inside 38 digits), quotients truncate identically in both engines
# (Spark DIV ≡ DuckDB HUGEINT //), and a constant-y group yields NULL R²
# via an explicit zero-variance guard instead of an ANSI division error.
# x is the day offset from the fixture's anchor date so the integers stay
# small and the intercept is interpretable ("level on day 0").
# Scale shape: fact scan → (type, day) rollup → per-type 5-sum aggregate;
# both aggregations are map-side-combining hash aggregates and nothing
# downstream of the first rollup grows with row count.
# ---------------------------------------------------------------------------

_OLS_ANCHOR = "2024-01-01"


def ts_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir).select(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit(_OLS_ANCHOR).cast("date")).alias(
            "x"
        ),
        F.floor(F.col("value") * 100).cast("bigint").alias("v"),
    )
    daily = e.groupBy("event_type", "x").agg(F.sum("v").alias("y"))
    sums = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    big = "CAST({} AS DECIMAL(38,0))"
    num = f"({big.format('n')} * sxy - {big.format('sx')} * sy)"
    den = f"({big.format('n')} * sxx - {big.format('sx')} * sx)"
    yvar = f"({big.format('n')} * syy - {big.format('sy')} * sy)"
    return sums.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.expr(
            f"CASE WHEN {den} = 0 THEN NULL "
            f"ELSE CAST({num} * 1000000 DIV {den} AS BIGINT) END"
        ).alias("slope_e6"),
        F.expr(
            f"CASE WHEN {den} = 0 THEN NULL "
            f"ELSE CAST(({big.format('sy')} * {den} - {num} * sx) * 1000000 "
            f"DIV ({big.format('n')} * {den}) AS BIGINT) END"
        ).alias("intercept_e6"),
        F.expr(
            f"CASE WHEN {den} = 0 OR {yvar} = 0 THEN NULL "
            f"ELSE CAST({num} * {num} * 1000000 DIV ({den} * {yvar}) AS BIGINT) END"
        ).alias("r2_e6"),
    )


TS_TREND_OLS_SQL = f"""\
WITH daily AS (
  SELECT event_type,
         date_diff('day', DATE '{_OLS_ANCHOR}', CAST(ts AS DATE)) AS x,
         CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY 1, 2),
s AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM daily GROUP BY event_type)
SELECT event_type, n AS n_days,
       CASE WHEN CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx = 0 THEN NULL
            ELSE CAST((CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy) * 1000000
                      // (CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx)
                      AS BIGINT) END
         AS slope_e6,
       CASE WHEN CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx = 0 THEN NULL
            ELSE CAST((CAST(sy AS HUGEINT) * (CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx)
                       - (CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy) * sx) * 1000000
                      // (CAST(n AS HUGEINT)
                          * (CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx)) AS BIGINT) END
         AS intercept_e6,
       CASE WHEN CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx = 0
                 OR CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy = 0 THEN NULL
            ELSE CAST((CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy)
                      * (CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy)
                      * 1000000
                      // ((CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx)
                          * (CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy))
                      AS BIGINT) END
         AS r2_e6
FROM s"""


register("ts_trend_ols", ts_trend_ols, TS_TREND_OLS_SQL)


# ---------------------------------------------------------------------------
# ts_burstiness — index of dispersion (Fano factor) per user: VAR/MEAN of
# the user's daily event counts over the corpus's FULL day grid.  D ≈ 1 is
# Poisson-like arrivals, D ≫ 1 is bursty, D < 1 is regular — the standard
# screen for bot-like or batchy traffic that a plain rate threshold misses
# (complements ts_rolling_zscore's level alerts and ts_cusum_alarms' drift
# alarms with a DISPERSION lens).  Exactness: with N = global days in the
# data span (zero-count days MUST count — active-days-only underestimates
# burstiness, so N is a broadcast scalar from the corpus date range, not
# per-user), S = Σc and Q = Σc² over the user's active days,
#   D = ((N·Q − S²)/N²) / (S/N) = (N·Q − S²) / (N·S)
# — one exact integer rational, emitted at 1e-6 (truncating division
# agrees across engines; S ≥ 1 for every user present, so no zero guard).
# Plan: day rollup (one shuffle), per-user rollup reusing the user grain,
# one broadcast scalar — no windows, no Python.
# ---------------------------------------------------------------------------


def ts_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir).select(
        "user_id", F.col("ts").cast("date").alias("day")
    )
    span = e.agg(
        (F.datediff(F.max("day"), F.min("day")) + 1).cast("bigint").alias("n_days")
    )
    daily = e.groupBy("user_id", "day").agg(F.count(F.lit(1)).alias("c"))
    per_user = daily.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_active_days"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("q"),
    )
    return per_user.crossJoin(F.broadcast(span)).select(
        "user_id",
        "n_active_days",
        F.col("s").alias("n_events"),
        F.expr("(n_days * q - s * s) * 1000000 DIV (n_days * s)").alias(
            "dispersion_e6"
        ),
    )


TS_BURSTINESS_SQL = """\
WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
span AS (
  SELECT CAST(date_diff('day', MIN(day), MAX(day)) + 1 AS BIGINT) AS n_days
  FROM e),
daily AS (SELECT user_id, day, CAST(COUNT(*) AS BIGINT) AS c
          FROM e GROUP BY 1, 2),
pu AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n_active_days,
         CAST(SUM(c) AS BIGINT) AS s,
         CAST(SUM(c * c) AS BIGINT) AS q
  FROM daily GROUP BY user_id)
SELECT user_id, n_active_days, s AS n_events,
       (t.n_days * q - s * s) * 1000000 // (t.n_days * s) AS dispersion_e6
FROM pu CROSS JOIN span t"""


register("ts_burstiness", ts_burstiness, TS_BURSTINESS_SQL)


# ---------------------------------------------------------------------------
# rel_position_attribution — U-SHAPED (position-based) multi-touch
# attribution, the sequel to rel_attribution's first-touch rule: each
# purchase's credit is split 40% to the first touch, 40% to the last, and
# 20% across the middles — the standard position-based model.  All credit
# arithmetic is EXACT integer bps: 1 touch → 10000, 2 → 5000/5000, n ≥ 3 →
# 4000/4000 ends and the middle 2000 bps split by truncating division with
# the remainder assigned deterministically to the EARLIEST middles (the
# largest-remainder discipline of rel_largest_remainder_alloc), so every
# purchase's credits sum to exactly 10000.  Attributed revenue rides the
# exact micro-unit value (value·bps DIV 10⁴ per touch — truncation is
# identical in both engines).
# Scale shape: one user_id-keyed self-join bounded by the 7-day window
# (touches per purchase are a per-user-activity constant, never corpus-
# sized), one pid-keyed window for position ranks, one channel rollup.
# ---------------------------------------------------------------------------


def rel_position_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = load_table(spark, "events", sf_dir).select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
        (F.col("value").cast("decimal(18,6)") * 1_000_000)
        .cast("bigint")
        .alias("vmic"),
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("user_id").alias("puser"),
        F.col("us").alias("pus"),
        F.col("vmic").alias("pvmic"),
    )
    touch = e.join(
        p,
        (F.col("user_id") == F.col("puser"))
        & (F.col("us") < F.col("pus"))
        & (F.col("us") >= F.col("pus") - ATTR_WINDOW_US),
    ).select("pid", "pvmic", F.col("event_type").alias("channel"), "us", "event_id")
    w = W.partitionBy("pid").orderBy("us", "event_id")
    ranked = touch.select(
        "pid",
        "pvmic",
        "channel",
        (F.row_number().over(w) - 1).alias("i"),
        F.count(F.lit(1)).over(W.partitionBy("pid")).alias("n"),
    )
    credit = ranked.withColumn(
        "bps",
        F.expr(
            "CASE WHEN n = 1 THEN 10000 "
            "WHEN n = 2 THEN 5000 "
            "WHEN i = 0 OR i = n - 1 THEN 4000 "
            "ELSE 2000 DIV (n - 2) "
            "     + CASE WHEN i - 1 < 2000 % (n - 2) THEN 1 ELSE 0 END END"
        ),
    )
    return credit.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_touches"),
        F.sum("bps").alias("credit_bps_total"),
        F.expr(
            "CAST(SUM(CAST(pvmic AS DECIMAL(38,0)) * bps DIV 10000) AS BIGINT)"
        ).alias("attributed_micros"),
    )


REL_POSITION_ATTRIBUTION_SQL = f"""\
WITH e AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
         CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS vmic
  FROM events),
p AS (
  SELECT event_id AS pid, user_id AS puser, us AS pus, vmic AS pvmic
  FROM e WHERE event_type = 'purchase'),
touch AS (
  SELECT p.pid, p.pvmic, t.event_type AS channel, t.us, t.event_id
  FROM p JOIN e t
    ON t.user_id = p.puser
   AND t.us < p.pus
   AND t.us >= p.pus - {ATTR_WINDOW_US}),
ranked AS (
  SELECT pid, pvmic, channel,
         ROW_NUMBER() OVER (PARTITION BY pid ORDER BY us, event_id) - 1 AS i,
         COUNT(*) OVER (PARTITION BY pid) AS n
  FROM touch),
credit AS (
  SELECT pid, pvmic, channel,
         CASE WHEN n = 1 THEN 10000
              WHEN n = 2 THEN 5000
              WHEN i = 0 OR i = n - 1 THEN 4000
              ELSE 2000 // (n - 2)
                   + CASE WHEN i - 1 < 2000 % (n - 2) THEN 1 ELSE 0 END END AS bps
  FROM ranked)
SELECT channel,
       CAST(COUNT(*) AS BIGINT) AS n_touches,
       CAST(SUM(bps) AS BIGINT) AS credit_bps_total,
       CAST(SUM(CAST(pvmic AS HUGEINT) * bps // 10000) AS BIGINT)
         AS attributed_micros
FROM credit GROUP BY channel"""


register(
    "rel_position_attribution", rel_position_attribution, REL_POSITION_ATTRIBUTION_SQL
)


# ---------------------------------------------------------------------------
# ts_lag_features — the FEATURE-STORE table a training pipeline derives from
# raw events: per (user, active day), the day's event count plus calendar-
# aware lag features — previous-day count (0 when the user was silent
# yesterday: a RANGE frame over the integer day offset, NOT a ROWS lag,
# which would silently skip gaps) and the trailing-7-calendar-day count.
# All integers, hash-exact; day offsets from the fixture anchor keep the
# RANGE keys small.  Scale shape: one (user, day) rollup then one
# user-partitioned RANGE window — a single hash exchange; output grows with
# active user-days (the feature table's own grain), never events.
# ---------------------------------------------------------------------------


def ts_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = load_table(spark, "events", sf_dir).select(
        "user_id",
        F.datediff(F.col("ts").cast("date"), F.lit(_OLS_ANCHOR).cast("date")).alias(
            "d"
        ),
    )
    daily = e.groupBy("user_id", "d").agg(F.count(F.lit(1)).alias("n_events"))
    w = W.partitionBy("user_id").orderBy("d")
    return daily.select(
        "user_id",
        "d",
        "n_events",
        F.coalesce(
            F.sum("n_events").over(w.rangeBetween(-1, -1)), F.lit(0)
        ).alias("prev_day_events"),
        F.sum("n_events").over(w.rangeBetween(-6, 0)).alias("trailing_7d_events"),
    )


TS_LAG_FEATURES_SQL = f"""\
WITH daily AS (
  SELECT user_id,
         date_diff('day', DATE '{_OLS_ANCHOR}', CAST(ts AS DATE)) AS d,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2)
SELECT user_id, d, n_events,
       CAST(COALESCE(SUM(n_events) OVER (
              PARTITION BY user_id ORDER BY d
              RANGE BETWEEN 1 PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         AS prev_day_events,
       CAST(SUM(n_events) OVER (
              PARTITION BY user_id ORDER BY d
              RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
         AS trailing_7d_events
FROM daily"""


register("ts_lag_features", ts_lag_features, TS_LAG_FEATURES_SQL)
