"""Structured Streaming windows over the ``events`` table (SURVEY.md §2.3 —
NOT-IN-REFERENCE; the reference is strictly batch).

Each operator builds a genuine ``readStream`` pipeline (file source over the
driver parquet, watermark, windowed aggregation), drains it synchronously
through a memory sink (``processAllAvailable`` — the standard local-test
harness), and returns the result table. The tumbling aggregate is
oracle-checked against DuckDB epoch arithmetic.

Window starts are emitted as epoch seconds (BIGINT) — engine-neutral, no
timestamp-type mismatches with the oracle.

Scale: a file-source stream with watermark + windowed agg is exactly the
shape that runs on a real cluster against Kafka — state is bounded by the
watermark horizon per (window, key), and the memory sink here swaps for a
parquet/Kafka sink without touching the aggregation.
"""

from __future__ import annotations

import os
import tempfile
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..sources.catalog import load_table, normalize_timestamps, read_parquet
from ..operators.registry import register
from ..session import scoped_conf

_SINK_LOCK = threading.Lock()
_SINK_SEQ = [0]

# ---------------------------------------------------------------------------
# The stream harness: every streaming query in the package places its stream
# files with ``stream_dir``, reads them with ``file_stream`` and runs to
# completion through ``drain``.
# ---------------------------------------------------------------------------


def stream_dir(kind: str, sf_dir: str) -> str:
    """Directory for the ``kind`` stream files of ``sf_dir``, under the
    process temp dir (``tempfile.gettempdir()``, which follows ``TMPDIR``)."""
    return os.path.join(tempfile.gettempdir(), kind, sf_dir.strip("/").replace("/", "_"))


def file_stream(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """Parquet file source over the directory ``path``, one file per
    trigger: the rate throttle that makes a watermark advance between
    files."""
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(path)


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet, with the batch reader's schema
    (taken from the footer, no Spark job) and its timestamp normalization:
    the nanos `ts` arrives as int64 and is rebuilt to a micros timestamp, a
    no-tz micros `ts` is cast from TIMESTAMP_NTZ (which withWatermark
    rejects), before any event-time logic."""
    path = os.path.join(sf_dir, "events.parquet")
    # Spark's file stream source requires a directory; the driver data is a
    # single file → expose it through a symlink dir (read-only testdata).
    link_dir = stream_dir("spark_graft_stream", sf_dir)
    os.makedirs(link_dir, exist_ok=True)
    link = os.path.join(link_dir, "events.parquet")
    # lexists, not exists: exists() follows the link, so a dangling link (the
    # target was regenerated) looks absent and symlink() would raise
    # FileExistsError — and a link to a *different* path would be silently
    # reused. Recreate unless it already points at exactly this target.
    if os.path.lexists(link):
        if os.readlink(link) != path:
            os.unlink(link)
            os.symlink(path, link)
    else:
        os.symlink(path, link)
    raw, nanos_cols = read_parquet(spark, path)
    return normalize_timestamps(spark, file_stream(spark, link_dir, raw.schema), nanos_cols)


# Stateful operators instantiate one state-store (checkpoint dir, provider,
# maintenance thread) PER shuffle partition, captured at query start. The
# local harness processes the whole table in one micro-batch, so 32 state
# partitions are pure constant overhead (measured at sf0.1: stream-stream
# join 12.6 s @32 → 3.7 s @8 → 2.3 s @4; below 4 the gain flattens while
# parallel headroom disappears). On a real cluster, size this to key
# cardinality/throughput — it is a per-query knob, not a global one.
STREAM_STATE_PARTITIONS = 4


def drain(agg: DataFrame, spark: SparkSession, mode: str) -> tuple[DataFrame, list]:
    """Run the stream to completion through a memory sink; returns the
    result table and every micro-batch's progress report.

    ``q.recentProgress`` is a ring buffer capped at
    spark.sql.streaming.numRecentProgressUpdates (default 100): with one
    file per micro-batch, a run above ~98 files would silently drop the
    earliest batches' progress.  The cap is raised for the whole run (it is
    read on every progress update) and restored after ``stop()``.  The
    shuffle width is captured at ``start()``, so it is capped only around
    that call and the session's batch plans keep their own setting."""
    with _SINK_LOCK:
        _SINK_SEQ[0] += 1
        name = f"stream_sink_{_SINK_SEQ[0]}"
    parts = min(int(spark.conf.get("spark.sql.shuffle.partitions")), STREAM_STATE_PARTITIONS)
    with scoped_conf(spark, {"spark.sql.streaming.numRecentProgressUpdates": "10000"}):
        with scoped_conf(spark, {"spark.sql.shuffle.partitions": str(parts)}):
            q = agg.writeStream.outputMode(mode).format("memory").queryName(name).start()
        try:
            q.processAllAvailable()
            progress = [p for p in q.recentProgress if p is not None]
        finally:
            q.stop()
    return spark.table(name), progress


# ---------------------------------------------------------------------------
# stream_tumbling — 1-day tumbling windows, watermarked, oracle-checked.
# ---------------------------------------------------------------------------


def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )
    out, _ = drain(agg, spark, "complete")
    return out.select(
        F.col("w.start").cast("long").alias("window_start"),
        "event_type",
        "n_events",
        "sum_value",
    )


STREAM_TUMBLING_SQL = """\
SELECT CAST(FLOOR(epoch(ts) / 86400) * 86400 AS BIGINT)  AS window_start,
       event_type,
       COUNT(*)                                          AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2"""


# ---------------------------------------------------------------------------
# stream_sliding — 12h windows sliding every 6h (overlapping assignment).
# ---------------------------------------------------------------------------


def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = ev.groupBy(
        F.window("ts", "12 hours", "6 hours").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    out, _ = drain(agg, spark, "complete")
    return out.select(
        F.col("w.start").cast("long").alias("window_start"),
        "event_type",
        "n_events",
    )


# each event lands in exactly two 12h/6h windows: epoch-floor at 6h, and that
# minus 6h (window length 12h) — expressible as a 2-offset unnest
STREAM_SLIDING_SQL = """\
WITH assigned AS (
  SELECT CAST(FLOOR(epoch(ts) / 21600) * 21600 - o AS BIGINT) AS window_start,
         event_type
  FROM events, unnest([0, 21600]) AS t(o))
SELECT window_start, event_type, COUNT(*) AS n_events
FROM assigned GROUP BY 1, 2"""


# ---------------------------------------------------------------------------
# stream_session — per-user session windows (30-minute gap).
# ---------------------------------------------------------------------------


def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    out, _ = drain(agg, spark, "complete")
    return out.select(
        F.col("w.start").cast("long").alias("session_start"),
        F.col("w.end").cast("long").alias("session_end"),
        "user_id",
        "n_events",
    )


# sessionization in plain SQL: lag + cumsum at MICROSECOND precision; Spark's
# session windows are [first, last+gap) with end-exclusive overlap merging, so
# a gap of exactly 30min starts a new session (>=).
STREAM_SESSION_SQL = """\
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                   OR epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts))
                      >= 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events),
sessions AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked)
SELECT CAST(FLOOR(epoch_us(MIN(ts)) / 1000000.0) AS BIGINT)                AS session_start,
       CAST(FLOOR((epoch_us(MAX(ts)) + 1800000000) / 1000000.0) AS BIGINT) AS session_end,
       user_id,
       COUNT(*)                                                            AS n_events
FROM sessions GROUP BY user_id, session_id"""


register("stream_tumbling", stream_tumbling, STREAM_TUMBLING_SQL)
register("stream_sliding", stream_sliding, STREAM_SLIDING_SQL)
register("stream_session", stream_session, STREAM_SESSION_SQL)


# ---------------------------------------------------------------------------
# stream_stateful_user_agg — custom stateful operator (applyInPandasWithState)
# ---------------------------------------------------------------------------


def stream_stateful_user_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running aggregate kept in explicit GroupState — the
    ``applyInPandasWithState`` surface for operators Spark's built-in
    aggregations can't express (custom accumulators, decaying counters,
    session machines). State schema: (count, total); each micro-batch emits
    the refreshed totals for the users it touched. Value totals are kept in
    int micro-units so state arithmetic is exact (oracle-checkable)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    # double→bigint CASTS DIFFER across engines (Spark truncates, DuckDB
    # rounds); go through DECIMAL, which is exact in both
    ev = _events_stream(spark, sf_dir).select(
        "user_id",
        (F.col("value").cast("decimal(18,6)") * 1_000_000).cast("bigint").alias("micros"),
    )

    def update(key, pdfs, state: "GroupState"):
        import pandas as pd

        n, total = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)  # COUNT(*) semantics: nulls still count rows
            # SUM skips NULLs in SQL; dropna + int64 keeps the arithmetic
            # exact (a NaN-bearing float64 sum would round past 2^53)
            total += int(pdf["micros"].dropna().astype("int64").sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total / 1e6]}
        )

    agg = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, total long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return drain(agg, spark, "update")[0]


# single-file source → one micro-batch → the emitted update equals the batch
# aggregate, with the same exact micro-unit arithmetic
STREAM_STATEFUL_USER_AGG_SQL = """\
SELECT user_id,
       COUNT(*) AS n_events,
       SUM(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)) / 1000000.0
         AS total_value
FROM events GROUP BY user_id"""


register("stream_stateful_user_agg", stream_stateful_user_agg, STREAM_STATEFUL_USER_AGG_SQL)


# ---------------------------------------------------------------------------
# stream_tws_extremes — custom stateful operator on transformWithStateInPandas
# (the Spark 4 successor to applyInPandasWithState: typed state primitives —
# value/list/map state, timers, TTL — instead of one opaque tuple). Covering
# BOTH stateful APIs matters: applyInPandasWithState is the stable surface,
# transformWithState is where new state features land.
#
# The transformWithState Python runner requires protobuf (its driver↔worker
# control channel is proto-serialized); environments without it crash the
# runner at init, so registration is gated on the import — the operator code
# itself is complete and runs wherever `google.protobuf` is installed.
# ---------------------------------------------------------------------------


def tws_available() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def stream_tws_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running (n, min_micros, max_micros) in a typed ValueState;
    each micro-batch emits refreshed extremes for the users it touched."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class Extremes(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._st = handle.getValueState("ext", "n long, mn long, mx long")

        def handleInputRows(self, key, rows, timerValues):
            n, mn, mx = (self._st.get() or (0, None, None)) if self._st.exists() else (0, None, None)
            for pdf in rows:
                n += len(pdf)  # COUNT(*) semantics: nulls still count rows
                vals = pdf["micros"].dropna()  # MIN/MAX skip NULLs in SQL
                if len(vals):
                    lo, hi = int(vals.min()), int(vals.max())
                    mn = lo if mn is None else min(mn, lo)
                    mx = hi if mx is None else max(mx, hi)
            self._st.update((n, mn, mx))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "min_value": [None if mn is None else mn / 1e6],
                    "max_value": [None if mx is None else mx / 1e6],
                }
            )

        def close(self) -> None:
            pass

    # exact micro-unit ints in state; decimals only at the boundary
    ev = _events_stream(spark, sf_dir).select(
        "user_id",
        (F.col("value").cast("decimal(18,6)") * 1_000_000).cast("bigint").alias("micros"),
    )
    agg = ev.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=Extremes(),
        outputStructType="user_id long, n_events long, min_value double, max_value double",
        outputMode="Update",
        timeMode="None",
    )
    return drain(agg, spark, "update")[0]


STREAM_TWS_EXTREMES_SQL = """\
SELECT user_id,
       COUNT(*) AS n_events,
       MIN(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)) / 1000000.0
         AS min_value,
       MAX(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)) / 1000000.0
         AS max_value
FROM events GROUP BY user_id"""


if tws_available():
    register("stream_tws_extremes", stream_tws_extremes, STREAM_TWS_EXTREMES_SQL)


# ---------------------------------------------------------------------------
# stream_dedup — streaming deduplication (dropDuplicates + watermark).
# ---------------------------------------------------------------------------


def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup on (user_id, event_type): dropDuplicates keeps
    per-key state bounded by the watermark horizon — the streaming twin of
    dedup_exact. Output is the distinct key set (deterministic; which
    physical row survives is not)."""
    ev = _events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    deduped = ev.select("user_id", "event_type", "ts").dropDuplicates(
        ["user_id", "event_type"]
    )
    out, _ = drain(deduped.select("user_id", "event_type"), spark, "append")
    return out


STREAM_DEDUP_SQL = "SELECT DISTINCT user_id, event_type FROM events"


register("stream_dedup", stream_dedup, STREAM_DEDUP_SQL)


# ---------------------------------------------------------------------------
# stream_stream_join — stream-stream interval join (purchase → later clicks).
# ---------------------------------------------------------------------------


def _purchase_click_join(spark: SparkSession, sf_dir: str, how: str) -> DataFrame:
    """Each purchase joined (``how``) to the same user's clicks within the
    following hour, drained as (user_id, purchase_us, click_us).  Both sides
    are watermarked so Spark can bound the join state (purchases buffered
    ≤ 1h past the click watermark).  Shared by the stream-join siblings."""
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts"))
        & (F.col("c_ts") <= F.col("p_ts") + F.expr("INTERVAL 1 HOUR")),
        how,
    )
    out = joined.select(
        "user_id",
        F.unix_micros("p_ts").alias("purchase_us"),
        F.unix_micros("c_ts").alias("click_us"),
    )
    return drain(out, spark, "append")[0]


def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: for each purchase, the same user's clicks
    within the following hour."""
    return _purchase_click_join(spark, sf_dir, "inner")


STREAM_STREAM_JOIN_SQL = """\
SELECT p.user_id,
       epoch_us(p.ts) AS purchase_us,
       epoch_us(c.ts) AS click_us
FROM (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c
  ON c.user_id = p.user_id
 AND c.ts >= p.ts
 AND c.ts <= p.ts + INTERVAL 1 HOUR"""


register("stream_stream_join", stream_stream_join, STREAM_STREAM_JOIN_SQL)


# ---------------------------------------------------------------------------
# stream_stream_outer — LEFT OUTER stream-stream join: the hard streaming
# case, because a null-match can only be emitted once the engine PROVES no
# match will ever arrive — i.e. when the join watermark passes the purchase's
# match window.  Spark buffers left rows in state and flushes unmatched ones
# via the no-data micro-batch after the watermark advances; rows whose window
# the final watermark never passes are still open and are NOT emitted.  The
# oracle makes that eviction rule explicit instead of pretending the stream
# equals a batch LEFT JOIN: null-matches appear iff
#     p_ts + 1h < min(max(p_ts), max(c_ts)) - 1h
# (global watermark = min of both sides' max-event-time minus the 1h delay —
# verified row-for-row against the engine at sf0.001 and sf0.01).  At scale
# the state store holds ≤ (watermark horizon + window) of the purchase
# stream per key — bounded regardless of stream length.
# ---------------------------------------------------------------------------


def stream_stream_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _purchase_click_join(spark, sf_dir, "left_outer")


STREAM_STREAM_OUTER_SQL = """\
WITH wm AS (
  SELECT LEAST(
      (SELECT MAX(ts) FROM events WHERE event_type = 'purchase'),
      (SELECT MAX(ts) FROM events WHERE event_type = 'click'))
    - INTERVAL 1 HOUR AS w)
SELECT x.user_id, epoch_us(x.p_ts) AS purchase_us, epoch_us(x.c_ts) AS click_us
FROM (
  SELECT p.user_id, p.ts AS p_ts, c.ts AS c_ts
  FROM (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
  LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c
    ON c.user_id = p.user_id
   AND c.ts >= p.ts
   AND c.ts <= p.ts + INTERVAL 1 HOUR
) x, wm
WHERE x.c_ts IS NOT NULL OR x.p_ts + INTERVAL 1 HOUR < wm.w"""


register("stream_stream_outer", stream_stream_outer, STREAM_STREAM_OUTER_SQL)


# ---------------------------------------------------------------------------
# stream_approx_ndv — approximate COUNT(DISTINCT) under streaming state:
# exact distinct aggregation is unsupported in streaming (state would be the
# full value set per window), so the streaming path is the HLL++ sketch
# (approx_count_distinct, rsd 2%) — constant state per (window) key, the
# same reason batch tiers roll sketches up (func_sketch_rollup).  Contract
# mirrors rel_approx_distinct: after the stream drains, the estimate joins
# the batch-exact count and the HASHED columns are the exact NDV plus an
# error-envelope boolean (±5%) the oracle states as TRUE — the estimate
# itself is engine-specific and never hashed.
# ---------------------------------------------------------------------------


def stream_approx_ndv(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = ev.groupBy(F.window("ts", "1 day").alias("__w")).agg(
        F.approx_count_distinct("user_id", 0.02).alias("__est")
    )
    # complete mode (like stream_tumbling): append would hold back the final
    # day, whose window end the watermark never passes on a finite source
    est, _ = drain(
        agg.select(
            F.date_format(F.col("__w.start"), "yyyy-MM-dd").alias("day"), "__est"
        ),
        spark,
        "complete",
    )
    exact = (
        load_table(spark, "events", sf_dir)
        .groupBy(F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day"))
        .agg(F.countDistinct("user_id").alias("exact_users"))
    )
    rel_err = F.abs(F.col("__est") - F.col("exact_users")) / F.col("exact_users")
    return est.join(exact, "day").select(
        "day", "exact_users", (rel_err <= 0.05).alias("est_within_5pct")
    )


STREAM_APPROX_NDV_SQL = """\
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
       COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS est_within_5pct
FROM events
GROUP BY 1"""


register("stream_approx_ndv", stream_approx_ndv, STREAM_APPROX_NDV_SQL)


# ---------------------------------------------------------------------------
# stream_static_join — stream enriched against a STATIC dimension table.
# ---------------------------------------------------------------------------


def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: each event joins the (batch) customer
    dimension, then aggregates per nation. The static side needs no
    watermark and keeps no state — Spark re-plans it per micro-batch, so at
    scale the explicit broadcast makes every executor enrich map-side with
    no shuffle of the stream. The canonical Kafka-events × warehouse-dim
    pattern."""
    ev = _events_stream(spark, sf_dir)
    cust = load_table(spark, "customer", sf_dir).select("c_custkey", "c_nationkey")
    joined = ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey, "inner")
    agg = joined.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )
    return drain(agg, spark, "complete")[0]


STREAM_STATIC_JOIN_SQL = """\
SELECT c.c_nationkey,
       COUNT(*)                                          AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_nationkey"""


register("stream_static_join", stream_static_join, STREAM_STATIC_JOIN_SQL)


# ---------------------------------------------------------------------------
# stream_chained_windows — TWO stateful windowed aggregations chained in ONE
# streaming query (Spark 3.4+ multiple-stateful-operator support): 6-hour
# event-type counts roll up into daily totals with the 6-hour peak, entirely
# inside the stream.  The outer window keys on window_time(w6) (the inner
# window's event-time column), which is what lets the watermark propagate
# through the first aggregation instead of stopping at it.
#
# Chained stateful operators require APPEND mode, so results surface only
# when the final watermark (max event time − 1 h) passes a day window's end
# — the trailing partial day stays in state, exactly as it would on an
# unbounded production stream.  The DuckDB oracle states that eviction rule
# explicitly (day_end ≤ watermark), same contract as stream_stream_outer:
# the oracle checks the streaming semantics, not a batch idealization.
# At scale this two-tier rollup is the streaming twin of
# func_multires_rollup's hourly→daily tier — state is bounded per (window,
# event_type) at both tiers by the watermark horizon.
# ---------------------------------------------------------------------------


def stream_chained_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    six = ev.groupBy(F.window("ts", "6 hours").alias("w6"), "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    day = six.groupBy(
        F.window(F.window_time("w6"), "1 day").alias("wd"), "event_type"
    ).agg(F.sum("n").alias("total_events"), F.max("n").alias("peak_6h"))
    out, _ = drain(day, spark, "append")
    return out.select(
        F.col("wd.start").cast("long").alias("window_start"),
        "event_type",
        "total_events",
        "peak_6h",
    )


STREAM_CHAINED_WINDOWS_SQL = """\
WITH wm AS (SELECT epoch(MAX(ts) - INTERVAL 1 HOUR) AS w FROM events),
six AS (
  SELECT CAST(FLOOR(epoch(ts) / 21600) * 21600 AS BIGINT) AS w6,
         event_type, COUNT(*) AS n
  FROM events GROUP BY 1, 2)
SELECT CAST(FLOOR(w6 / 86400) * 86400 AS BIGINT) AS window_start,
       event_type,
       CAST(SUM(n) AS BIGINT) AS total_events,
       CAST(MAX(n) AS BIGINT) AS peak_6h
FROM six, wm
WHERE FLOOR(w6 / 86400) * 86400 + 86400 <= wm.w
GROUP BY 1, 2"""


register("stream_chained_windows", stream_chained_windows, STREAM_CHAINED_WINDOWS_SQL)


# ---------------------------------------------------------------------------
# stream_session_dynamic — session windows whose gap is an EXPRESSION of the
# event (purchases hold a session open 60 min, everything else 15): Spark's
# dynamic-gap session_window(ts, gapExpr).  Each event proposes [ts, ts+gap)
# and the state store merges overlapping proposals per key — end-exclusive,
# so an event landing exactly at the running max end starts a new session.
# The DuckDB oracle reproduces that merge rule relationally: running MAX of
# (ts + per-event gap) over the ordered per-user history, a session break
# whenever the next event's start has reached it.  Same bounded-state
# contract as the static-gap op; the gap column just rides the state.
# ---------------------------------------------------------------------------

_DYN_GAP_LONG_US = 3_600_000_000  # purchase: 60 min
_DYN_GAP_SHORT_US = 900_000_000  # otherwise: 15 min


def stream_session_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    gap = F.when(F.col("event_type") == "purchase", F.lit("60 minutes")).otherwise(
        F.lit("15 minutes")
    )
    agg = ev.groupBy(F.session_window("ts", gap).alias("w"), "user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "n_purchases"
        ),
    )
    out, _ = drain(agg, spark, "complete")
    return out.select(
        F.col("w.start").cast("long").alias("session_start"),
        F.col("w.end").cast("long").alias("session_end"),
        "user_id",
        "n_events",
        "n_purchases",
    )


STREAM_SESSION_DYNAMIC_SQL = f"""\
WITH g AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN event_type = 'purchase' THEN {_DYN_GAP_LONG_US}
              ELSE {_DYN_GAP_SHORT_US} END AS gap_us
  FROM events),
marked AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN MAX(epoch_us(ts) + gap_us) OVER
                     (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                   OR epoch_us(ts) >= MAX(epoch_us(ts) + gap_us) OVER
                     (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_session,
         epoch_us(ts) + gap_us AS end_us
  FROM g),
sessions AS (
  SELECT user_id, ts, event_type, end_us,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked)
SELECT CAST(FLOOR(epoch_us(MIN(ts)) / 1000000.0) AS BIGINT) AS session_start,
       CAST(FLOOR(MAX(end_us) / 1000000.0) AS BIGINT)       AS session_end,
       user_id,
       COUNT(*)                                             AS n_events,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases
FROM sessions GROUP BY user_id, session_id"""


register("stream_session_dynamic", stream_session_dynamic, STREAM_SESSION_DYNAMIC_SQL)
