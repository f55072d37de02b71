"""High-volume streaming certification (round-9 verdict ask #3).

The per-query stream certs drain one small file in one micro-batch; this
module is the streaming analogue of the sfN batch sweeps: a many-micro-batch,
millions-of-rows pass with REAL watermark pressure, asserting from the
engine's own StreamingQueryProgress metrics that

  * no input row is lost (sum of numInputRows == rows generated),
  * the watermark actually drops the designed-late rows
    (numRowsDroppedByWatermark == the late-row count, and none of the
    late rows surface in the output),
  * session state is EVICTED as the watermark advances (peak state rows
    stay bounded by the active-session count instead of growing with the
    number of micro-batches — the no-OOM property at 100 TB), and
  * the emitted sessions EXACTLY equal a batch recomputation over the
    on-time rows (stream/batch parity at volume).

Data layout (deterministic, no RNG): file i covers a 2-hour activity window;
each real user emits one burst per file (events 60 s apart, well inside the
30-minute session gap), so every (user, file) is exactly one session and
cross-file gaps always split sessions.  Files i >= LATE_FROM also carry rows
stamped 6+ hours behind the already-advanced watermark (marker user ids), and
a final far-future flush file pushes the watermark past every real session so
append mode finalizes them all.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .windows import drain, file_stream

BASE_EPOCH = 1_704_067_200  # 2024-01-01 00:00:00 UTC
FILE_SPAN_S = 7_200  # each file covers 2 h of event time
SESSION_GAP = "30 minutes"
WATERMARK = "1 hour"
LATE_FROM = 5  # files >= this index carry designed-late rows
LATE_MARKER = 10_000_000  # late rows use user_id >= this (excluded from parity)
FLUSH_USER = -1  # the far-future flush row's user id


def generate_stream_files(
    out_dir: str,
    n_files: int = 40,
    n_users: int = 2_000,
    events_per_user: int = 25,
    n_late_users: int = 200,
) -> dict:
    """Write the deterministic multi-file event stream; returns counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    n_rows = n_late = 0
    for i in range(n_files):
        users, tss = [], []
        base = BASE_EPOCH + i * FILE_SPAN_S
        for u in range(n_users):
            start = base + (u % 60) * 60  # burst start inside the file window
            for k in range(events_per_user):
                users.append(u)
                tss.append(start + k * 60)
        if i >= LATE_FROM:
            # 6+ h behind the watermark established by files [0, i): with a
            # 1 h delay the watermark at batch i is ~(i-1)*2 h + ~18 min, so
            # ts = (i-4)*2 h is late by >4 h — deterministically dropped
            for u in range(n_late_users):
                users.append(LATE_MARKER + u)
                tss.append(BASE_EPOCH + (i - 4) * FILE_SPAN_S + u)
                n_late += 1
        n_rows += len(users)
        t = pa.table(
            {
                "user_id": pa.array(users, pa.int64()),
                "ts": pa.array(
                    [v * 1_000_000 for v in tss], pa.timestamp("us", "UTC")
                ),
            }
        )
        path = os.path.join(out_dir, f"f{i:04d}.parquet")
        pq.write_table(t, path)
        os.utime(path, (BASE_EPOCH + i, BASE_EPOCH + i))  # deterministic order
    # flush: one far-future row finalizes every real session under append mode
    flush_ts = BASE_EPOCH + (n_files + 10) * FILE_SPAN_S
    t = pa.table(
        {
            "user_id": pa.array([FLUSH_USER], pa.int64()),
            "ts": pa.array([flush_ts * 1_000_000], pa.timestamp("us", "UTC")),
        }
    )
    path = os.path.join(out_dir, f"f{n_files:04d}_flush.parquet")
    pq.write_table(t, path)
    os.utime(path, (BASE_EPOCH + n_files, BASE_EPOCH + n_files))
    return {
        "n_files": n_files + 1,
        "n_rows": n_rows + 1,
        "n_late_rows": n_late,
        "n_real_sessions": n_files * n_users,
    }


def _read_stream(spark: SparkSession, data_dir: str) -> DataFrame:
    return file_stream(spark, data_dir, spark.read.parquet(data_dir).schema)


def _progress_counters(progress: list) -> tuple[int, int, int]:
    """(input rows, rows dropped by the watermark, peak state rows) summed
    over a drained query's progress reports."""
    state_ops = [so for p in progress for so in p.get("stateOperators", [])]
    return (
        sum(int(p["numInputRows"]) for p in progress),
        sum(int(so.get("numRowsDroppedByWatermark", 0)) for so in state_ops),
        max((int(so.get("numRowsTotal", 0)) for so in state_ops), default=0),
    )


def session_volume_cert(spark: SparkSession, data_dir: str, gen: dict) -> dict:
    """Append-mode session windows under watermark pressure; exact parity."""
    ev = _read_stream(spark, data_dir).withWatermark("ts", WATERMARK)
    agg = ev.groupBy(F.session_window("ts", SESSION_GAP).alias("w"), "user_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    out, progress = drain(agg, spark, "append")
    emitted = out.select(
        F.col("w.start").cast("long").alias("session_start"),
        F.col("w.end").cast("long").alias("session_end"),
        "user_id",
        "n_events",
    ).cache()

    n_input, dropped, peak_state = _progress_counters(progress)

    # exact parity: batch session windows over the on-time (real-user) rows
    expected = (
        spark.read.parquet(data_dir)
        .filter((F.col("user_id") >= 0) & (F.col("user_id") < LATE_MARKER))
        .groupBy(F.session_window("ts", SESSION_GAP).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").cast("long").alias("session_start"),
            F.col("w.end").cast("long").alias("session_end"),
            "user_id",
            "n_events",
        )
    )
    got_real = emitted.filter(
        (F.col("user_id") >= 0) & (F.col("user_id") < LATE_MARKER)
    )
    n_expected = expected.count()
    n_got = got_real.count()
    n_diff = got_real.exceptAll(expected).count() + expected.exceptAll(got_real).count()
    n_late_emitted = emitted.filter(F.col("user_id") >= LATE_MARKER).count()
    emitted.unpersist()

    report = {
        "query": "session_window append",
        "rows_generated": gen["n_rows"],
        "rows_input": n_input,
        "rows_dropped_by_watermark": dropped,
        "late_rows_designed": gen["n_late_rows"],
        "late_rows_emitted": n_late_emitted,
        "sessions_expected": n_expected,
        "sessions_emitted": n_got,
        "sessions_diff": n_diff,
        "peak_state_rows": peak_state,
        "n_batches": len(progress),
    }
    assert n_input == gen["n_rows"], report
    assert dropped == gen["n_late_rows"], report
    assert n_late_emitted == 0, report
    assert n_diff == 0 and n_got == n_expected == gen["n_real_sessions"], report
    # eviction: bounded by sessions in flight (≤ ~2 files' worth of users +
    # late/flush slack), never the n_files × n_users total the stream saw
    assert peak_state < 3 * (gen["n_real_sessions"] // max(1, gen["n_files"] - 1)) + gen["n_late_rows"], report
    report["verdict"] = "PASS"
    return report


def stateful_volume_cert(spark: SparkSession, data_dir: str, gen: dict) -> dict:
    """applyInPandasWithState at volume: cumulative per-user counts through
    the Python state channel must equal a batch GROUP BY exactly."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = _read_stream(spark, data_dir).select("user_id")

    def update(key, pdfs, state: "GroupState"):
        import pandas as pd

        (n,) = state.get if state.exists else (0,)
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    agg = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long",
        stateStructType="n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out, progress = drain(agg, spark, "update")
    # update mode re-emits a user's cumulative count every batch that touches
    # it; the final value per user is the max
    final = out.groupBy("user_id").agg(F.max("n_events").alias("n_events"))
    expected = spark.read.parquet(data_dir).groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    n_diff = final.exceptAll(expected).count() + expected.exceptAll(final).count()
    n_input = sum(int(p["numInputRows"]) for p in progress)
    report = {
        "query": "applyInPandasWithState update",
        "rows_generated": gen["n_rows"],
        "rows_input": n_input,
        "users_diff": n_diff,
        "n_batches": len(progress),
    }
    assert n_input == gen["n_rows"], report
    assert n_diff == 0, report
    report["verdict"] = "PASS"
    return report


# ---------------------------------------------------------------------------
# stream-stream JOIN volume cert (round-9 verdict ask #2): the remaining
# stateful corner after the session-window + applyInPandasWithState certs.
# Two file streams — impressions (left) and clicks (right) — flow through a
# watermarked RANGED left-outer join; the cert asserts, from the engine's
# own progress metrics plus an exact batch recomputation:
#   * row conservation (numInputRows across both sources == rows generated),
#   * designed-late clicks are dropped by the watermark — and because each
#     late click TARGETS a real unclicked impression, a drop failure would
#     surface as a matched row where batch parity expects a null-match (the
#     drop is asserted twice: metric AND output),
#   * null-match emission is exact: every unclicked impression emits exactly
#     one outer row once the watermark passes its join range — equal to the
#     batch left-outer join over the on-time rows,
#   * BOTH sides' state stays bounded by the watermark horizon (a few file
#     windows), never growing with the stream length — the no-OOM property.
# ---------------------------------------------------------------------------

JOIN_SPAN_S = 3_600  # each file covers 1 h of event time
JOIN_RANGE = "15 minutes"  # click must land within this of the impression
JOIN_WATERMARK = "30 minutes"
JOIN_LATE_FROM = 5  # click files >= this carry designed-late clicks
CLICK_DELAY_MAX_S = 600  # on-time click delay: imp_ts + (imp_id % 600)


def generate_join_stream_files(
    left_dir: str,
    right_dir: str,
    n_files: int = 40,
    imps_per_file: int = 25_000,
    late_per_file: int = 50,
) -> dict:
    """Deterministic impression/click stream pair (no RNG).

    Impression imp_id = i*imps_per_file + k at ts = window_i_start + k % 3600.
    EVEN imp_ids get one on-time click at imp_ts + (imp_id % 600) — always
    inside the 15-minute join range.  ODD imp_ids get no on-time click; for
    click files i >= JOIN_LATE_FROM, the first `late_per_file` odd
    impressions OF FILE i-4 get a click at imp_ts + 300 — in join range but
    ~4 h behind the watermark, so it MUST be dropped (and its target must
    surface as a null-match, same as batch)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(left_dir, exist_ok=True)
    os.makedirs(right_dir, exist_ok=True)
    n_imps = n_clicks = n_late = 0

    def _write(path: str, imp_ids, users, tss, file_idx: int, with_user: bool):
        cols = {"imp_id": pa.array(imp_ids, pa.int64())}
        if with_user:
            cols["user_id"] = pa.array(users, pa.int64())
        cols["ts"] = pa.array([v * 1_000_000 for v in tss], pa.timestamp("us", "UTC"))
        pq.write_table(pa.table(cols), path)
        os.utime(path, (BASE_EPOCH + file_idx, BASE_EPOCH + file_idx))

    for i in range(n_files):
        base = BASE_EPOCH + i * JOIN_SPAN_S
        imp_ids, users, tss = [], [], []
        c_ids, c_tss = [], []
        for k in range(imps_per_file):
            imp_id = i * imps_per_file + k
            ts = base + (k % JOIN_SPAN_S)
            imp_ids.append(imp_id)
            users.append(imp_id % 1_000)
            tss.append(ts)
            if imp_id % 2 == 0:  # on-time click, always in join range
                c_ids.append(imp_id)
                c_tss.append(ts + (imp_id % CLICK_DELAY_MAX_S))
        if i >= JOIN_LATE_FROM:
            # late clicks target ODD (= unclicked) impressions of file i-4:
            # in join range relative to the impression, hours behind the
            # watermark relative to the stream
            src = i - 4
            added = 0
            for k in range(imps_per_file):
                imp_id = src * imps_per_file + k
                if imp_id % 2 == 1:
                    c_ids.append(imp_id)
                    c_tss.append(BASE_EPOCH + src * JOIN_SPAN_S + (k % JOIN_SPAN_S) + 300)
                    added += 1
                    if added >= late_per_file:
                        break
            n_late += added
        n_imps += len(imp_ids)
        n_clicks += len(c_ids)
        _write(os.path.join(left_dir, f"f{i:04d}.parquet"), imp_ids, users, tss, i, True)
        _write(os.path.join(right_dir, f"f{i:04d}.parquet"), c_ids, None, c_tss, i, False)

    # far-future flush on BOTH sides pushes the global (min-of-sources)
    # watermark past every impression's join range so append mode emits all
    # pending null-matches; markers use negative ids that match nothing
    flush_ts = BASE_EPOCH + (n_files + 10) * JOIN_SPAN_S
    _write(os.path.join(left_dir, f"f{n_files:04d}_flush.parquet"),
           [-1], [-1], [flush_ts], n_files, True)
    _write(os.path.join(right_dir, f"f{n_files:04d}_flush.parquet"),
           [-2], None, [flush_ts], n_files, False)
    return {
        "n_files": n_files + 1,
        "n_imps": n_imps + 1,
        "n_clicks": n_clicks + 1,
        "n_rows": n_imps + n_clicks + 2,
        "n_late_clicks": n_late,
    }


def _join_select(j: DataFrame) -> DataFrame:
    return j.select(
        "imp_id",
        "user_id",
        F.col("ts").cast("long").alias("imp_ts"),
        F.col("click_ts").cast("long").alias("click_ts"),
    )


def join_volume_cert(
    spark: SparkSession, left_dir: str, right_dir: str, gen: dict
) -> dict:
    """Watermarked ranged left-outer stream-stream join at volume."""
    imp = _read_stream(spark, left_dir).withWatermark("ts", JOIN_WATERMARK)
    clk = (
        _read_stream(spark, right_dir)
        .withColumnRenamed("imp_id", "c_imp_id")
        .withColumnRenamed("ts", "click_ts")
        .withWatermark("click_ts", JOIN_WATERMARK)
    )
    cond = F.expr(
        f"imp_id = c_imp_id AND click_ts >= ts "
        f"AND click_ts <= ts + interval {JOIN_RANGE}"
    )
    j = imp.join(clk, cond, "leftOuter")
    out, progress = drain(_join_select(j), spark, "append")
    emitted = out.filter(F.col("imp_id") >= 0).cache()

    n_input, dropped, peak_state = _progress_counters(progress)

    # exact parity: batch left-outer join over the ON-TIME rows (even
    # imp_ids are the only on-time clicks, by construction)
    bimp = spark.read.parquet(left_dir).filter(F.col("imp_id") >= 0)
    bclk = (
        spark.read.parquet(right_dir)
        .filter((F.col("imp_id") >= 0) & (F.col("imp_id") % 2 == 0))
        .withColumnRenamed("imp_id", "c_imp_id")
        .withColumnRenamed("ts", "click_ts")
    )
    expected = _join_select(bimp.join(bclk, cond, "leftOuter"))

    n_expected = expected.count()
    n_got = emitted.count()
    n_diff = emitted.exceptAll(expected).count() + expected.exceptAll(emitted).count()
    n_null_match = emitted.filter(F.col("click_ts").isNull()).count()
    # odd imp_ids among the real impressions: ids are 0..(n_imps-1)-1 (the
    # gen count includes one flush sentinel), so the odd count is floor(N/2)
    # — the old ceil form was off by one whenever N was odd (round-11 #4)
    n_odd = (gen["n_imps"] - 1) // 2
    emitted.unpersist()

    report = {
        "query": "stream-stream ranged left-outer join append",
        "rows_generated": gen["n_rows"],
        "rows_input": n_input,
        "late_clicks_designed": gen["n_late_clicks"],
        "rows_dropped_by_watermark": dropped,
        "rows_expected": n_expected,
        "rows_emitted": n_got,
        "rows_diff": n_diff,
        "null_matches_emitted": n_null_match,
        "null_matches_expected": n_odd,
        "peak_state_rows": peak_state,
        "n_batches": len(progress),
    }
    assert n_input == gen["n_rows"], report
    assert dropped == gen["n_late_clicks"], report
    assert n_diff == 0 and n_got == n_expected, report
    # every odd impression must emit exactly one null-match outer row — a
    # late click that survived the watermark would break this AND n_diff
    assert n_null_match == n_odd, report
    # two-sided state bounded by the watermark horizon: ~2 h of impressions
    # + clicks in flight (plus flush/late slack), never the full stream
    per_window = gen["n_imps"] // max(1, gen["n_files"] - 1)
    assert peak_state < 5 * per_window + 10_000, report
    report["verdict"] = "PASS"
    return report
