"""SparkSession factory.

Local-mode defaults tuned for the test/bench harness (local[N] = one JVM, N
executor threads); the same settings are the right shape for a real cluster:
AQE on (runtime re-plan, skew-join splitting, partition coalescing), shuffle
partitions sized to parallelism instead of the 200 default, Arrow enabled for
the Pandas-UDF paths, UTC session timezone pinned so timestamp extraction
matches the DuckDB oracle.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "ad_hoc_olap_query_processing_engine_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # parallelism-sized at bench scale; the sfN probes override via env
        # (the cluster-realistic knob — at sf100 the 28-partition default
        # left per-task shuffled-hash maps and aggregate buffers too big
        # for one task's memory slice: single-task OOM, found by the probe)
        .config(
            "spark.sql.shuffle.partitions",
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(max(cpus, 8))),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # mid-size dimensions (orders/customer at bench scale) fit easily in
        # executor memory; broadcasting them removes the sort-merge shuffle
        # from the 5-way sales view (measured -25% on the golden suite). On a
        # real cluster this stays safe: AQE still falls back to SMJ for
        # anything over the threshold.
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # driver testdata stores events.ts as TIMESTAMP(NANOS); read the raw
        # int64 and rebuild a micros timestamp in the table registry
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # local mode funnels every task result through the driver; the 1g
        # default is the first ceiling any multi-GB probe hits (sf30 sweep)
        .config(
            "spark.driver.maxResultSize",
            os.environ.get("SPARK_GRAFT_MAX_RESULT", "4g"),
        )
    )
    for k, val in (extra_conf or {}).items():
        builder = builder.config(k, val)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def scoped_conf(spark: SparkSession, overrides: dict[str, str]) -> Iterator[None]:
    """Set session confs for the duration of the block.  On exit, normal or
    raised, each key gets its prior value back, or is unset if it had none,
    so the session default (vanilla driver sessions included) is never
    mutated."""
    prior = {k: spark.conf.get(k, None) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
