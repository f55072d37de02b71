"""Schema parity with the driver's testdata.

Round 2 went red because the driver regenerated parquet with `ts` as
`timestamp[us]` (no timezone) → Spark's `TIMESTAMP_NTZ`, which
`unix_micros` and `withWatermark` reject, and the local fixtures (built with
`TimestampType`) never noticed. This test pins the contract in both
directions:

1. `load_table` must normalize whatever the driver ships to plain
   `TIMESTAMP` (+ stable types for every other column), and
2. if the driver's on-disk dtypes drift again, the raw-schema assertions
   below fail loudly instead of 12 queries crashing at judging time.

It also pins that a table read takes its schema from the parquet footer:
`load_table` starts no Spark job, and its schema and executed plan equal
those of Spark's own schema inference.
"""

from __future__ import annotations

import glob
import os
import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ad_hoc_olap_query_processing_engine_spark.plans import physical_plan
from ad_hoc_olap_query_processing_engine_spark.sources import catalog

from .conftest import SF_SMALL, assert_frames_match

SF = SF_SMALL
# every scale factor of the driver data present beside the small one
SF_DIRS = sorted(glob.glob(os.path.join(os.path.dirname(SF_SMALL), "sf*")))

EXPECTED_LOADED_TYPES = {
    # table -> {col: simpleString}; timestamps MUST surface as "timestamp"
    # (never timestamp_ntz / bigint) after load_table normalization.
    "events": {
        "event_id": "bigint",
        "ts": "timestamp",
        "user_id": "bigint",
        "event_type": "string",
        "value": "double",
        "props": "string",
    },
    "orders": {"o_orderkey": "bigint", "o_custkey": "bigint"},
    "lineitem": {"l_orderkey": "bigint", "l_quantity": "double"},
    "documents": {"doc_id": "bigint", "text": "string"},
    "embeddings": {"vec_id": "bigint", "embedding": "array<float>", "label": "int"},
}


@pytest.mark.parametrize("table", sorted(EXPECTED_LOADED_TYPES))
def test_load_table_normalizes_dtypes(spark, table):
    got = {f.name: f.dataType.simpleString() for f in catalog.load_table(spark, table, SF).schema}
    for col, want in EXPECTED_LOADED_TYPES[table].items():
        assert got.get(col) == want, f"{table}.{col}: {got.get(col)!r} != {want!r}"


def test_no_ntz_or_raw_nanos_leak_from_any_table(spark):
    """No table surfaces TIMESTAMP_NTZ (breaks unix_micros/withWatermark)
    or a raw int64-nanos column after normalization."""
    for table in catalog.TABLES:
        df = catalog.load_table(spark, table, SF)
        for f in df.schema.fields:
            assert not isinstance(f.dataType, T.TimestampNTZType), (
                f"{table}.{f.name} leaked TIMESTAMP_NTZ through load_table"
            )


def test_driver_parquet_ts_flavor_is_known():
    """Raw driver dtypes: if the on-disk flavor of events.ts drifts to
    something load_table has no branch for, fail here with the actual type."""
    schema = pq.read_schema(os.path.join(SF, "events.parquet"))
    ts = str(schema.field("ts").type)
    assert ts in ("timestamp[us]", "timestamp[ns]", "timestamp[us, tz=UTC]"), (
        f"driver events.ts is now {ts!r} — add a normalization branch to "
        "catalog.load_table for it"
    )


def test_embeddings_are_fixed_width():
    """The SRP plane table is sized from row-group-0's max list length
    (similarity._peek_dim); that is only safe while every embedding has the
    same dimensionality — pin it against the driver data."""
    import duckdb

    lo, hi = duckdb.sql(
        f"SELECT MIN(len(embedding)), MAX(len(embedding)) "
        f"FROM '{SF}/embeddings.parquet'"
    ).fetchone()
    assert lo == hi, f"ragged embeddings: min dim {lo} != max dim {hi}"


def _next_job(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())  # noqa: SLF001


def _executed(df) -> str:
    """Executed plan with expression ids stripped."""
    return re.sub(r"#\d+L?", "#", df._jdf.queryExecution().executedPlan().toString())  # noqa: SLF001


def _inferred(spark, path):
    """The reference read: Spark's schema inference, then the same
    timestamp normalization."""
    nanos = [f.name for f in pq.read_schema(path) if str(f.type) == "timestamp[ns]"]
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return catalog.normalize_timestamps(spark, spark.read.parquet(path), nanos)


def _assert_like_inference(spark, name, sf_dir):
    start = _next_job(spark)
    got = catalog.load_table(spark, name, sf_dir)
    assert _next_job(spark) == start, f"{name}: load_table started a Spark job"
    want = _inferred(spark, os.path.join(sf_dir, f"{name}.parquet"))
    assert got.schema == want.schema
    assert _executed(got) == _executed(want)
    return got, want


@pytest.mark.parametrize("sf_dir", SF_DIRS, ids=os.path.basename)
@pytest.mark.parametrize("table", catalog.TABLES)
def test_load_table_reads_the_footer_schema(spark, table, sf_dir):
    _assert_like_inference(spark, table, sf_dir)


def test_footer_schema_covers_every_timestamp_flavor(spark, tmp_path):
    n = 5
    pq.write_table(
        pa.table({
            "id": pa.array(range(n), pa.int64()),
            "ts_ns": pa.array([i * 1_000_123_456 for i in range(n)], pa.timestamp("ns")),
            "ts_us": pa.array([i * 1_000_123 for i in range(n)], pa.timestamp("us")),
            "ts_utc": pa.array([i * 1_000_123 for i in range(n)], pa.timestamp("us", tz="UTC")),
            "vec": pa.array([[float(i), 0.5] for i in range(n)], pa.list_(pa.float32())),
        }),
        tmp_path / "t.parquet",
    )
    got, want = _assert_like_inference(spark, "t", str(tmp_path))
    assert {f.name: f.dataType.simpleString() for f in got.schema} == {
        "id": "bigint", "ts_ns": "timestamp", "ts_us": "timestamp",
        "ts_utc": "timestamp", "vec": "array<float>",
    }
    assert_frames_match(got.toPandas(), want.toPandas())


def test_unmapped_footer_falls_back_to_inference(spark, tmp_path):
    pq.write_table(
        pa.table({"id": pa.array([1, 2, 3], pa.int64()), "u": pa.array([7, 8, 9], pa.uint32())}),
        tmp_path / "t.parquet",
    )
    start = _next_job(spark)
    got = catalog.load_table(spark, "t", str(tmp_path))
    assert _next_job(spark) > start  # Spark inferred the schema
    assert dict(got.dtypes) == {"id": "bigint", "u": "bigint"}
    assert sorted(r.u for r in got.collect()) == [7, 8, 9]


def test_cached_sales_read_starts_no_job(spark, monkeypatch, tmp_path):
    """The materialized layout is read with SALES_SCHEMA: no job, and the
    same schema, plan, rows and year pruning as Spark's inference."""
    monkeypatch.setenv(catalog.SALES_CACHE_ENV, "1")
    monkeypatch.setattr(catalog, "_sales_cache_dir", lambda sf_dir: str(tmp_path / "cache"))
    path = catalog.materialize_sales(spark, SF)
    start = _next_job(spark)
    got = catalog.sales_df(spark, SF)
    assert _next_job(spark) == start
    want = spark.read.parquet(path).select(*catalog.SALES_COLUMNS)
    assert got.schema == want.schema
    got97, want97 = (df.filter(F.col("year") == 1997) for df in (got, want))
    assert _executed(got97) == _executed(want97)
    plan = physical_plan(got97)
    assert "PartitionFilters" in plan and "1997" in plan
    assert_frames_match(got.toPandas(), want.toPandas())
