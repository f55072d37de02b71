"""Sources and sinks: partitioned writes must prune on the partition key,
the Python data sources must match the native readers, and the JDBC source
must push filters down."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from ad_hoc_olap_query_processing_engine_spark.plans import physical_plan
from ad_hoc_olap_query_processing_engine_spark.sources import catalog, io

from .conftest import SF_SMALL, assert_frames_match


@pytest.fixture(scope="module")
def nation_df(spark):
    return catalog.load_table(spark, "nation", SF_SMALL)


def test_partitioned_write_prunes(spark):
    orders = catalog.load_table(spark, "orders", SF_SMALL).withColumn(
        "yr", F.year("o_orderdate")
    )
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "orders_part")
        orders.write.partitionBy("yr").parquet(path)
        back = spark.read.parquet(path)
        one_year = back.filter(F.col("yr") == 1997)
        assert one_year.count() == orders.filter(F.col("yr") == 1997).count()
        # partition pruning: the scan must only touch the yr=1997 directory
        plan = physical_plan(one_year)
        assert "PartitionFilters" in plan and "1997" in plan


def test_materialized_sales_matches_view(spark, monkeypatch):
    """The SALES_CACHE layout optimization must be row-identical to the live
    derivation view, with matching dtypes, and the goldens' year WHERE must
    become partition pruning against the materialized layout."""
    view = catalog.sales_df(spark, SF_SMALL)
    with tempfile.TemporaryDirectory() as tmp:
        cache = os.path.join(tmp, "sales_cache")
        path = catalog.materialize_sales(spark, SF_SMALL, cache_dir=cache)
        mat = spark.read.parquet(path).select(*catalog.SALES_COLUMNS)
        assert dict(mat.dtypes) == dict(view.dtypes)
        assert_frames_match(mat.toPandas(), view.toPandas())
        pruned = mat.filter(F.col("year") == 1997)
        plan = physical_plan(pruned)
        assert "PartitionFilters" in plan and "1997" in plan


def test_sales_cache_env_switches_path(spark, monkeypatch, tmp_path):
    monkeypatch.setenv(catalog.SALES_CACHE_ENV, "1")
    monkeypatch.setattr(
        catalog, "_sales_cache_dir", lambda sf_dir: str(tmp_path / "cache")
    )
    cached = catalog.sales_df(spark, SF_SMALL)
    plan = physical_plan(cached)
    assert "lineitem" not in plan  # reads the materialization, not the join
    monkeypatch.setenv(catalog.SALES_CACHE_ENV, "0")
    live = catalog.sales_df(spark, SF_SMALL)
    assert "lineitem" in physical_plan(live)


def test_pyrowgroup_datasource_matches_native_reader(spark):
    """The Python DataSource API connector must return exactly what the
    built-in parquet reader returns for the same file+projection, with one
    input partition per parquet row group (the connector's parallelism
    contract). A multi-row-group file (small row_group_size) exercises >1
    partition."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ad_hoc_olap_query_processing_engine_spark.sources.pydatasource import (
        read_pyrowgroup,
    )

    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "multi_rg.parquet")
        table = pa.table(
            {
                "k": pa.array(range(1000), type=pa.int64()),
                "s": pa.array([f"v{i % 7}" for i in range(1000)]),
            }
        )
        pq.write_table(table, path, row_group_size=100)
        via = read_pyrowgroup(spark, path)
        native = spark.read.parquet(path)
        assert via.rdd.getNumPartitions() == 10  # one per row group
        assert via.schema == native.schema
        assert_frames_match(
            via.toPandas().sort_values("k").reset_index(drop=True),
            native.toPandas().sort_values("k").reset_index(drop=True),
        )
        # column pruning at the pyarrow layer
        pruned = read_pyrowgroup(spark, path, columns=["s"])
        assert pruned.columns == ["s"]
        assert pruned.count() == 1000


def test_pyjsonl_sink_round_trip_with_commit_manifest(spark, nation_df):
    """Write half of the Python DataSource API: rows round-trip through the
    JSONL sink, the committed directory carries a _SUCCESS manifest with
    accurate counts, and no uncommitted temp files remain."""
    import json

    from ad_hoc_olap_query_processing_engine_spark.sources.pydatasource import (
        register_pyrowgroup,
    )

    register_pyrowgroup(spark)
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "nation_jsonl")
        nation_df.write.format("pyjsonl").mode("overwrite").option(
            "path", path
        ).save()
        files = sorted(os.listdir(path))
        assert "_SUCCESS" in files
        assert not [f for f in files if f.startswith("_tmp-")]
        manifest = json.load(open(os.path.join(path, "_SUCCESS")))
        assert manifest["rows"] == nation_df.count()
        back = spark.read.schema(nation_df.schema).json(
            os.path.join(path, "part-*.jsonl")
        )
        assert_frames_match(
            back.toPandas().sort_values("n_nationkey").reset_index(drop=True),
            nation_df.toPandas().sort_values("n_nationkey").reset_index(drop=True),
        )


def _derby_seed(spark, db_path: str) -> None:
    """Create and fill a Derby embedded table through the session JVM (the
    Derby driver ships in Spark's jars — no extra install)."""
    jvm = spark._jvm
    con = jvm.java.sql.DriverManager.getConnection(f"jdbc:derby:{db_path};create=true")
    st = con.createStatement()
    st.executeUpdate("CREATE TABLE sales_src (id INT PRIMARY KEY, quant INT, state VARCHAR(2))")
    ps = con.prepareStatement("INSERT INTO sales_src VALUES (?, ?, ?)")
    for i in range(1, 101):
        ps.setInt(1, i)
        ps.setInt(2, i % 50)
        ps.setString(3, ["NY", "CT", "NJ"][i % 3])
        ps.executeUpdate()
    st.close()
    ps.close()
    con.close()


def test_jdbc_source_pushdown_and_partitioned_read(spark):
    """The live JDBC source (reference's actual transport): a ranged WHERE
    must reach the remote scan as PushedFilters — the database ships matching
    rows only — and a partitioned read must split the key range into parallel
    cursors while returning the same rows."""
    with tempfile.TemporaryDirectory() as tmp:
        db = os.path.join(tmp, "derbydb")
        _derby_seed(spark, db)
        url = f"jdbc:derby:{db}"

        df = io.read_jdbc(spark, url, "sales_src").filter(F.col("QUANT") > 25)
        plan = physical_plan(df)
        assert "PushedFilters" in plan and "QUANT" in plan, plan
        assert df.count() == sum(1 for i in range(1, 101) if i % 50 > 25)

        part = io.read_jdbc(
            spark,
            url,
            "sales_src",
            partition_column="ID",
            lower_bound=1,
            upper_bound=101,
            num_partitions=4,
        )
        assert part.rdd.getNumPartitions() == 4
        assert part.count() == 100
        assert {r.STATE for r in part.select("STATE").distinct().collect()} == {"NY", "CT", "NJ"}


def test_pyticks_stream_batches_and_checkpoint_resume(spark):
    """The streaming Python DataSource contract: trigger-once batch 1 reads
    [0, 50); a RESTARTED query on the same checkpoint resumes from the
    committed offset and emits [50, 100) — no duplicates, no gaps (the
    exactly-once offset protocol, driven end-to-end)."""
    from ad_hoc_olap_query_processing_engine_spark.sources import pydatasource

    pydatasource.register_pyrowgroup(spark)
    n = pydatasource.TICKS_PER_BATCH
    with tempfile.TemporaryDirectory() as tmp:
        ckpt = os.path.join(tmp, "ckpt")
        out = os.path.join(tmp, "out")

        def one_batch():
            q = (
                spark.readStream.format("pyticks").load()
                .writeStream.outputMode("append")
                .format("parquet").option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(60)
            q.stop()
            return {r.seq for r in spark.read.parquet(out).collect()}

        first = one_batch()
        assert first == set(range(0, n))
        cumulative = one_batch()  # restarted query, same checkpoint + sink
        assert cumulative == set(range(0, 2 * n))  # no duplicates, no gaps
        # replay determinism directly: a committed range re-reads identically
        rdr = pydatasource._TickStreamReader()
        replay = list(rdr.readBetweenOffsets({"seq": 0}, {"seq": n}))
        fresh, _ = rdr.read({"seq": 0})
        assert replay == list(fresh)


def test_dynamic_partition_pruning_from_dim_filter(spark):
    """DPP: when the fact is partitioned on the join key and the dimension
    side carries a selective filter, Catalyst injects a runtime subquery
    into the fact scan's PartitionFilters (dynamicpruningexpression) so only
    the matching partition directories are read — the partition-level
    analogue of the bitmap/bloom row-level prefilters in
    operators/prefilter.py, and the config default we rely on at scale."""
    orders = catalog.load_table(spark, "orders", SF_SMALL).withColumn(
        "yr", F.year("o_orderdate")
    )
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "orders_dpp")
        orders.write.partitionBy("yr").parquet(path)
        fact = spark.read.parquet(path)
        # the selective filter must sit on NON-key columns of another table:
        # a literal predicate on yr itself would propagate through the
        # equi-join as a static partition filter and DPP would never fire
        dim = (
            catalog.load_table(spark, "events", SF_SMALL)
            .filter(F.col("event_type") == "purchase")
            # events live in 2024, orders in 1995-2001: shift into overlap
            .select((F.year("ts") - 27).alias("yr"))
            .distinct()
        )
        joined = fact.join(dim, "yr").groupBy("yr").count()
        plan = physical_plan(joined)
        assert "dynamicpruning" in plan.lower(), plan[:2000]
        assert joined.count() >= 1


def test_malformed_json_modes(spark, tmp_path):
    """Schema-on-read resilience contract for dirty inputs: PERMISSIVE mode
    lands bad records in the _corrupt_record column with NULL data fields,
    DROPMALFORMED silently drops them, FAILFAST raises — the three-way
    policy a 100 TB ingest job must choose deliberately (default PERMISSIVE
    means corrupt upstream files degrade to NULLs, not job failures)."""
    import pytest
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    src = tmp_path / "dirty.jsonl"
    src.write_text(
        '{"k": 1, "v": "a"}\n'
        "{this is not json}\n"
        '{"k": 3, "v": "c"}\n'
    )
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.StringType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )

    permissive = spark.read.schema(schema).json(str(src)).cache()
    try:
        assert permissive.count() == 3
        bad = permissive.filter(F.col("_corrupt_record").isNotNull()).collect()
        assert len(bad) == 1
        assert bad[0]["k"] is None and "not json" in bad[0]["_corrupt_record"]
        assert permissive.filter(F.col("k").isNotNull()).count() == 2
    finally:
        permissive.unpersist()

    dropped = (
        spark.read.schema("k long, v string")
        .option("mode", "DROPMALFORMED")
        .json(str(src))
    )
    assert sorted(r.k for r in dropped.collect()) == [1, 3]

    with pytest.raises(Exception, match="(?i)malformed|failfast"):
        (
            spark.read.schema("k long, v string")
            .option("mode", "FAILFAST")
            .json(str(src))
            .collect()
        )


def test_parquet_schema_evolution_mergeschema(spark, tmp_path):
    """Schema evolution on a growing dataset: files written before a column
    existed read back as NULL for that column under mergeSchema=true, and
    the footer-sampled default (mergeSchema off) keeps the first-listed
    schema only — the contract a long-lived 100 TB table relies on when
    producers add columns without rewriting history."""
    from pyspark.sql import functions as F

    base = tmp_path / "evo"
    spark.createDataFrame([(1, "a")], "id long, v1 string").write.parquet(
        str(base / "p=old")
    )
    spark.createDataFrame(
        [(2, "b", 99.5)], "id long, v1 string, v2 double"
    ).write.parquet(str(base / "p=new"))

    merged = spark.read.option("mergeSchema", "true").parquet(str(base))
    assert set(merged.columns) == {"id", "v1", "v2", "p"}
    rows = {r.id: r for r in merged.collect()}
    assert rows[1].v2 is None          # pre-evolution file: NULL-filled
    assert rows[2].v2 == 99.5
    # the evolved column is still filterable and prunable across old files
    assert merged.filter(F.col("v2").isNotNull()).count() == 1


def test_parquet_compression_codec_roundtrip(spark, tmp_path):
    """Codec portability: the same frame written with snappy, zstd, and gzip
    reads back identically (count + content hash) and the files carry the
    codec's extension — the knob a 100 TB table tunes for scan-vs-storage
    trade-offs (zstd ~30% smaller than snappy at similar scan cost)."""
    import glob
    import os

    from pyspark.sql import functions as F

    from ad_hoc_olap_query_processing_engine_spark.sources.catalog import load_table

    src = load_table(spark, "orders", "/root/testdata/sf0.001")
    digest_src = src.agg(
        F.bit_xor(F.xxhash64(*sorted(src.columns))).alias("h")
    ).collect()[0].h

    for codec in ("snappy", "zstd", "gzip"):
        out = str(tmp_path / codec)
        src.write.option("compression", codec).parquet(out)
        files = glob.glob(os.path.join(out, f"*.{codec[:2]}*.parquet")) or glob.glob(
            os.path.join(out, f"*{codec}*.parquet")
        )
        assert files, f"no {codec}-suffixed files in {os.listdir(out)}"
        back = spark.read.parquet(out)
        assert back.count() == src.count(), codec
        digest = back.agg(
            F.bit_xor(F.xxhash64(*sorted(back.columns))).alias("h")
        ).collect()[0].h
        assert digest == digest_src, codec
