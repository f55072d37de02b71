"""Custom source via the PySpark 4 Python DataSource API.

The reference's source surface is a single JDBC full-table scan
(reference: src/QueryProcessor1.java:76-96). Spark's extension point for a
source the built-ins don't cover is ``pyspark.sql.datasource.DataSource``:
plan on the driver, read per-partition on executors, return Arrow batches so
rows never materialize one at a time in Python.

``ParquetRowGroupSource`` is a complete, working connector built on that API.
It reads parquet through pyarrow with ONE INPUT PARTITION PER ROW GROUP —
the same parallelism contract a production connector for a non-Spark format
(a proprietary log format, a feature store, an index file) must implement:

- ``schema()`` runs driver-side and touches only the file footer (metadata,
  not data) — planning cost is O(columns), independent of file size.
- ``partitions()`` enumerates row groups from the same footer; at scale the
  task count tracks the data layout, not a fixed split size.
- ``read(partition)`` opens the file on the executor and yields pyarrow
  RecordBatches for its row group only — Arrow end-to-end, no per-row Python.
- Column pruning is explicit (``columns`` option): the reader passes the
  projection to pyarrow so unneeded columns are never decoded. (A custom
  source doesn't get Catalyst's automatic pruning pushdown — the option
  documents that boundary honestly.)

This is deliberately a re-implementation of a format Spark already has, so
the built-in reader can ORACLE-CHECK the connector: `src_pyds_docstats`
aggregates documents read through this source and the DuckDB oracle reads
the same parquet natively — any batch/row/type drift in the connector breaks
the hash match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

from ..operators.iterutil import footer_arrow_schema
from ..operators.registry import register

_ARROW_TO_SPARK = {
    "int8": "tinyint",
    "int16": "smallint",
    "int32": "int",
    "int64": "bigint",
    "float": "float",
    "double": "double",
    "string": "string",
    "large_string": "string",
    "bool": "boolean",
    "binary": "binary",
    "large_binary": "binary",
    "date32[day]": "date",
}


def _spark_ddl(arrow_schema, columns: list[str] | None) -> str:
    fields = []
    for name in columns or arrow_schema.names:
        t = str(arrow_schema.field(name).type)
        if t not in _ARROW_TO_SPARK:
            raise ValueError(
                f"pyrowgroup: unsupported arrow type {t!r} for column {name!r}"
            )
        fields.append(f"{name} {_ARROW_TO_SPARK[t]}")
    return ", ".join(fields)


class _RowGroupPartition(InputPartition):
    def __init__(self, index: int) -> None:
        self.index = index


class _RowGroupReader(DataSourceReader):
    def __init__(self, path: str, columns: list[str] | None) -> None:
        self._path = path
        self._columns = columns

    def partitions(self):  # driver-side: footer metadata only
        import pyarrow.parquet as pq

        n = pq.ParquetFile(self._path).num_row_groups
        return [_RowGroupPartition(i) for i in range(max(n, 1))]

    def read(self, partition: _RowGroupPartition):  # executor-side
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(self._path)
        if partition.index >= pf.num_row_groups:
            return
        table = pf.read_row_group(partition.index, columns=self._columns)
        yield from table.to_batches()


class ParquetRowGroupSource(DataSource):
    """``spark.read.format("pyrowgroup").option("path", p).load()``.

    Options: ``path`` (required), ``columns`` (comma-separated projection,
    optional — prunes decode at the pyarrow layer).
    """

    @classmethod
    def name(cls) -> str:
        return "pyrowgroup"

    def _columns(self) -> list[str] | None:
        cols = self.options.get("columns")
        return [c.strip() for c in cols.split(",")] if cols else None

    def schema(self) -> str:
        path = self.options["path"]
        arrow_schema = footer_arrow_schema(path)
        if arrow_schema is None:
            raise ValueError(f"pyrowgroup: cannot read the parquet footer of {path!r}")
        return _spark_ddl(arrow_schema, self._columns())

    def reader(self, schema) -> DataSourceReader:
        return _RowGroupReader(self.options["path"], self._columns())


class _FileCommit(WriterCommitMessage):
    def __init__(self, tmp_path: str, rows: int) -> None:
        self.tmp_path = tmp_path
        self.rows = rows


class _JsonLinesWriter(DataSourceWriter):
    """Executor-side writer with the standard two-phase commit contract:
    every task writes to a UNIQUE temp name (task attempt id — retries and
    speculative duplicates can never collide), the driver's ``commit``
    renames winners into place and writes a ``_SUCCESS`` manifest, and
    ``abort`` removes the orphans. Readers treat the manifest as the commit
    point, so a half-failed write is never visible — the same protocol a
    real object-store sink needs (with rename swapped for multipart
    complete)."""

    def __init__(self, path: str) -> None:
        self._path = path

    def write(self, iterator):
        import json
        import os

        from pyspark import TaskContext

        ctx = TaskContext.get()
        os.makedirs(self._path, exist_ok=True)
        tmp = os.path.join(
            self._path,
            f"_tmp-part-{ctx.partitionId():05d}-{ctx.taskAttemptId()}.jsonl",
        )
        n = 0
        with open(tmp, "w") as f:
            for row in iterator:
                f.write(json.dumps(row.asDict(), sort_keys=True) + "\n")
                n += 1
        return _FileCommit(tmp, n)

    def commit(self, messages):
        import json
        import os

        total = 0
        for i, m in enumerate(messages):
            os.replace(m.tmp_path, os.path.join(self._path, f"part-{i:05d}.jsonl"))
            total += m.rows
        with open(os.path.join(self._path, "_SUCCESS"), "w") as f:
            json.dump({"files": len(messages), "rows": total}, f)

    def abort(self, messages):
        import os

        for m in messages:
            if m is not None and os.path.exists(m.tmp_path):
                os.remove(m.tmp_path)


class JsonLinesSink(DataSource):
    """``df.write.format("pyjsonl").mode(...).option("path", p).save()`` —
    the write half of the Python DataSource API surface."""

    @classmethod
    def name(cls) -> str:
        return "pyjsonl"

    def writer(self, schema, overwrite: bool) -> DataSourceWriter:
        import os
        import shutil

        path = self.options["path"]
        if overwrite and os.path.isdir(path):
            shutil.rmtree(path)
        return _JsonLinesWriter(path)


# ---------------------------------------------------------------------------
# Streaming half of the Python DataSource API: a deterministic tick source.
#
# ``SimpleDataSourceStreamReader`` is the extension point for streaming
# ingestion from systems Spark has no connector for (a message queue, a
# polling REST API, a change feed). The contract this implements is the one
# any such connector must honor for exactly-once:
#
# - ``initialOffset``    → the logical start position ({"seq": 0})
# - ``read(start)``      → rows for one micro-batch + the END offset; called
#                          only on the fresh path
# - ``readBetweenOffsets(start, end)`` → DETERMINISTIC REPLAY of a committed
#                          range after restart — same offsets, same rows
#
# Rows are a pure function of the sequence number (seq, seq % BUCKETS,
# seq * 7 % 100), so replay determinism is exact and testable: the resume
# test restarts the query from a checkpoint and must see batch 2, never a
# duplicate of batch 1.
# ---------------------------------------------------------------------------

TICKS_PER_BATCH = 50
TICK_BUCKETS = 5


class _TickStreamReader(SimpleDataSourceStreamReader):
    def initialOffset(self) -> dict:
        return {"seq": 0}

    def _rows(self, lo: int, hi: int):
        # a LIST, not a generator: the simple-reader prefetch path pickles
        # the row payload between driver and executors
        return [(i, i % TICK_BUCKETS, float(i * 7 % 100)) for i in range(lo, hi)]

    def read(self, start: dict):
        lo = start["seq"]
        hi = lo + TICKS_PER_BATCH
        return self._rows(lo, hi), {"seq": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        return self._rows(start["seq"], end["seq"])

    def commit(self, end: dict) -> None:
        pass  # nothing to clean up: the source is stateless by construction


class TickStreamSource(DataSource):
    """``spark.readStream.format("pyticks").load()`` — deterministic
    synthetic tick stream certifying the streaming DataSource surface."""

    @classmethod
    def name(cls) -> str:
        return "pyticks"

    def schema(self) -> str:
        return "seq bigint, bucket bigint, value double"

    def simpleStreamReader(self, schema):
        return _TickStreamReader()


def register_pyrowgroup(spark: SparkSession) -> None:
    spark.dataSource.register(ParquetRowGroupSource)
    spark.dataSource.register(JsonLinesSink)
    spark.dataSource.register(TickStreamSource)


def read_pyrowgroup(
    spark: SparkSession, path: str, columns: list[str] | None = None
) -> DataFrame:
    register_pyrowgroup(spark)
    r = spark.read.format("pyrowgroup").option("path", path)
    if columns:
        r = r.option("columns", ",".join(columns))
    return r.load()


# ---------------------------------------------------------------------------
# src_pyds_docstats — per-language corpus stats read THROUGH the custom
# Python source (pruned to 3 of 5 columns); the oracle reads the same
# parquet through DuckDB's native scanner, so the hash match certifies the
# connector's partitions/batches/types end-to-end.
# ---------------------------------------------------------------------------


def src_pyds_docstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_pyrowgroup(
        spark, f"{sf_dir}/documents.parquet", columns=["doc_id", "lang", "n_chars"]
    )
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


SRC_PYDS_DOCSTATS_SQL = """\
SELECT lang,
       COUNT(*)                     AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(doc_id)                  AS min_doc_id,
       MAX(doc_id)                  AS max_doc_id
FROM documents
GROUP BY lang"""


register("src_pyds_docstats", src_pyds_docstats, SRC_PYDS_DOCSTATS_SQL)
