"""The materialization module: the one way to checkpoint or pin a frame,
overlap blocking jobs, size a working set from bytes and read a parquet
footer.

Release rule (``Pins``): a frame is freed the way it was pinned.  A
checkpoint's blocks live on its RDD, which ``DataFrame.unpersist`` cannot
reach, so its owner frees it with ``session_cache.release_blocks``.  A
persist is freed with a plain ``unpersist()``: ``release_blocks`` walks
every LogicalRDD leaf of the plan, so on a persisted frame it would also
free checkpointed INPUTS that belong to someone else.  A frame of a
stopped SparkContext is dropped without a call into it: its blocks died
with the context.  Every checkpoint (``checkpoint``, the one localCheckpoint
call) belongs to a generation, to the session cache or to a loop's ``Pins``.

Per-call state (``generation``): a query pins what it keeps between calls
into its call's ``Pins``; when the call returns, that ``Pins`` becomes the
query's live generation, and only then is the previous one released (swap,
then release).  A frame kept from an earlier call recomputes if it was
persisted and cannot be read if it was checkpointed.

Iteration-safe checkpointing: ``Dataset.checkpoint`` (and
``localCheckpoint``) captures the checkpointed PHYSICAL plan's metadata —
output partitioning / ordering expressions — into the ``LogicalRDD`` it
returns.  In an iterative driver loop (connected components, PageRank,
k-core, Lloyd rounds, BPE merges) each round's LogicalRDD then embeds the
previous round's captured metadata, the structure NESTS round over round,
and Catalyst traversals over it go EXPONENTIAL: measured on a 60-node path
graph, round time was flat at ~0.6 s through round 6 and then ×~7 per
round (0.6 → 2.0 → 8.0 → 42 → 265 s) with a CONSTANT logical plan string,
identical with AQE off and with an extra repartition.  Both planning and
execution blow up, because both walk the nested metadata.

``checkpoint(df, truncate=True)`` cures it: materialize via localCheckpoint
as before, then rebuild the frame as a BARE LogicalRDD over the same
materialized rows (``internalCreateDataFrame`` — the same JVM constructor
PySpark's own ``createDataFrame`` uses), which carries no captured
partitioning/ordering.  Zero data movement, JVM-side only; losing the
partitioning metadata costs nothing here because every consumer shuffles by
its own join/group keys anyway.  Falls back to the plain checkpoint if the
internal constructor ever moves.
"""

from __future__ import annotations

import threading
from collections import defaultdict
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType
from pyspark.storagelevel import StorageLevel

WORK_BYTES_PER_PART = 32 << 20  # guide §2.2: partitions sized by bytes


def reclaim_shuffles(df: DataFrame) -> None:
    """Nudge the JVM so Spark's ContextCleaner reclaims shuffle files whose
    RDDs are no longer referenced.  Long iterative jobs otherwise carry
    EVERY upstream stage's shuffle files to job end, because a 48g heap
    that is barely used never runs a full GC and the cleaner is driven by
    weak references: at the sf100 probe the dead LSH-pipeline shuffles
    (~35 GB) starved the CC rounds of local scratch (ENOSPC).  On cluster
    NVMe this is latency-neutral housekeeping; on bounded scratch it is
    the difference between fitting and failing.

    Order matters: Py4J pins a JVM-side strong reference for every object
    handle Python still holds, and those are released by PYTHON
    finalizers — so collect Python first, then ask the JVM to GC (which
    lets the weak-reference-driven ContextCleaner enqueue the dead
    shuffles/RDDs for deletion)."""
    import gc

    gc.collect()
    try:
        df.sparkSession.sparkContext._jvm.System.gc()  # noqa: SLF001
    except Exception:  # pragma: no cover - cleanup is best-effort
        pass


def checkpoint(
    df: DataFrame, eager: bool = True, disk: bool = False, truncate: bool = False
) -> DataFrame:
    """localCheckpoint, eager or lazy, optionally truncated (module doc), at
    the default level or DISK_ONLY (round-11 sf100 fix: memory blocks filled
    the storage pool mid-stage, UNABLE_TO_ACQUIRE_MEMORY)."""
    c = df.localCheckpoint(eager, StorageLevel.DISK_ONLY if disk else None)
    if not truncate:
        return c
    try:
        spark = c.sparkSession
        jdf = spark._jsparkSession.internalCreateDataFrame(  # noqa: SLF001
            c._jdf.queryExecution().toRdd(), c._jdf.schema(), False
        )
        return DataFrame(jdf, spark)
    except Exception:  # pragma: no cover - private-API drift safety net
        return c


def _stopped(df: DataFrame) -> bool:
    """True for a frame of a stopped SparkContext (PySpark drops the
    context's JVM handle at ``stop()``)."""
    return df.sparkSession.sparkContext._jsc is None  # noqa: SLF001


def _analyzed(df: DataFrame) -> Any:
    return df._jdf.queryExecution().analyzed()  # noqa: SLF001


class Pins:
    """Owner of pinned frames.  ``release(*keep)`` frees every owned frame
    not in ``keep`` (by identity) the way it was pinned, and keeps the
    kept ones owned.  Thread-safe: ``overlap`` thunks pin concurrently."""

    def __init__(self) -> None:
        self._owned: list[tuple[DataFrame, bool]] = []  # (frame, checkpointed)
        self._lock = threading.Lock()

    def _own(self, df: DataFrame, checkpointed: bool) -> DataFrame:
        with self._lock:
            self._owned.append((df, checkpointed))
        return df

    def checkpoint(self, df: DataFrame, **how: bool) -> DataFrame:
        return self._own(checkpoint(df, **how), True)

    def persist(
        self, df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK
    ) -> DataFrame:
        return self._own(df.persist(level), False)

    def release(self, *keep: DataFrame) -> None:
        from .session_cache import release_blocks

        with self._lock:
            owned, self._owned, freed = self._owned, [], []
            for df, checkpointed in owned:
                kept = any(df is k for k in keep)
                (self._owned if kept else freed).append((df, checkpointed))
        for df, checkpointed in freed:
            if _stopped(df):
                continue
            if checkpointed:
                release_blocks(df)
            else:
                df.unpersist()

    def persisted(self) -> list[DataFrame]:
        with self._lock:
            return [df for df, checkpointed in self._owned if not checkpointed]


# query name -> its live generation (the Pins of its latest finished call)
_LIVE: defaultdict[str, Pins] = defaultdict(Pins)
_LIVE_LOCK = threading.Lock()


@contextmanager
def generation(name: str) -> Iterator[Pins]:
    """The per-call owner of query ``name`` (see module doc).  A call that
    raises releases its own pins and leaves the live generation.  A persist
    of an already-cached plan adds no cache entry, so a previous frame whose
    plan the new generation persisted again is handed over, not released."""
    pins = Pins()
    try:
        yield pins
    except BaseException:
        pins.release()
        raise
    with _LIVE_LOCK:
        old, _LIVE[name] = _LIVE[name], pins
    plans = [_analyzed(df) for df in pins.persisted()]
    shared = [
        df
        for df in old.persisted()
        if not _stopped(df) and any(_analyzed(df).sameResult(p) for p in plans)
    ]
    old.release(*shared)


def overlap(*thunks: Callable[[], Any]) -> list[Any]:
    """Run independent blocking jobs (eager checkpoints, counts, writes)
    concurrently (guide §2.6: actions are sequential only because the
    driver calls them sequentially).  Results come back in argument order;
    the first failing thunk's error, in argument order, is re-raised."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
        return [f.result() for f in futures]


def work_partitions(n_rows: int, row_bytes: int, session_parts: int) -> int:
    """Scale-adaptive partition count for a working set: grows with
    measured data (~32 MB/partition), clamped to the session's shuffle
    width, never below 1 — a few-MB bench edge list gets one partition,
    100 TB a wide loop."""
    return max(1, min(session_parts, (n_rows * row_bytes) // WORK_BYTES_PER_PART + 1))


def footer_rows(path: str) -> int | None:
    """Row count from a parquet footer (driver-side file read, no Spark
    job), or None if it cannot be read: OSError for a missing file,
    pyarrow.ArrowInvalid (a ValueError) for a corrupt one, ImportError."""
    try:
        import pyarrow.parquet as pq

        return int(pq.ParquetFile(path).metadata.num_rows)
    except (OSError, ValueError, ImportError):
        return None


def footer_arrow_schema(path: str):
    """Arrow schema from a parquet footer (driver-side file read, no Spark
    job), or None if it cannot be read (the errors of :func:`footer_rows`)."""
    try:
        import pyarrow.parquet as pq

        return pq.read_schema(path)
    except (OSError, ValueError, ImportError):
        return None


def _is_nanos(t) -> bool:
    import pyarrow as pa

    return pa.types.is_timestamp(t) and t.unit == "ns"


def _read_alike(t) -> bool:
    """False where Spark's parquet reader types a column otherwise than
    ``from_arrow_type``: durations (bigint), nulls (int), times (rejected)
    and a nanos timestamp nested in another type (bigint)."""
    import pyarrow as pa

    if pa.types.is_duration(t) or pa.types.is_time(t) or pa.types.is_null(t) or _is_nanos(t):
        return False
    return all(_read_alike(t.field(i).type) for i in range(t.num_fields))


def footer_schema(path: str) -> tuple[StructType | None, list[str]]:
    """The schema Spark's parquet reader infers for ``path``, taken from the
    footer instead of a schema-inference job, and the file's nanos timestamp
    columns, typed bigint as ``spark.sql.legacy.parquet.nanosAsLong`` reads
    them.  The schema is None when the footer cannot be read or holds a type
    that does not map the way Spark reads it (then Spark must infer it); the
    nanos columns are [] when the footer cannot be read."""
    arrow = footer_arrow_schema(path)
    if arrow is None:
        return None, []
    import pyarrow as pa
    from pyspark.errors import PySparkTypeError
    from pyspark.sql.pandas.types import from_arrow_schema

    nanos = [f.name for f in arrow if _is_nanos(f.type)]
    arrow = pa.schema([f.with_type(pa.int64()) if f.name in nanos else f for f in arrow])
    if not all(_read_alike(f.type) for f in arrow):
        return None, nanos
    try:
        return from_arrow_schema(arrow, prefer_timestamp_ntz=True), nanos
    except PySparkTypeError:  # unsigned ints, float16, ...
        return None, nanos
