"""Session-scoped materialized-index cache.

Several operator families share a maintained artifact (shingle postings,
verified near-dup pairs, SRP projections, the hourly rollup tier): at
warehouse scale these are tables a pipeline materializes once and many jobs
read. Locally the analogue is a persisted DataFrame built once per
(SparkSession, sf_dir). One helper instead of a hand-rolled dict per module.
State a query rebuilds on every call is no entry: it is that call's
generation (``iterutil.generation``).

Lifecycle rules (the leaks a long-lived embedding host would otherwise hit):

- entries of DEAD sessions are dropped (their persisted blocks died with the
  SparkContext; keeping references would leak DataFrame objects forever in a
  process that recreates sessions);
- entries evicted while their session is STILL ALIVE are released first,
  freeing executor memory (a session iterating many sf_dirs otherwise
  accumulates persisted blocks without bound — per-name LRU cap below);
- release is CHECKPOINT-AWARE (round 13, verdict r12 #3):
  ``DataFrame.unpersist`` only reaches the Dataset cache manager, but
  ``localCheckpoint`` blocks live on the checkpointed RDD itself and bypass
  it — so eviction also unpersists the underlying RDD of every LogicalRDD
  leaf in the plan (which is exactly where ``iterutil.checkpoint`` parks
  its blocks, truncated or not);
- builds are serialized under a PER-ARTIFACT lock so concurrent first calls
  cannot double-build and leak the loser's persisted blocks, while builds of
  DIFFERENT artifacts may proceed concurrently (the bench warmup overlaps
  independent family-index chains from a thread pool — guide §2.6; a single
  module-wide build lock would serialize them all).
"""

from __future__ import annotations

import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# name -> {(applicationId, sf_dir): df}
_CACHES: dict[str, dict[tuple[str, str], DataFrame]] = {}
_LOCK = threading.RLock()

# (name, applicationId, sf_dir) -> build lock: serializes the two racers of
# ONE artifact without blocking builds of other artifacts.  RLock because a
# builder may legitimately re-enter its own artifact via a nested call.
_BUILD_LOCKS: dict[tuple[str, str, str], threading.RLock] = {}

# live sf_dirs kept per artifact name within one session; oldest evicted
# (and released) beyond this
MAX_SF_DIRS_PER_NAME = 4


def release_blocks(df: DataFrame) -> None:
    """Free every storage block a cached artifact holds, whether it was
    ``persist()``-ed (Dataset cache manager) or ``localCheckpoint``-ed
    (blocks owned by the checkpointed RDD, which ``DataFrame.unpersist``
    does NOT release). Tolerates an already-dead SparkContext."""
    try:
        df.unpersist()
    except Exception:
        pass
    # checkpointed frames (truncated or not) are, or contain, a bare
    # LogicalRDD; the blocks live on the PERSISTED ANCESTOR of its wrapped
    # RDD (the LogicalRDD often wraps a deserializer MapPartitionsRDD over
    # the checkpointed one), so walk a bounded slice of the lineage and
    # unpersist the first RDD on each path whose storage level is set.
    # The walk stops there: a lazy checkpoint that never ran still has its
    # full lineage, and the stored RDDs above it belong to its inputs.
    try:
        plan = df._jdf.queryExecution().analyzed()  # noqa: SLF001
        leaves = plan.collectLeaves()
        frontier = []
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() == "LogicalRDD":
                frontier.append(leaf.rdd())
        seen: set[int] = set()
        for _ in range(16):  # checkpoint ancestors sit 0-2 hops up
            nxt = []
            for rdd in frontier:
                rid = rdd.id()
                if rid in seen:
                    continue
                seen.add(rid)
                if rdd.getStorageLevel().isValid():
                    rdd.unpersist(False)
                    continue
                deps = rdd.dependencies()
                for j in range(deps.size()):
                    nxt.append(deps.apply(j).rdd())
            if not nxt:
                break
            frontier = nxt
    except Exception:  # pragma: no cover - JVM private-API drift safety net
        pass


def session_cached(
    name: str,
    spark: SparkSession,
    sf_dir: str,
    build: Callable[[], DataFrame],
) -> DataFrame:
    """Get-or-build the named artifact for (this session, this sf_dir).

    ``build`` should return an already-persisted (or checkpointed)
    DataFrame; it runs at most once per live session per sf_dir."""
    app = spark.sparkContext.applicationId
    key = (app, sf_dir)
    with _LOCK:
        cache = _CACHES.setdefault(name, {})
        if key in cache:
            return cache[key]
        build_lock = _BUILD_LOCKS.setdefault((name, app, sf_dir), threading.RLock())
    # build OUTSIDE the module lock (Spark jobs run here — possibly many
    # seconds); the per-artifact lock stops double-builds of the same entry.
    # Builder dependency chains (an artifact building another) take locks in
    # dependency order only, so there is no cycle to deadlock on.
    with build_lock:
        with _LOCK:
            if key in cache:
                return cache[key]
        df = build()
        with _LOCK:
            if key in cache:  # lost a race the build lock should prevent;
                release_blocks(df)  # release the duplicate, keep the first
                return cache[key]
            # dead-session entries: blocks are already gone, just drop refs
            for stale in [k for k in cache if k[0] != app]:
                cache.pop(stale)
            cache[key] = df
            # live-session LRU cap: release the oldest surplus entries
            while len(cache) > MAX_SF_DIRS_PER_NAME:
                oldest = next(iter(cache))
                release_blocks(cache.pop(oldest))
            return df


def invalidate(name: str | None = None) -> None:
    """Release and forget cached artifacts — all of them, or one name."""
    with _LOCK:
        names = [name] if name is not None else list(_CACHES)
        for n in names:
            for df in _CACHES.pop(n, {}).values():
                release_blocks(df)
