"""The materialization module (operators/iterutil.py): fan-out, footer
reads, the ``Pins`` owner and the per-call ``generation`` owner (byte
sizing is pinned in test_round14_opt), plus the queries that keep their
per-call persists in a generation."""

from __future__ import annotations

import subprocess
import sys
import textwrap
import time
from pathlib import Path
from types import SimpleNamespace

import pytest

from ad_hoc_olap_query_processing_engine_spark.operators.iterutil import (
    Pins,
    disk_checkpoint,
    footer_rows,
    generation,
    overlap,
)

from .conftest import SF_SMALL


def _stored_rdd_ids(spark) -> set[int]:
    """IDs of RDDs holding storage blocks (block-manager view: sees both
    cache-manager blocks and localCheckpoint blocks)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {infos[i].id() for i in range(len(infos))}


class TestOverlap:
    def test_results_in_argument_order(self):
        def after(delay: float, value: str):
            return lambda: (time.sleep(delay), value)[1]

        # the thunks finish in reverse order; the results must not
        assert overlap(after(0.3, "a"), after(0.15, "b"), after(0, "c")) == [
            "a",
            "b",
            "c",
        ]

    def test_first_error_in_argument_order_is_reraised(self):
        def fail(delay: float, msg: str):
            def thunk():
                time.sleep(delay)
                raise ValueError(msg)

            return thunk

        # the third thunk fails sooner, but the second comes first
        with pytest.raises(ValueError, match="second"):
            overlap(lambda: 1, fail(0.2, "second"), fail(0, "third"))


class TestFooterRows:
    def test_good_file(self, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = tmp_path / "t.parquet"
        pq.write_table(pa.table({"x": list(range(7))}), path)
        assert footer_rows(str(path)) == 7

    def test_missing_file(self, tmp_path):
        assert footer_rows(str(tmp_path / "nope.parquet")) is None

    def test_corrupt_footer(self, tmp_path):
        path = tmp_path / "bad.parquet"
        path.write_bytes(b"PAR1garbagePAR1")
        assert footer_rows(str(path)) is None


def _session(live: bool) -> SimpleNamespace:
    """What a frame's ``sparkSession`` shows of its context: PySpark drops
    the context's JVM handle (``_jsc``) when the context is stopped."""
    return SimpleNamespace(sparkContext=SimpleNamespace(_jsc=object() if live else None))


class _FakePlan:
    def sameResult(self, other) -> bool:
        return self is other


class _FakeFrame:
    """Stands in for a DataFrame of a live session: counts persist/unpersist
    calls; its plan matches no other frame's."""

    sparkSession = _session(live=True)

    def __init__(self) -> None:
        self.unpersisted = 0
        plan = _FakePlan()
        self._jdf = SimpleNamespace(
            queryExecution=lambda: SimpleNamespace(analyzed=lambda: plan)
        )

    def persist(self, level):
        return self

    def unpersist(self):
        self.unpersisted += 1


class TestPins:
    def test_concurrent_pin_and_release_frees_each_frame_once(self):
        """overlap thunks pin into one owner while another thread may
        release it; a lost update would leave a frame that is never freed,
        or free one twice."""
        import sys
        import threading

        pins = Pins()
        frames = [[_FakeFrame() for _ in range(2000)] for _ in range(8)]
        done = threading.Event()

        def pin_all(batch):
            for f in batch:
                pins.persist(f)

        def release_loop():
            while not done.is_set():
                pins.release()

        old = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            releaser = threading.Thread(target=release_loop)
            releaser.start()
            pinners = [threading.Thread(target=pin_all, args=(b,)) for b in frames]
            for t in pinners:
                t.start()
            for t in pinners:
                t.join(timeout=60)
            done.set()
            releaser.join(timeout=60)
            assert not any(t.is_alive() for t in [releaser, *pinners])
        finally:
            sys.setswitchinterval(old)
        pins.release()
        assert all(f.unpersisted == 1 for b in frames for f in b)

    def test_release_frees_both_kinds_and_leaves_kept(self, spark):
        pins = Pins()
        ids0 = _stored_rdd_ids(spark)
        ck = pins.checkpoint(spark.range(100))
        ids1 = _stored_rdd_ids(spark)
        kept_ck = pins.checkpoint(spark.range(50))
        ids2 = _stored_rdd_ids(spark)
        ps = pins.persist(spark.range(30))
        ps.count()
        ids3 = _stored_rdd_ids(spark)
        kept_ps = pins.persist(spark.range(20))
        kept_ps.count()
        ids4 = _stored_rdd_ids(spark)
        ck_ids, kept_ck_ids = ids1 - ids0, ids2 - ids1
        ps_ids, kept_ps_ids = ids3 - ids2, ids4 - ids3
        assert ck_ids and kept_ck_ids and ps_ids and kept_ps_ids

        pins.release(kept_ck, kept_ps)
        after = _stored_rdd_ids(spark)
        assert not (ck_ids | ps_ids) & after
        assert kept_ck_ids | kept_ps_ids <= after
        assert not ps.storageLevel.useDisk and not ps.storageLevel.useMemory
        assert kept_ck.count() == 50 and kept_ps.count() == 20

        # the kept frames stay owned: a later release frees them too
        pins.release()
        assert not (kept_ck_ids | kept_ps_ids) & _stored_rdd_ids(spark)

    def test_release_drops_frames_of_a_stopped_context(self):
        """A frame of a stopped context is dropped without a call into it:
        its blocks died with the context, and the call would raise."""

        class _DeadFrame:
            sparkSession = _session(live=False)

            def persist(self, level):
                return self

            def unpersist(self):
                raise RuntimeError("Cannot call methods on a stopped SparkContext")

        pins = Pins()
        pins.persist(_DeadFrame())
        pins.release()

    def test_persist_release_spares_a_checkpointed_input(self, spark):
        from ad_hoc_olap_query_processing_engine_spark.operators.session_cache import (
            release_blocks,
        )

        ids0 = _stored_rdd_ids(spark)
        base = disk_checkpoint(spark.range(100))  # owned by someone else
        base_ids = _stored_rdd_ids(spark) - ids0
        pins = Pins()
        top = pins.persist(base.selectExpr("id * 2 AS x"))
        top.count()
        pins.release()
        assert not top.storageLevel.useDisk and not top.storageLevel.useMemory
        assert base_ids <= _stored_rdd_ids(spark)
        assert base.count() == 100
        release_blocks(base)


def test_phi_reinvocation_holds_one_invocation_of_group_tables(spark):
    """Compiling Φ queries one after another in a session keeps only the
    latest call's group-table persists, and a frame from an earlier call
    still evaluates to the same rows."""
    from ad_hoc_olap_query_processing_engine_spark.phi import (
        all_phi_queries,
        compile_phi,
    )
    from ad_hoc_olap_query_processing_engine_spark.sources import catalog

    qs = all_phi_queries()
    sales = catalog.sales_df(spark, SF_SMALL)

    def persisted() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    with generation("compile_phi"):
        pass  # an empty call retires what earlier tests compiled
    n0 = persisted()
    first = compile_phi(qs["phi_q2"], sales)
    # read through a derived frame: ``first`` itself first executes after
    # its group table is released, as a late re-read of an earlier result
    rows = sorted(first.select("*").collect())
    for _ in range(2):
        for name in ("phi_q2", "phi_q4", "phi_q6", "phi_q7", "phi_q10"):
            compile_phi(qs[name], sales).write.format("noop").mode(
                "overwrite"
            ).save()
            # at most the two group-table persists of one compile_phi call
            assert persisted() - n0 <= 2, name
    assert sorted(first.collect()) == rows


class TestGeneration:
    def test_concurrent_calls_release_each_superseded_generation_once(self):
        """Concurrent calls of one query swap generations; a lost swap would
        release one generation twice and another never."""
        import threading

        frames: list[_FakeFrame] = []

        def calls():
            for _ in range(300):
                with generation("__test_concurrent") as pins:
                    frames.append(pins.persist(_FakeFrame()))

        old = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            threads = [threading.Thread(target=calls) for _ in range(8)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=60)
            assert not any(t.is_alive() for t in threads)
        finally:
            sys.setswitchinterval(old)
        with generation("__test_concurrent"):
            pass
        assert len(frames) == 2400
        assert all(f.unpersisted == 1 for f in frames)

    def test_previous_generation_is_released_after_the_swap(self, spark):
        with generation("__test_swap") as pins:
            pins.persist(spark.range(30)).count()
        ids0 = _stored_rdd_ids(spark)
        with generation("__test_swap") as pins:
            new = pins.persist(spark.range(40))
            new.count()
            new_ids = _stored_rdd_ids(spark) - ids0
            # the call runs while the previous generation is still live
            assert ids0 <= _stored_rdd_ids(spark)
        after = _stored_rdd_ids(spark)
        assert new_ids and new_ids <= after
        assert len(ids0 - after) == 1  # the first call's persist is gone
        with generation("__test_swap"):
            pass
        assert not new_ids & _stored_rdd_ids(spark)

    def test_a_plan_persisted_again_is_handed_over(self, spark):
        """A persist of an already-cached plan adds no cache entry: the new
        generation reads the previous one's, which must stay."""
        with generation("__test_handover") as pins:
            before = _stored_rdd_ids(spark)
            pins.persist(spark.range(25).selectExpr("id * 3 AS x")).count()
            ids = _stored_rdd_ids(spark) - before
        with generation("__test_handover") as pins:
            again = pins.persist(spark.range(25).selectExpr("id * 3 AS x"))
        assert ids and ids <= _stored_rdd_ids(spark)
        assert again.storageLevel.useMemory
        assert again.count() == 25
        with generation("__test_handover"):
            pass
        assert not ids & _stored_rdd_ids(spark)

    def test_a_raising_call_releases_its_pins_and_keeps_the_live_ones(self, spark):
        with generation("__test_raise") as pins:
            live = pins.persist(spark.range(11))
            live.count()
        with pytest.raises(ValueError), generation("__test_raise") as pins:
            failed = pins.persist(spark.range(12))
            failed.count()
            raise ValueError
        assert not failed.storageLevel.useMemory
        assert live.storageLevel.useMemory
        with generation("__test_raise"):
            pass
        assert not live.storageLevel.useMemory


@pytest.mark.parametrize("name", ["sim_srp_ann", "dedup_embedding"])
def test_ann_index_persist_is_the_calls_generation(spark, name):
    """The bucket-index persist of each call is owned: a second call leaves
    no second persisted frame, and the first call's frame still collects
    the same rows."""
    from ad_hoc_olap_query_processing_engine_spark.operators import iterutil, similarity

    def persisted() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    first = getattr(similarity, name)(spark, SF_SMALL)
    rows = sorted(first.collect())
    n1 = persisted()
    second = getattr(similarity, name)(spark, SF_SMALL)
    assert sorted(second.collect()) == rows
    assert persisted() <= n1
    assert sorted(first.collect()) == rows
    (index,) = iterutil._LIVE[name].persisted()
    assert index.storageLevel.useMemory  # the second call reads a cached index


def test_owners_survive_a_session_restart():
    """Compiling a Φ query in a new session after the previous one was
    stopped: the previous call's group tables belong to the stopped
    context and are dropped, not unpersisted through it."""
    script = textwrap.dedent(
        f"""
        from ad_hoc_olap_query_processing_engine_spark.phi import (
            all_phi_queries,
            compile_phi,
        )
        from ad_hoc_olap_query_processing_engine_spark.session import get_spark
        from ad_hoc_olap_query_processing_engine_spark.sources import catalog

        q = all_phi_queries()["phi_q2"]
        for _ in range(2):
            spark = get_spark(app_name="restart", cpus=1)
            print(compile_phi(q, catalog.sales_df(spark, {SF_SMALL!r})).count())
            spark.stop()
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=Path(__file__).resolve().parents[1],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    first, second = out.stdout.split()
    assert first == second and int(first) > 0
