"""Benchmark of the Φ engine: one process, one closed-loop client.

    python3 olapbench/run.py --workload phi_adhoc --seed 1 --seconds 10 --trace 0

Run it from the repository root.  Each run generates its inputs from the
seed (``datagen``) and works in a directory of its own
(``.olapbench/run-<pid>``, removed at exit).  It launches Spark on
``local[<cores>]`` and touches the tables once, untimed, to start the JVM
and load Spark's classes.  Then it sets up twice, each time in a fresh Spark
session: it touches the tables, writes the ``sales`` layout and warms the
workload's family indexes.  Then it runs the workload's rounds of
invocations one after another, each built and forced through a noop write:
first its ``warm_rounds``, untimed, then at least its ``min_rounds``, and
more until ``--seconds`` of timed wall have passed, always finishing the
round in progress.  Every timed result is compared with DuckDB after the
timed loop.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` they are the per-layer ones, read at the
call boundaries of the benchmark's own code (see ``probes``), and the
invocations additionally pay for those readings and for an explicit
Catalyst planning call, which the run reports as its overhead.
"""

from __future__ import annotations

import argparse
import itertools
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "ad_hoc_olap_query_processing_engine_spark"
SF = 0.01
SETUP_REPS = 2
CORES = len(os.sched_getaffinity(0))
TOUCH_TABLES = ("lineitem", "orders", "customer")
TAIL_BEYOND = 5  # samples that must lie beyond the reported tail percentile

END_TO_END_UNITS = {
    "setup_s": "s", "queries_per_s": "1/s", "latency_p50_s": "s",
    "latency_tail_s": "s", "storage_held_mb": "MB", "rss_peak_mb": "MB",
}
# the modules of the queries in the first two rounds of families_read, the
# rounds every run completes
OPERATOR_MODULES = (
    "advanced", "olap_gapfill", "timeseries", "scalar", "text", "dedup",
    "similarity", "graph", "multimodal", "pipeline", "sampling", "pydatasource",
)
WARM_CHAINS = ("graph.purchase", "sim.srp", "text")
SPARK_COUNTERS = ("jobs", "stages", "tasks", "tasks_failed", "executor_run_s",
                  "executor_cpu_s", "jvm_gc_s", "shuffle_read_mb",
                  "shuffle_write_mb", "spill_mb")
SPAN_FIELDS = ["name", "build_s", "plan_s", "write_s", "jobs", "stages", "tasks"]
# self times that together make up an invocation's timed wall
COVERED_LAYERS = ("phi.parser.parse_s", "phi.planner.compile_s",
                  "operators.construct_s", "spark.catalyst.plan_s", "spark.write_s")
GV_STRATEGIES = {"cond_agg": "cond_agg", "window": "window",
                 "fact_window": "fact_window", "group_join": "group_join",
                 "join": "join_agg"}


def per_layer_units() -> dict[str, str]:
    units = {
        "phi.parser.parse_s": "s", "phi.planner.compile_s": "s",
        "phi.planner.compile_jobs": "count",
        **{f"phi.planner.gvs.{g}": "count" for g in GV_STRATEGIES.values()},
        "session.start_s": "s",
        "sources.catalog.sales_layout_s": "s", "sources.catalog.load_tables_s": "s",
        "operators.warmup.wall_s": "s",
        **{f"operators.warmup.{c}_s": "s" for c in WARM_CHAINS},
        "operators.construct_s": "s", "operators.construct_jobs": "count",
        **{f"operators.{m}.exec_s": "s" for m in OPERATOR_MODULES},
        "storage.persisted_rdds": "count", "storage.mem_mb": "MB",
        "storage.disk_mb": "MB",
        **{f"spark.{c}": ("count" if c in ("jobs", "stages", "tasks", "tasks_failed")
                          else "MB" if c.endswith("_mb") else "s")
           for c in SPARK_COUNTERS},
        "spark.core_busy_frac": "fraction", "spark.catalyst.plan_s": "s",
        "spark.write_s": "s",
        "python.worker_cpu_s": "s", "python.worker_start_s": "s",
        "trace.invocations": "count", "trace.latency_p50_s": "s",
        "trace.coverage_frac": "fraction",
        "trace.overhead_s": "s", "trace.overhead_frac": "fraction",
    }
    return units


def _beta_cf(a: float, b: float, x: float) -> float:
    """Continued fraction of the incomplete beta function (modified Lentz)."""
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 300):
        for num in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                    -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-14:
            break
    return h


def beta_cdf(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _beta_cf(a, b, x) / a
    return 1.0 - front * _beta_cf(b, a, 1.0 - x) / b


def percentile(values: list[float], pct: float) -> float:
    """Harrell-Davis estimate of a percentile: a beta-weighted mean of all
    order statistics.  A run's queries differ in cost, so their latencies
    have gaps; a single order statistic jumps across a gap when one query
    moves, while this estimate moves smoothly."""
    xs = sorted(values)
    n = len(xs)
    if n == 1:
        return xs[0]
    p = pct / 100.0
    a, b = p * (n + 1), (1.0 - p) * (n + 1)
    cdf = [beta_cdf(a, b, i / n) for i in range(n + 1)]
    return sum(x * (hi - lo) for x, lo, hi in zip(xs, cdf, cdf[1:]))


def tail_pct(n: int) -> int:
    """Highest whole percentile with at least TAIL_BEYOND samples beyond
    it, never below the median."""
    return max(50, math.floor(100.0 * (n - TAIL_BEYOND) / n)) if n else 50


# --------------------------------------------------------------------------
# process environment and Spark lifecycle
# --------------------------------------------------------------------------


def prepare_env(run_dir: str) -> None:
    """Private temp and working directories, and a PYTHONPATH that Spark's
    Python workers inherit (they import the package for pandas UDFs)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.chdir(run_dir)


def start_spark(run_dir: str):
    from ad_hoc_olap_query_processing_engine_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    spark = get_spark(
        app_name="olapbench",
        cpus=CORES,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # a fixed, pre-touched heap keeps the peak RSS from depending on
            # when the JVM decides to grow it
            "spark.driver.memory": "1g",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Xms1g -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} "
                f"-Dderby.system.home={run_dir}"),
            # the status store must still hold a query's jobs when it is read
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:  # accumulator-cleanup errors are noise, not results
        jvm = spark._jvm  # noqa: SLF001
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.ContextCleaner", jvm.org.apache.logging.log4j.Level.OFF)
    except Exception:
        pass
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    try:
        spark.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()


# --------------------------------------------------------------------------
# setup
# --------------------------------------------------------------------------


def end_session(spark) -> None:
    """Drop the engine's cached frames of this session, then stop it; the
    JVM stays up for the next session."""
    from ad_hoc_olap_query_processing_engine_spark.operators import session_cache

    session_cache.invalidate()
    spark.stop()


def warm_python_workers(spark, data_dir: str) -> None:
    """Start the pandas/Arrow worker daemon and the Python data-source
    planner, as the engine's own bench does before timing queries.  This is
    PySpark's start-up, not the engine's, so it is done once, after the
    timed set-ups."""
    from ad_hoc_olap_query_processing_engine_spark.sources.pydatasource import (
        read_pyrowgroup,
    )

    probe = spark.range(64)
    probe.mapInPandas(lambda it: it, probe.schema).write.format("noop").mode(
        "overwrite").save()
    read_pyrowgroup(spark, os.path.join(data_dir, "nation.parquet"),
                    columns=["n_nationkey"]).write.format("noop").mode("overwrite").save()


def touch_tables(spark, data_dir: str) -> None:
    from ad_hoc_olap_query_processing_engine_spark.sources import catalog

    for name in TOUCH_TABLES:
        catalog.load_table(spark, name, data_dir).count()


def setup_once(run_dir: str, workload, data_dir: str, sales_dir: str):
    """Start a session and set it up; returns it with the phase times."""
    from ad_hoc_olap_query_processing_engine_spark.operators import warmup
    from ad_hoc_olap_query_processing_engine_spark.sources import catalog

    out: dict[str, float] = {}
    start = time.perf_counter()
    spark = start_spark(run_dir)
    t0 = time.perf_counter()
    out["session.start_s"] = t0 - start
    touch_tables(spark, data_dir)
    t1 = time.perf_counter()
    catalog.materialize_sales(spark, data_dir, cache_dir=sales_dir)
    t2 = time.perf_counter()
    out["sources.catalog.load_tables_s"] = t1 - t0
    out["sources.catalog.sales_layout_s"] = t2 - t1
    if workload.warm_modules:
        built = warmup.warm_family_indexes(spark, data_dir, modules=workload.warm_modules)
        out["operators.warmup.wall_s"] = time.perf_counter() - t2
        chain_of = {f"{m}.{a}": c for c, m, a in warmup._BUILDERS}  # noqa: SLF001
        for builder, secs in built.items():
            key = f"operators.warmup.{chain_of[builder]}_s"
            out[key] = out.get(key, 0.0) + secs
    out["total_s"] = time.perf_counter() - start
    return spark, out


# --------------------------------------------------------------------------
# the timed loop and the output checks
# --------------------------------------------------------------------------


def open_oracle(data_dir: str):
    import duckdb

    from ad_hoc_olap_query_processing_engine_spark.sources import catalog

    con = duckdb.connect()
    for name in catalog.TABLES:
        path = os.path.join(data_dir, f"{name}.parquet")
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    # Φ specs are rendered against ``sales``; derive its rows once
    con.sql(f"CREATE TABLE sales AS {catalog.SALES_VIEW_SQL}")
    return con


def warm_up(rounds, n_rounds: int) -> tuple[int, list[str]]:
    """Run the first ``n_rounds`` rounds untimed; returns the invocations
    attempted and the names of those that failed."""
    attempted, failures = 0, []
    for rnd in itertools.islice(rounds, n_rounds):
        for inv in rnd:
            attempted += 1
            try:
                inv.build().write.format("noop").mode("overwrite").save()
            except Exception as exc:
                failures.append(inv.name)
                print(f"olapbench: warm-up {inv.name} failed: {exc!r}"[:500], file=sys.stderr)
    return attempted, failures


def run_loop(spark, rounds, min_rounds: int, seconds: float, trace: bool,
             layers: dict) -> dict:
    from probes import StatusStore, worker_cpu_s

    store = StatusStore(spark) if trace else None
    latencies: list[float] = []
    spans: list[list] = []  # trace: one row per invocation, see SPAN_FIELDS
    failures: list[str] = []
    done: list[tuple] = []  # (invocation, frame) of every completed one
    attempted = 0
    timed = 0.0
    overhead = 0.0
    cap = time.perf_counter() + 4 * seconds + 60
    def invocations():
        for i, rnd in enumerate(rounds):
            if i >= min_rounds and timed >= seconds:
                return
            yield from rnd

    for inv in invocations():
        if time.perf_counter() > cap:
            break
        attempted += 1
        if trace:
            o0 = time.perf_counter()
            m0, py0 = store.mark(), worker_cpu_s(store.jvm_pid)
            overhead += time.perf_counter() - o0
        t0 = time.perf_counter()
        try:
            df = inv.build()
            t1 = time.perf_counter()
            if trace:
                m1 = store.mark()
                df._jdf.queryExecution().executedPlan()  # noqa: SLF001
            t2 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
        except Exception as exc:
            timed += time.perf_counter() - t0
            failures.append(inv.name)
            print(f"olapbench: {inv.name} failed: {exc!r}"[:500], file=sys.stderr)
            continue
        latencies.append(t3 - t0)
        timed += t3 - t0
        done.append((inv, df))
        if trace:
            o0 = time.perf_counter()
            m2 = store.mark()
            build_work, exec_work = store.work(m0, m1), store.work(m1, m2)
            py_cpu = worker_cpu_s(store.jvm_pid) - py0
            record(layers, inv, t1 - t0, t2 - t1, t3 - t2, build_work, exec_work,
                   py_cpu)
            spans.append([inv.name, round(t1 - t0, 4), round(t2 - t1, 4), round(t3 - t2, 4)]
                         + [int(build_work[k] + exec_work[k]) for k in ("jobs", "stages", "tasks")])
            overhead += time.perf_counter() - o0 + (t2 - t1)
    return {"latencies": latencies, "failures": failures, "attempted": attempted,
            "done": done, "spans": spans, "overhead_s": overhead}


def check_outputs(done: list[tuple], con) -> list[str]:
    """Names of the completed invocations whose result differs from DuckDB's.
    Runs after the timed loop, several checks at a time: Spark re-executes
    each frame while DuckDB evaluates its oracle on a cursor of its own."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from workloads import frames_match

    resolving = threading.Lock()  # the registry resolves its oracles one at a time

    def check(inv, df) -> bool:
        try:
            with resolving:
                sql = inv.oracle_sql()
            return frames_match(df.toPandas(), con.cursor().sql(sql).df())
        except Exception as exc:
            print(f"olapbench: check of {inv.name} raised {exc!r}"[:500], file=sys.stderr)
            return False

    with ThreadPoolExecutor(CORES) as pool:
        oks = list(pool.map(lambda pair: check(*pair), done))
    bad = [inv.name for (inv, _), ok in zip(done, oks) if not ok]
    for name in bad:
        print(f"olapbench: {name} does not match DuckDB", file=sys.stderr)
    return bad


def record(layers, inv, build_s, plan_s, exec_s, build_work, exec_work, py_cpu):
    def add(key, val):
        layers[key] = layers.get(key, 0.0) + val

    if inv.layer == "phi":
        add("phi.parser.parse_s", inv.splits["parse"])
        add("phi.planner.compile_s", inv.splits["compile"])
        add("phi.planner.compile_jobs", build_work["jobs"])
        for strategy in inv.census():
            add(f"phi.planner.gvs.{GV_STRATEGIES[strategy]}", 1)
    else:
        add("operators.construct_s", build_s)
        add("operators.construct_jobs", build_work["jobs"])
        add(f"operators.{inv.layer}.exec_s", exec_s)
    add("spark.catalyst.plan_s", plan_s)
    add("spark.write_s", exec_s)
    add("python.worker_cpu_s", py_cpu)
    for key in SPARK_COUNTERS:
        add(f"spark.{key}", build_work[key] + exec_work[key])


# --------------------------------------------------------------------------
# main
# --------------------------------------------------------------------------


def bench(args, run_dir: str) -> tuple[dict, dict]:
    import bench as host  # the engine's own bench: host fingerprint helpers

    from datagen import generate
    from probes import StatusStore, peak_rss_mb
    from workloads import WORKLOADS

    workload = WORKLOADS[args.workload]
    data_dir = os.path.join(run_dir, "data")
    phases = {"start": time.perf_counter()}
    generate(data_dir, args.seed, SF)
    os.environ["CROSSCHECK_SF_DIR"] = data_dir  # lazy registry oracles
    fingerprint = host.host_fingerprint_start()

    phases["datagen"] = time.perf_counter()
    spark, reps = None, []
    try:
        # the first session launches the JVM and its first reads load Spark's
        # classes; that is PySpark's start-up, so it stays out of setup_s
        spark = start_spark(run_dir)
        touch_tables(spark, data_dir)
        phases["launch"] = time.perf_counter()
        for rep in range(SETUP_REPS):
            end_session(spark)
            sales_dir = os.path.join(run_dir, f"sales_{rep}")
            spark, timing = setup_once(run_dir, workload, data_dir, sales_dir)
            reps.append(timing)
        phases["setup"] = time.perf_counter()
        if workload.warm_modules:  # the family readers run pandas UDFs
            warm_python_workers(spark, data_dir)
        phases["python_workers"] = time.perf_counter()
        layers: dict[str, float] = {}
        rounds = workload.rounds(spark, data_dir, sales_dir, args.seed)
        warm_attempted, warm_failures = warm_up(rounds, workload.warm_rounds)
        phases["warmup"] = time.perf_counter()
        loop = run_loop(spark, rounds, workload.min_rounds, args.seconds,
                        bool(args.trace), layers)
        loop["attempted"] += warm_attempted
        loop["failures"] += warm_failures
        store = StatusStore(spark)
        storage = store.storage()
        rss = peak_rss_mb(store.jvm_pid, os.getpid())
        phases["loop"] = time.perf_counter()
        loop["failures"] += check_outputs(loop["done"], open_oracle(data_dir))
        phases["checks"] = time.perf_counter()
    finally:
        if spark is not None:
            stop_spark(spark)
    phases["stop"] = time.perf_counter()
    marks = list(phases.values())
    phases_s = {k: round(b - a, 2) for k, a, b in zip(list(phases)[1:], marks, marks[1:])}

    lat = loop["latencies"]
    n = len(lat)
    if args.trace:
        units = per_layer_units()
        values = dict.fromkeys(units, 0.0)
        for key in units:
            if key.startswith(("session.", "sources.", "operators.warmup.")):
                values[key] = statistics.median(r.get(key, 0.0) for r in reps)
        for key, val in layers.items():
            if key in values:
                values[key] = val
        values["python.worker_start_s"] = phases["python_workers"] - phases["setup"]
        for key in ("persisted_rdds", "mem_mb", "disk_mb"):
            values[f"storage.{key}"] = storage[key]
        exec_wall = layers.get("spark.write_s", 0.0)
        values["spark.core_busy_frac"] = (
            values["spark.executor_run_s"] / (exec_wall * CORES) if exec_wall else 0.0)
        values["trace.invocations"] = float(n)
        values["trace.latency_p50_s"] = percentile(lat, 50) if n else 0.0
        self_s = sum(values[k] for k in COVERED_LAYERS)
        values["trace.coverage_frac"] = self_s / sum(lat) if n else 0.0
        values["trace.overhead_s"] = loop["overhead_s"]
        values["trace.overhead_frac"] = loop["overhead_s"] / sum(lat) if n else 0.0
    else:
        units = dict(END_TO_END_UNITS)
        values = {
            "setup_s": statistics.median(r["total_s"] for r in reps),
            "queries_per_s": n / sum(lat) if n else 0.0,
            "latency_p50_s": percentile(lat, 50) if n else 0.0,
            "latency_tail_s": percentile(lat, tail_pct(n)) if n else 0.0,
            "storage_held_mb": storage["mem_mb"] + storage["disk_mb"],
            "rss_peak_mb": rss,
        }
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "invocations": n, "tail_pct": tail_pct(n), "phases_s": phases_s,
        "latencies_s": [round(x, 4) for x in lat],
        "setup_reps": [{k: round(v, 3) for k, v in r.items()} for r in reps],
        "failures": loop["failures"],
        "span_fields": SPAN_FIELDS,
        "spans": loop["spans"],
        "host": host.host_fingerprint_finish(fingerprint),
    }
    result = {
        "correct": not loop["failures"] and n > 0,
        "attempted": loop["attempted"],
        "failed": len(loop["failures"]),
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }
    return detail, result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"olapbench: {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"olapbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".olapbench", f"run-{os.getpid()}")
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    prepare_env(run_dir)
    try:
        detail, result = bench(args, run_dir)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
