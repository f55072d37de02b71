"""Re-invocation check: run each registered query twice in one Spark
session and record, per query,

- whether the two results have the same value hash (``crosscheck.canon``),
- the session's persistent-RDD count after each call (read after a Python
  and JVM garbage collection, so it counts what something still holds),
- whether the first call's frame, read again after the second call, gives
  the same rows or raises (a checkpoint released with its generation
  raises Spark's "checkpoint block not found").

Usage: python scripts/reinvoke.py [--out FILE] [--cpus N] [name ...]
(default: every registered query).  Data: ``$REINVOKE_SF_DIR``, default the
sf0.001 sibling of crosscheck's sf0.01 directory.  Prints one line per
query and writes the JSON record to ``--out`` (default stdout).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)  # this checkout's package

from crosscheck import SF_DIR as ORACLE_SF_DIR  # noqa: E402
from crosscheck import canon  # noqa: E402

SF_DIR = os.environ.get(
    "REINVOKE_SF_DIR", os.path.join(os.path.dirname(ORACLE_SF_DIR), "sf0.001")
)


def value_hash(df) -> str:
    return hashlib.sha256(canon(df.toPandas()).to_csv(index=False).encode()).hexdigest()[:16]


def held_rdds(spark) -> int:
    from ad_hoc_olap_query_processing_engine_spark.operators.iterutil import (
        reclaim_shuffles,
    )

    reclaim_shuffles(spark.range(1))  # Python gc, then a JVM gc
    time.sleep(0.2)  # the context cleaner drops collected RDDs asynchronously
    return spark.sparkContext._jsc.getPersistentRDDs().size()  # noqa: SLF001


def reason(exc: BaseException) -> str:
    text = str(exc)
    if "Checkpoint block" in text and "not found" in text:
        return "checkpoint block not found"
    return f"{type(exc).__name__}: {text.splitlines()[0][:300] if text else ''}"


def reinvoke(spark, run) -> dict:
    try:
        first = run(spark, SF_DIR)
        h1 = value_hash(first)
        n1 = held_rdds(spark)
        second = run(spark, SF_DIR)
        h2 = value_hash(second)
        n2 = held_rdds(spark)
    except Exception as exc:  # the query itself does not run here
        return {"error": reason(exc)}
    rec = {"same_hash": h1 == h2, "persistent_rdds": [n1, n2]}
    try:
        rec["first_frame_after_second"] = (
            "same rows" if value_hash(first) == h1 else "different rows"
        )
    except Exception as exc:
        rec["first_frame_after_second"] = reason(exc)
    return rec


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="*")
    ap.add_argument("--out")
    ap.add_argument("--cpus", type=int, default=4)
    args = ap.parse_args()
    # Spark's Python workers import the package too (pandas UDFs)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )

    import __spark_entry__ as entry
    from ad_hoc_olap_query_processing_engine_spark.session import get_spark

    qs = entry.queries()
    names = args.names or list(qs)
    spark = get_spark(app_name="reinvoke", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {}
    for name in names:
        out[name] = reinvoke(spark, qs[name])
        print(f"{name}: {json.dumps(out[name])}", file=sys.stderr, flush=True)
    spark.stop()
    ran = [r for r in out.values() if "error" not in r]
    summary = {
        "sf_dir": os.path.basename(SF_DIR),
        "queries": len(out),
        "ran": len(ran),
        "same_hash": sum(r["same_hash"] for r in ran),
        "rdds_rose": sorted(n for n, r in out.items() if "error" not in r
                            and r["persistent_rdds"][1] > r["persistent_rdds"][0]),
        "errors": {n: r["error"] for n, r in out.items() if "error" in r},
    }
    text = json.dumps({"summary": summary, "queries": out}, indent=1, sort_keys=True)
    if args.out:
        with open(args.out, "w", encoding="utf-8") as f:
            f.write(text + "\n")
    else:
        print(text)
    return 0 if len(ran) == summary["same_hash"] and not summary["rdds_rose"] else 1


if __name__ == "__main__":
    sys.exit(main())
