"""Ad-hoc driver-style cross-check: run queries() vs oracle_sql() at sf0.01
and compare exactly (the driver hash-matches values — no tolerance).

Usage: python scripts/crosscheck.py [name ...]   (default: all)
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

# this checkout's root, so a copy of the repo imports its own package
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ad_hoc_olap_query_processing_engine_spark.oracle_lint import TABLES, bad_columns

# overridable so the sf1 scale sweep (scripts/scaleup.py) can reuse this
# harness against the in-repo scaled data
SF_DIR = os.environ.get("CROSSCHECK_SF_DIR", "/root/testdata/sf0.01")


def lint_oracle_types(con, sql: str) -> None:
    # shared bind-time type lint (ad_hoc_olap_query_processing_engine_spark/oracle_lint.py):
    # HUGEINT/DECIMAL silently coerce to float64/object in .df(), so the
    # pandas value-compare below is structurally blind to them
    bad = bad_columns(con, sql)
    if bad:
        raise AssertionError(
            f"oracle outputs driver-hash-unsafe DuckDB types {bad}; CAST to BIGINT/DOUBLE/..."
        )


def canon(df: pd.DataFrame) -> pd.DataFrame:
    import decimal

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            for v in df[c]:
                if isinstance(v, decimal.Decimal):
                    raise AssertionError(
                        f"column {c} holds decimal.Decimal — driver-hash-unsafe; CAST the oracle"
                    )
                if v is not None and not isinstance(v, bool) and isinstance(v, int) and (
                    v > 2**63 - 1 or v < -(2**63)
                ):
                    raise AssertionError(
                        f"column {c} holds an int128-range value — driver-hash-unsafe"
                    )
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def main() -> None:
    import __spark_entry__ as entry
    from ad_hoc_olap_query_processing_engine_spark.session import get_spark

    names = sys.argv[1:]
    qs = entry.queries()
    oracles = entry.oracle_sql()
    if not names:
        names = list(qs)

    spark = get_spark(app_name="crosscheck", cpus=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    failures = []
    for name in names:
        try:
            got = canon(qs[name](spark, SF_DIR).toPandas())
            if name not in oracles:
                print(f"{name}: NO_ORACLE spark_rows={len(got)}")
                continue
            lint_oracle_types(con, oracles[name])
            exp = canon(con.sql(oracles[name]).df())
            assert list(got.columns) == list(exp.columns), (
                f"cols {list(got.columns)} vs {list(exp.columns)}"
            )
            assert len(got) == len(exp), f"rows {len(got)} vs {len(exp)}"
            pd.testing.assert_frame_equal(got, exp, check_dtype=False, rtol=0, atol=0)
            print(f"{name}: OK rows={len(got)}")
        except Exception as e:
            failures.append(name)
            msg = str(e).replace("\n", " | ")[:400]
            print(f"{name}: FAIL {msg}")
    print(f"\n{len(names) - len(failures)}/{len(names)} green; failures: {failures}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
