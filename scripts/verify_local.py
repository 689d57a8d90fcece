"""Local correctness harness: run every registered query in Spark AND its
DuckDB oracle at sf0.01 (like the driver's t2 gate), compare row count,
column names, and values (columns sorted by name, rows sorted by all
columns). Exact equality required — the plans are engineered so both
engines produce bit-identical values (see plans/registry.py).

Usage: python scripts/verify_local.py [query ...]  (default: all)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("VERIFY_SF_DIR", "/root/testdata/sf0.01")


def duck_con():
    import duckdb

    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{name}.parquet')"
        )
    return con


def normalize(df):
    """Sort columns by name, rows by all columns; reset index."""
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(name, spark_pdf, duck_pdf):
    problems = []
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(
            f"columns differ: spark={sorted(spark_pdf.columns)} "
            f"duck={sorted(duck_pdf.columns)}"
        )
        return problems
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"row count: spark={len(spark_pdf)} duck={len(duck_pdf)}")
    s, d = normalize(spark_pdf), normalize(duck_pdf)
    if len(s) == len(d):
        for col in s.columns:
            sv, dv = s[col], d[col]
            try:
                import pandas as pd

                eq = sv.equals(dv) or bool((sv.fillna("@@") == dv.fillna("@@")).all())
            except Exception:
                eq = list(sv) == list(dv)
            if not eq:
                diffs = [
                    (i, a, b)
                    for i, (a, b) in enumerate(zip(sv, dv))
                    if (a != b) and not (a is None and b is None) and str(a) != str(b)
                ]
                if diffs:
                    problems.append(
                        f"col {col!r}: {len(diffs)} value diffs, first: "
                        f"row {diffs[0][0]} spark={diffs[0][1]!r} duck={diffs[0][2]!r}"
                    )
    return problems


def main() -> int:
    from data_ingestion_din_spark.plans import ORACLES, QUERIES
    from data_ingestion_din_spark.session import get_spark

    only = set(sys.argv[1:])
    spark = get_spark("verify_local")
    con = duck_con()
    failures = 0
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        t0 = time.time()
        status, detail = "OK", ""
        try:
            spark_pdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures += 1
            continue
        try:
            duck_pdf = con.execute(ORACLES[name]).fetchdf()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures += 1
            continue
        problems = compare(name, spark_pdf, duck_pdf)
        if problems:
            failures += 1
            status = "FAIL"
            detail = "; ".join(problems)
        print(
            f"{status:5} {name}: {len(spark_pdf)} rows, "
            f"{time.time() - t0:.1f}s {detail}"
        )
    print(f"\n{'ALL GREEN' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
