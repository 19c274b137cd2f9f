"""Dry-run of the driver's correctness gate at an arbitrary SF dir.

Mirrors tests/test_queries_vs_duckdb.py (same canonicalization) but runs
standalone so the full gate sweep (every ORACLE_SQL entry, computed at
runtime) can be executed at sf0.01 — the SF the driver actually grades —
without the pytest fixtures.

Usage: python scripts/gate_dryrun.py [--sf /root/testdata/sf0.01] [--only a,b]
Prints one PASS/FAIL line per gate and a summary; exit code 1 on any FAIL.
"""

import argparse
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _canon_value(v):
    if v is None or (not isinstance(v, (list, tuple, bytes)) and pd.isna(v)):
        return "NULL"
    if hasattr(v, "item"):
        v = v.item()
    if isinstance(v, bytes):
        return f"bytes:{v.hex()}"
    return f"{type(v).__name__}:{v!r}"


def _norm_df(pdf):
    return sorted(
        tuple(_canon_value(v) for v in row) for row in pdf.itertuples(index=False)
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default="")
    ap.add_argument("--cores", type=int, default=8)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{args.cores}]")
        .config("spark.sql.shuffle.partitions", str(max(8, args.cores)))
        # the python workers load the same checkout as this driver
        .config("spark.executorEnv.PYTHONPATH", REPO)
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )

    from changedatacapture_spark.oracles_sql import ORACLE_SQL
    from changedatacapture_spark.queries import QUERIES

    duck = duckdb.connect()
    for t in TABLES:
        duck.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'"
        )

    names = sorted(ORACLE_SQL)
    if args.only:
        names = [n for n in names if n in set(args.only.split(","))]
    missing_oracle = sorted(set(QUERIES) - set(ORACLE_SQL))

    fails = []
    for name in names:
        t0 = time.time()
        try:
            sdf = QUERIES[name](spark, args.sf)
            spark_cols = [c.lower() for c in sdf.columns]
            spark_rows = _norm_df(sdf.toPandas())
            res = duck.execute(ORACLE_SQL[name])
            duck_cols = [d[0].lower() for d in res.description]
            duck_rows = _norm_df(res.df())
            ok = spark_cols == duck_cols and spark_rows == duck_rows
            detail = ""
            if spark_cols != duck_cols:
                detail = f" cols {spark_cols} vs {duck_cols}"
            elif len(spark_rows) != len(duck_rows):
                detail = f" rows {len(spark_rows)} vs {len(duck_rows)}"
            elif not ok:
                diff = next(
                    (i for i, (a, b) in enumerate(zip(spark_rows, duck_rows)) if a != b),
                    -1,
                )
                detail = (
                    f" first value diff at sorted-row {diff}:"
                    f" spark={spark_rows[diff]!r} duck={duck_rows[diff]!r}"
                )
        except Exception as exc:  # pragma: no cover - diagnostic path
            ok, detail = False, f" err={exc!r}"
            spark_rows = []
        status = "PASS" if ok else "FAIL"
        print(
            f"{status} {name} rows={len(spark_rows)} {time.time()-t0:.1f}s{detail}",
            flush=True,
        )
        if not ok:
            fails.append(name)

    print(
        f"== {len(names) - len(fails)}/{len(names)} green; "
        f"{len(missing_oracle)} rows-only queries: {missing_oracle}"
    )
    if fails:
        print("FAILED:", fails)
    spark.stop()
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
