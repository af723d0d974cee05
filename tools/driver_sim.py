"""Simulate the driver's correctness gate: run each __spark_entry__
query on Spark and its oracle_sql on DuckDB at sf0.01; compare row count,
schema width, and order-insensitive values.

The checkout this file lives in is the one tested, whatever the working
directory: the driver imports its entry file, and the Spark Python
workers import its package (the run prints both and stops if they
differ)."""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as E  # noqa: E402
import rapidfuzz_spark as RF  # noqa: E402

STRICT = "--strict" in sys.argv
if STRICT:
    sys.argv.remove("--strict")

JSON_OUT = None
if "--json" in sys.argv:
    i = sys.argv.index("--json")
    JSON_OUT = sys.argv[i + 1]
    del sys.argv[i : i + 2]

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = sys.argv[2].split(",") if len(sys.argv) > 2 else None


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive canonical form. Default mode coerces every
    numeric to rounded float64 (value equality). --strict mode mimics
    the driver's value hash more closely: it keeps int vs float
    DISTINCT (an int64 Spark column vs a float64/HUGEINT oracle column
    fails, as it did for hamming_distance in round 1) and compares
    floats bit-exactly after the query's own rounding."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            # a sentinel no real value can equal: plain astype(str) would
            # render a genuine NULL as "None", silently matching a
            # literal 'None'/'nan' string from the other engine
            df[c] = df[c].where(df[c].notna(), "\x00<NULL>").astype(str)
        elif STRICT:
            dt = str(df[c].dtype)
            if "Int" in dt:  # nullable int -> plain int64 w/ NaN check
                df[c] = (
                    df[c].astype("int64")
                    if not df[c].isna().any()
                    else df[c].astype("float64")
                )
            elif "int" in dt:  # int32 vs int64 width is not a value difference
                df[c] = df[c].astype("int64")
            elif dt == "float32":
                df[c] = df[c].astype("float64")
        elif "float" in str(df[c].dtype):
            df[c] = df[c].round(6)
        elif "Int" in str(df[c].dtype):
            df[c] = df[c].astype("float64")  # nullable ints -> float for compare
        elif "int" in str(df[c].dtype):
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def main() -> None:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        # Python workers would put their working directory ahead of
        # PYTHONPATH, and import the package of whatever checkout the run
        # was started from
        .config("spark.executorEnv.PYTHONPATH", ROOT)
        .config("spark.executorEnv.PYTHONSAFEPATH", "1")
        .getOrCreate()
    )
    worker_root = (
        spark.sparkContext.parallelize([0], 1)
        .map(lambda _: os.path.dirname(os.path.dirname(RF.__file__)))
        .first()
    )
    print(f"entry file {E.__file__}; workers import rapidfuzz_spark from {worker_root}")
    if worker_root != ROOT:
        raise SystemExit(f"workers import {worker_root}, not {ROOT}")
    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    qs = E.queries()
    oracles = E.oracle_sql()
    failures = []
    boundaries = []
    results: dict = {}
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as exc:  # noqa: BLE001 — gate artifact records it
            print(f"{name:28s} FAIL  spark error: {exc}")
            failures.append(name)
            results[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": None,
                "oracle_rows": None, "err": str(exc)[:300],
            }
            continue
        if name not in oracles:
            print(f"{name:28s} rows={len(sdf)} (no oracle — rows-only)")
            results[name] = {
                "rows_match": None, "schema_match": None, "hash_match": None,
                "spark_rows": len(sdf), "oracle_rows": None,
                "err": "no oracle (rows-only)",
            }
            continue
        odf = con.sql(oracles[name]).df()
        a, b = canon(sdf), canon(odf)
        ok_rows = len(a) == len(b)
        ok_cols = list(a.columns) == list(b.columns)
        ok_vals = ok_rows and ok_cols and a.equals(b)
        boundary = False
        if ok_rows and ok_cols and not ok_vals and not STRICT:
            # the default mode's round(6) is boundary-flaky: two engines
            # agreeing to ~1e-9 can round to different 6-dp values. Flag
            # such rows as a float-boundary agreement, distinct from a
            # real mismatch (strict mode stays driver-faithful and still
            # fails — this only declassifies the local false alarm).
            import numpy as np

            num = [c for c in a.columns if a[c].dtype.kind == "f"]
            rest = [c for c in a.columns if c not in num]
            # 1e-6 is the actual width of the queries' round(6) boundary;
            # anything past it is genuine divergence, not rounding flicker
            boundary = all(
                np.allclose(a[c], b[c], atol=1e-6, rtol=0, equal_nan=True)
                for c in num
            ) and (not rest or a[rest].equals(b[rest]))
        status = "OK" if (ok_rows and ok_cols and ok_vals) else "FAIL"
        if boundary:
            # near-miss agreement is its own category: not a FAIL (no
            # exit-1), but never folded into the plain-OK accounting — the
            # summary lists these separately so they stay visible
            status = "OK~(float-boundary)"
            boundaries.append(name)
        print(
            f"{name:28s} {status}  rows {len(a)}/{len(b)} cols {ok_cols} vals {ok_vals}"
        )
        results[name] = {
            "rows_match": ok_rows,
            "schema_match": ok_cols,
            "hash_match": bool(ok_vals or boundary),
            "spark_rows": len(a),
            "oracle_rows": len(b),
            "err": "float-boundary (<=1e-6)" if boundary else None,
        }
        if status == "FAIL":
            failures.append(name)
            if ok_rows and ok_cols:
                neq = ~(a == b).all(axis=1)
                print(a[neq].head(4))
                print(b[neq].head(4))
    ent = E.entry(spark)
    n = ent.count()
    print(f"entry(): {n} rows, schema: {ent.schema.simpleString()[:120]}")
    spark.stop()
    if JSON_OUT:
        import json

        with open(JSON_OUT, "w") as fh:
            json.dump(results, fh, indent=2)
        print(f"wrote {len(results)} query results to {JSON_OUT}")
    if boundaries:
        print("FLOAT-BOUNDARY (agree to <=1e-6, not counted as exact):", boundaries)
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("all queries match oracles" + (" (see float-boundary list)" if boundaries else ""))


if __name__ == "__main__":
    main()
