#!/usr/bin/env python
"""Local replica of the driver's correctness gate: run every queries()[name]
on Spark and oracle_sql()[name] on DuckDB over the same parquet tables at
sf=0.01, compare row count + column names + order-insensitive values.

Mirrors the driver's PANDAS-DTYPE-SENSITIVE canonicalization (VERDICT r01):
both sides are fetched as pandas frames, so a DuckDB HUGEINT rendered as
float64 mismatches a Spark int64 here exactly like it does at the gate, and
array-typed cells are flagged (the driver's sort_values crashes on them).

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime
import math
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

# import the library of the checkout this script lives in
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def _norm_value(v):
    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, (bool, np.bool_)):
        return f"bool:{bool(v)}"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "NULL"
        return f"float:{f!r}"
    if isinstance(v, (int, np.integer)):
        return f"int:{int(v)}"
    if isinstance(v, (bytes, bytearray)):
        return f"bytes:{bytes(v).hex()}"
    if isinstance(v, np.datetime64):
        return f"ts:{pd.Timestamp(v).isoformat()}"
    if isinstance(v, pd.Timestamp):
        return f"ts:{v.isoformat()}"
    if isinstance(v, datetime.datetime):
        return f"ts:{v.isoformat()}"
    if isinstance(v, datetime.date):
        # DuckDB DATE surfaces as midnight datetime64 in pandas; Spark
        # DateType stays datetime.date — unify on the timestamp form
        return f"ts:{v.isoformat()}T00:00:00"
    if isinstance(v, (list, np.ndarray)):
        # the driver's canonicalizer CRASHES on these — callers check first
        return "list:[" + ",".join(_norm_value(x) for x in v) + "]"
    return f"{type(v).__name__}:{v}"


def _array_cols(pdf: pd.DataFrame) -> list[str]:
    bad = []
    for c in pdf.columns:
        if pdf[c].dtype == object and len(pdf):
            # first NON-NULL cell — a null first row must not hide an
            # array-typed column from the driver-crash detector
            for v in pdf[c]:
                if v is None:
                    continue
                if isinstance(v, (list, np.ndarray)):
                    bad.append(c)
                break
    return bad


def _frame_to_canonical(pdf: pd.DataFrame) -> list[str]:
    cols = sorted(pdf.columns)
    out = []
    arrays = [pdf[c].to_numpy() for c in cols]
    for i in range(len(pdf)):
        out.append("|".join(_norm_value(a[i]) for a in arrays))
    return sorted(out)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("oracle-check")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings".split()
    ):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = fn(spark, sf_dir)
        spdf = sdf.toPandas()
        spark_s = time.time() - t0
        arr_cols = _array_cols(spdf)
        if arr_cols:
            failures.append((name, f"ARRAY-TYPED output columns {arr_cols} — driver canonicalizer crashes on these"))
            print(f"✗ {name:34s} ARRAY columns {arr_cols} (driver would crash)")
            continue
        if name not in oracles:
            print(f"  {name:34s} rows-only: {len(spdf)} rows ({spark_s:.1f}s spark)")
            if len(spdf) == 0:
                failures.append((name, "rows-only query returned 0 rows"))
            continue
        t1 = time.time()
        opdf = con.execute(oracles[name]).df()
        duck_s = time.time() - t1
        status = []
        if sorted(spdf.columns) != sorted(opdf.columns):
            status.append(f"SCHEMA spark={sorted(spdf.columns)} duck={sorted(opdf.columns)}")
        if len(spdf) != len(opdf):
            status.append(f"ROWCOUNT spark={len(spdf)} duck={len(opdf)}")
        if not status:
            a = _frame_to_canonical(spdf)
            b = _frame_to_canonical(opdf)
            if a != b:
                diff_a = [x for x in a if x not in set(b)][:3]
                diff_b = [x for x in b if x not in set(a)][:3]
                status.append(f"VALUES spark-only={diff_a} duck-only={diff_b}")
        if status:
            failures.append((name, "; ".join(status)))
            print(f"✗ {name:34s} {'; '.join(status)[:220]}")
        else:
            print(f"✓ {name:34s} {len(spdf)} rows ({spark_s:.1f}s spark, {duck_s:.1f}s duck)")
    print()
    if failures:
        print(f"{len(failures)} FAILURES:")
        for n, s in failures:
            print(f"  {n}: {s[:300]}")
        return 1
    print("all queries match their oracles")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
