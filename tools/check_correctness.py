"""Local mirror of the driver's t2 correctness gate.

Runs every queries()[name] on Spark and its oracle_sql()[name] on DuckDB
over the same sf dir, then compares row count, column names, and an
order-insensitive value hash (floats rounded to 6 dp, columns sorted by
name, rows sorted). Usage:

    python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import sys
import time
import traceback
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from flink_graph_spark.plans.session import get_spark  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_float_dtype(s):
            df[c] = s.round(6)
        elif pd.api.types.is_datetime64_any_dtype(s):
            df[c] = pd.to_datetime(s).dt.tz_localize(None)
        elif s.dtype == object:
            # null-representation-insensitive: pyspark.toPandas yields
            # None where duckdb.df() yields float('nan') inside object
            # columns (e.g. nullable booleans) — astype(str) alone would
            # render those "None" vs "nan" and hash-diverge on equal
            # values
            df[c] = s.map(
                lambda v: "<NULL>"
                if v is None
                or v is pd.NA
                or (isinstance(v, float) and v != v)
                else str(v)
            )
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def value_hash(df: pd.DataFrame) -> str:
    body = df.to_csv(index=False, float_format="%.6f")
    return hashlib.sha256(body.encode()).hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    spark = get_spark("correctness-check")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    n_pass = n_fail = n_rows_only = 0
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"FAIL  {name}: SPARK ERROR")
            traceback.print_exc()
            n_fail += 1
            failures.append(name)
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            ok = len(sdf) >= 0
            n_rows_only += 1
            print(f"rows-only  {name}: {len(sdf)} rows  ({t_spark:.1f}s)")
            continue
        t0 = time.time()
        try:
            odf = con.sql(oracles[name]).df()
        except Exception:
            print(f"FAIL  {name}: ORACLE SQL ERROR")
            traceback.print_exc()
            n_fail += 1
            failures.append(name)
            continue
        t_duck = time.time() - t0
        try:
            s_c, o_c = canonicalize(sdf), canonicalize(odf)
        except Exception:
            print(f"FAIL  {name}: CANONICALIZE ERROR")
            traceback.print_exc()
            n_fail += 1
            failures.append(name)
            continue
        problems = []
        if len(s_c) != len(o_c):
            problems.append(f"rows {len(s_c)} vs {len(o_c)}")
        if list(s_c.columns) != list(o_c.columns):
            problems.append(f"cols {list(s_c.columns)} vs {list(o_c.columns)}")
        if not problems and value_hash(s_c) != value_hash(o_c):
            problems.append("value-hash mismatch")
            diff = s_c.compare(o_c) if s_c.shape == o_c.shape else None
            if diff is not None and len(diff):
                print(diff.head(10))
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}  (spark {t_spark:.1f}s duck {t_duck:.1f}s)")
            n_fail += 1
            failures.append(name)
        else:
            print(f"PASS  {name}: {len(s_c)} rows  (spark {t_spark:.1f}s duck {t_duck:.1f}s)")
            n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    if failures:
        print("failures:", " ".join(failures))
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
