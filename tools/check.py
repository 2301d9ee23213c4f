"""Local replica of the driver's t2 correctness gate.

Runs every ``queries()`` entry in Spark and its ``oracle_sql()`` twin
in DuckDB on the same parquet tables, then compares row count, sorted
column names, and an order-insensitive canonical value hash
(timestamps → UTC millis, floats → round(9), NULL marker), per
FIXTURES.md's hash-match protocol.

Usage: python tools/check.py [-h|--help] [--staged] [sf_dir] [query ...]
(--staged drives the staged_queries()/staged_oracle_sql() r7
candidates instead of the frozen registry.) A sf_dir missing any
table parquet exits with code 2, naming the file, before Spark starts.
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canonicalize(df: pd.DataFrame) -> str:
    df = df.copy()
    df = df[sorted(df.columns)]
    out = {}
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            s = (s.astype("datetime64[ms]").astype("int64")).where(s.notna(), None)
            vals = ["NULL" if v is None else str(v) for v in s.tolist()]
        elif pd.api.types.is_float_dtype(s):
            vals = [
                "NULL" if (v is None or (isinstance(v, float) and math.isnan(v)))
                else f"{round(v, 9):.9f}"
                for v in s.tolist()
            ]
        else:
            vals = [
                "NULL" if v is None or (isinstance(v, float) and math.isnan(v))
                else str(v)
                for v in s.tolist()
            ]
        out[c] = vals
    rows = sorted(zip(*[out[c] for c in sorted(df.columns)])) if len(df.columns) else []
    blob = "\n".join("|".join(r) for r in rows).encode()
    return hashlib.sha256(blob).hexdigest()


def main():
    args = [a for a in sys.argv[1:]]
    if "-h" in args or "--help" in args:
        print(__doc__)
        sys.exit(0)
    staged = "--staged" in args
    if staged:
        args.remove("--staged")
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if not os.path.exists(path):
            print(f"check.py: missing table parquet: {path}", file=sys.stderr)
            sys.exit(2)

    import __spark_entry__ as entrymod
    from embeddinghub_spark.session import get_spark

    spark = get_spark(app_name="correctness_check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    if staged:
        qs = entrymod.staged_queries()
        oracles = entrymod.staged_oracle_sql()
    else:
        qs = entrymod.queries()
        oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spark_pd = sdf.toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error: {type(e).__name__}: {e}")
            continue
        if name not in oracles:
            print(f"SKIP {name}: no oracle (rows-only) — {len(spark_pd)} rows")
            continue
        try:
            duck_pd = con.execute(oracles[name]).df()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {e}")
            continue
        problems = []
        if len(spark_pd) != len(duck_pd):
            problems.append(f"rows {len(spark_pd)} != {len(duck_pd)}")
        if sorted(spark_pd.columns) != sorted(duck_pd.columns):
            problems.append(f"cols {sorted(spark_pd.columns)} != {sorted(duck_pd.columns)}")
        if not problems:
            h1, h2 = canonicalize(spark_pd), canonicalize(duck_pd)
            if h1 != h2:
                problems.append("value-hash mismatch")
                merged = spark_pd.sort_values(list(sorted(spark_pd.columns))).head(3)
                merged2 = duck_pd.sort_values(list(sorted(duck_pd.columns))).head(3)
                print(f"  spark head:\n{merged}\n  duck head:\n{merged2}")
        dt = time.time() - t0
        if problems:
            failures.append(name)
            print(f"FAIL {name}: {'; '.join(problems)} ({dt:.1f}s)")
        else:
            print(f"PASS {name}: {len(spark_pd)} rows ({dt:.1f}s)")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
