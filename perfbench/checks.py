"""Output checks shared by the workloads: DuckDB replays compared with
the repository gate's canonical value hash (``tools/check.py``)."""

from __future__ import annotations

import os

import duckdb

from tools.check import canonicalize


class Checks:
    """Collects named pass/fail results; a failure keeps its reason."""

    def __init__(self):
        self.results: list[tuple[str, bool, str]] = []

    def record(self, name: str, ok: bool, detail: str = "") -> None:
        self.results.append((name, bool(ok), detail))

    def run(self, name: str, fn) -> None:
        """Record ``fn()`` (returning (ok, detail)); an exception fails it."""
        try:
            ok, detail = fn()
        except Exception as e:  # a crashing check is a failed check, reported
            ok, detail = False, f"{type(e).__name__}: {str(e)[:300]}"
        self.record(name, ok, detail)

    @property
    def failed(self) -> int:
        return sum(1 for _, ok, _ in self.results if not ok)


def duck(tables_dir: str, tables: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(tables_dir, t)}.parquet'")
    return con


def same_rows(spark_pd, duck_pd) -> tuple[bool, str]:
    """The gate's comparison: row count, column names, value hash."""
    if len(spark_pd) != len(duck_pd):
        return False, f"rows {len(spark_pd)} != {len(duck_pd)}"
    if sorted(spark_pd.columns) != sorted(duck_pd.columns):
        return False, f"cols {sorted(spark_pd.columns)} != {sorted(duck_pd.columns)}"
    if canonicalize(spark_pd) != canonicalize(duck_pd):
        return False, "value-hash mismatch"
    return True, f"{len(spark_pd)} rows"

