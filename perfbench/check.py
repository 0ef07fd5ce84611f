"""Untimed output checks against the registered DuckDB oracles.

Outputs are compared exactly as ``scripts/oracle_check.py`` compares them:
row count, column names, and the order-insensitive multiset of canonical
row values, with that script's own ``row_multiset``.
"""

from __future__ import annotations

import importlib.util
import os

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# bounded so a runaway oracle cannot take the host's memory
DUCKDB_CONFIG = {"memory_limit": "2GB", "threads": "2"}


def _oracle_check_module():
    spec = importlib.util.spec_from_file_location(
        "oracle_check", os.path.join(ROOT, "scripts", "oracle_check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


row_multiset = _oracle_check_module().row_multiset


class Oracle:
    """DuckDB views over one generated input directory."""

    def __init__(self, data_dir, tables, oracle_sql, temp_dir):
        self.sql = oracle_sql
        self.con = duckdb.connect(
            config={**DUCKDB_CONFIG, "temp_directory": temp_dir})
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self._cache = {}

    def close(self):
        self.con.close()

    def expected(self, name):
        """(columns, rows) of the oracle; inputs never change in a run,
        so each oracle runs once."""
        if name not in self._cache:
            cur = self.con.execute(self.sql[name])
            self._cache[name] = ([d[0] for d in cur.description],
                                 cur.fetchall())
        return self._cache[name]

    def compare(self, name, cols, rows):
        """None when the output matches the oracle, else the problem."""
        if not rows:
            return "empty output"
        ocols, orows = self.expected(name)
        if len(rows) != len(orows):
            return f"rowcount {len(rows)} != {len(orows)}"
        if sorted(cols) != sorted(ocols):
            return f"schema {sorted(cols)} != {sorted(ocols)}"
        got, want = row_multiset(rows, cols), row_multiset(orows, ocols)
        if got != want:
            return (f"values differ; spark-only={list((got - want))[:2]} "
                    f"oracle-only={list((want - got))[:2]}")
        return None
