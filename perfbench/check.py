"""Output checks against the DuckDB oracles of ``__spark_entry__``.

Comparison follows ``tests/conftest.py:assert_matches_oracle``: columns
sorted by name, floats rounded to 6 places, rows sorted. Oracles run on
the same generated inputs the engine read.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd

import __spark_entry__ as entry
from dw_etl_spark import oracles
from tests.conftest import _normalize as normalize
from tests.conftest import duckdb_conn

# committed warehouse table -> the query whose oracle defines its rows
PIPELINE_TABLES = {
    "DIM_Date": "dim_date",
    "DIM_Order": "dim_order",
    "DIM_Part": "dim_part",
    "DIM_Indicator": "dim_indicator:count",
    "FACT_LineItem": "fact_lineitem",
}


def _oracle_sql(name: str, con: duckdb.DuckDBPyConnection) -> str:
    if name == "dim_indicator:count":
        # the gate row unions both qcut modes; the warehouse holds the
        # default (count) one
        sql = entry.oracle_sql()["dim_indicator"]
        return f"SELECT * EXCLUDE (QcutMode) FROM ({sql}) WHERE QcutMode = 'count'"
    sql = entry.oracle_sql()[name]
    if name == "dedup_clusters":
        # Bounded form of the same oracle: the recursive closure re-reads
        # the minhash pairs CTE on every step, over a minute at sf0.01.
        # Materialized once, the identical pairs take about 5 s.
        pairs = oracles.minhash_lsh_pairs_sql()
        con.execute(f"CREATE OR REPLACE TEMP TABLE oracle_pairs AS {pairs}")
        bounded = sql.replace(f"pairs AS ({pairs})",
                              "pairs AS (SELECT * FROM oracle_pairs)", 1)
        if bounded == sql:
            raise RuntimeError("dedup_clusters oracle no longer embeds the "
                               "minhash pairs CTE; its bounded check needs updating")
        return bounded
    return sql


class Oracles:
    """Normalized oracle results for one input directory, computed once."""

    def __init__(self, data_dir: str):
        self.con = duckdb_conn(data_dir)
        self._cache: dict[str, pd.DataFrame] = {}

    def expected(self, name: str) -> pd.DataFrame:
        if name not in self._cache:
            sql = _oracle_sql(name, self.con)
            self._cache[name] = normalize(self.con.execute(sql).fetchdf())
        return self._cache[name]

    def mismatch(self, name: str, got: pd.DataFrame) -> str | None:
        """None when ``got`` (already normalized) matches the oracle."""
        want = self.expected(name)
        if list(got.columns) != list(want.columns):
            return f"{name}: columns {list(got.columns)} != {list(want.columns)}"
        if len(got) != len(want):
            return f"{name}: {len(got)} rows != {len(want)}"
        if not got.equals(want):
            bad = int((got != want).any(axis=1).sum())
            return f"{name}: {bad} rows differ"
        return None

    def warehouse_mismatch(self, wh_dir: str) -> str | None:
        """None when every committed table matches its oracle.

        The tables are compared inside DuckDB, with the same rules as
        ``normalize``: columns by name, floats rounded to 6 places, every
        value as text, rows as a multiset. Sorting a 600k-row fact in
        pandas took longer than the pass it checks."""
        for table, name in PIPELINE_TABLES.items():
            path = os.path.join(wh_dir, table, "*.parquet")
            got = f"SELECT * FROM read_parquet('{path}')"
            err = self._multiset_mismatch(name, got, _oracle_sql(name, self.con))
            if err:
                return f"{table}: {err}"
        return None

    def _columns(self, sql: str) -> dict[str, str]:
        return {r[0]: r[1] for r in
                self.con.execute(f"DESCRIBE SELECT * FROM ({sql})").fetchall()}

    def _normalized(self, sql: str, types: dict[str, str]) -> str:
        cols = []
        for c in sorted(types):
            t, q = types[c], f'"{c}"'
            if t in ("FLOAT", "DOUBLE") or t.startswith("DECIMAL"):
                q = f"round(CAST({q} AS DOUBLE), 6)"
            elif t == "DATE" or t.startswith("TIMESTAMP"):
                q = f"CAST({q} AS TIMESTAMP)"
            cols.append(f'CAST({q} AS VARCHAR) AS "{c}"')
        return f"SELECT {', '.join(cols)} FROM ({sql})"

    def _multiset_mismatch(self, name: str, got_sql: str,
                           want_sql: str) -> str | None:
        got_t, want_t = self._columns(got_sql), self._columns(want_sql)
        if sorted(got_t) != sorted(want_t):
            return f"{name}: columns {sorted(got_t)} != {sorted(want_t)}"
        got, want = self._normalized(got_sql, got_t), self._normalized(want_sql, want_t)
        n_got, n_want = (self.con.execute(f"SELECT count(*) FROM ({q})").fetchone()[0]
                         for q in (got, want))
        if n_got != n_want:
            return f"{name}: {n_got} rows != {n_want}"
        bad = self.con.execute(
            f"SELECT count(*) FROM (({got}) EXCEPT ALL ({want}))").fetchone()[0]
        if bad:
            return f"{name}: {bad} rows differ"
        return None
