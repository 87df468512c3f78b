"""Expected answers and result verification.

Every op's rows are checked with ``tests/parity.py``'s ``compare``,
imported and used unchanged. ``compare`` asks a Spark DataFrame for
``toPandas()`` and a DuckDB connection for ``execute(sql).fetchdf()``;
the two stand-ins below hand it rows already collected by the timed
action and the cached oracle answer, so verifying never re-runs the
query and never re-runs DuckDB.

Oracle answers are computed once per input set (the tables directory)
and oracle SQL text, and cached as pickles this program wrote.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import os

import pandas as pd


class _Collected:
    """Rows the timed action already materialized."""

    def __init__(self, pdf: pd.DataFrame):
        self._pdf = pdf

    def toPandas(self) -> pd.DataFrame:  # noqa: N802 (Spark's name)
        return self._pdf


class _Answer:
    """A cached oracle answer behind the connection interface."""

    def __init__(self, pdf: pd.DataFrame):
        self._pdf = pdf

    def execute(self, _sql: str) -> _Answer:
        return self

    def fetchdf(self) -> pd.DataFrame:
        return self._pdf


def verify(name: str, got: pd.DataFrame, expected: pd.DataFrame) -> str | None:
    """None when ``got`` matches ``expected`` under parity.compare's
    tolerance; otherwise the mismatch report."""
    from tests.parity import compare

    out = io.StringIO()
    try:
        with contextlib.redirect_stdout(out):
            compare(_Collected(got), _Answer(expected), "", name)
    except AssertionError as e:
        return f"{e} {out.getvalue().strip()}".strip()
    return None


class OracleCache:
    """DuckDB oracle answers for one tables directory, cached on disk."""

    def __init__(self, tables_dir: str, cache_dir: str):
        self.tables_dir = tables_dir
        self.cache_dir = cache_dir
        os.makedirs(cache_dir, exist_ok=True)
        self._con = None

    def answer(self, name: str, sql: str) -> pd.DataFrame:
        key = hashlib.sha1(sql.encode()).hexdigest()[:12]
        path = os.path.join(self.cache_dir, f"{name}-{key}.pkl")
        if os.path.exists(path):
            return pd.read_pickle(path)
        if self._con is None:
            from tests.parity import duckdb_conn
            self._con = duckdb_conn(self.tables_dir)
        pdf = self._con.execute(sql).fetchdf()
        pdf.to_pickle(path + ".tmp")
        os.replace(path + ".tmp", path)
        return pdf

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None
