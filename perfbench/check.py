"""Result checks against the DuckDB oracle, run outside every timed loop.

Each engine result is compared with the oracle SQL the engine ships
(``oracle.profile_table_sql``, ``report.jb_report_sql``, ``oracle.topk_sql``,
``oracle.completeness_sql``, ``oracle.windowed_profile_sql``) run by DuckDB
over the same parquet file(s). Comparison follows the engine's local
correctness gate: same row count, same column names, and equal values after
sorting columns by name and rows by their string form; NULL equals NULL.
One difference: a statistic rendered as a 7-significant-digit string may
differ by one unit in its last digit (see ``_sig_close``).
"""

from __future__ import annotations

import os
import re
import threading
from concurrent.futures import ThreadPoolExecutor
from fractions import Fraction

import duckdb
import numpy as np
import pandas as pd


def _lit(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


class Oracle:
    """DuckDB oracle runs on a pool of worker threads, one in-memory
    database per thread. Results are kept per file, so a file read by
    several requests is checked against one oracle run."""

    def __init__(self, work: str, workers: int):
        self.work = work
        self._pool = ThreadPoolExecutor(workers)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._conns: list = []
        self._tables: dict[tuple[str, str], dict] = {}

    def _con(self):
        con = getattr(self._local, "con", None)
        if con is None:
            con = duckdb.connect()
            con.execute("SET threads = 2")
            con.execute("SET temp_directory = "
                        + _lit(os.path.join(self.work, "duck")))
            self._local.con = con
            with self._lock:
                self._conns.append(con)
        return con

    def map(self, fn, items: list) -> list:
        return list(self._pool.map(fn, items))

    def close(self) -> None:
        self._pool.shutdown()
        for con in self._conns:
            con.close()

    def table(self, table: str, path: str) -> dict[str, pd.DataFrame]:
        """The oracle results of one profile request over ``path``:
        profile, jb_report, complete_row_count and, for tables with string
        columns, topk."""
        from flink_descriptive_stats_spark import oracle, report
        with self._lock:
            hit = self._tables.get((table, path))
        if hit is not None:
            return hit
        con = self._con()
        con.execute(f"CREATE OR REPLACE VIEW {table} AS "
                    f"SELECT * FROM read_parquet({_lit(path)})")
        out = {
            "profile": con.execute(oracle.profile_table_sql(table)).df(),
            "jb_report": con.execute(report.jb_report_sql(table)).df(),
            "complete_row_count": con.execute(
                oracle.completeness_sql(table)).df(),
        }
        if any(t == "string" for _, t in oracle.TABLE_SCHEMAS[table]):
            out["topk"] = con.execute(oracle.topk_sql(table)).df()
        with self._lock:
            self._tables[(table, path)] = out
        return out

    def windows(self, paths: list[str], value_col: str,
                window_hours: int) -> pd.DataFrame:
        """Per-window profile of ``value_col`` over the stream's files."""
        from flink_descriptive_stats_spark import oracle
        con = self._con()
        files = ", ".join(_lit(p) for p in paths)
        con.execute("CREATE OR REPLACE VIEW stream_rows AS "
                    f"SELECT * FROM read_parquet([{files}])")
        return con.execute(oracle.windowed_profile_sql(
            "stream_rows", ts_col="ts", value_col=value_col,
            window_hours=window_hours)).df()


def rows_frame(columns: list[str], rows) -> pd.DataFrame:
    """Collected Spark rows as a DataFrame with the engine's column names."""
    return pd.DataFrame([tuple(r) for r in rows], columns=columns,
                        dtype=object)


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].where(pd.notna(df[c]), None)
    df = df.sort_values(by=list(df.columns), key=lambda s: s.astype(str))
    return df.reset_index(drop=True)


#: a statistic rendered by ``functions.sig``: 7-digit integer mantissa and
#: a decimal exponent, e.g. ``1805345e-9``
_SIG = re.compile(r"^(-?\d+)e(-?\d+)$")


def _sig_close(x: str, y: str) -> bool:
    """Two rendered statistics are equal or one unit apart in the last
    rendered digit. Engine and oracle compute a statistic in doubles with
    different algorithms; when the exact value lies within their rounding
    error of a 7th-digit rounding boundary, the two renderings differ by
    one unit (seen: exact skew_samp 1.80534451e-3, engine 1805345e-9,
    oracle 1805344e-9). Anything further apart is a wrong result."""
    mx, my = _SIG.match(x), _SIG.match(y)
    if not (mx and my):
        return False
    ex, ey = int(mx.group(2)), int(my.group(2))
    a = Fraction(int(mx.group(1))) * Fraction(10) ** ex
    b = Fraction(int(my.group(1))) * Fraction(10) ** ey
    return abs(a - b) <= Fraction(10) ** min(ex, ey)


def _cell_differs(x, y) -> bool:
    xn = x is None or (isinstance(x, float) and np.isnan(x))
    yn = y is None or (isinstance(y, float) and np.isnan(y))
    if xn and yn:
        return False
    if xn != yn:
        return True
    if isinstance(x, str) and isinstance(y, str) and x != y:
        return not _sig_close(x, y)
    return x != y


def compare(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Differences between an engine result and the oracle's; [] if equal."""
    if len(got) != len(want):
        return [f"rowcount engine={len(got)} oracle={len(want)}"]
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns engine={sorted(got.columns)} "
                f"oracle={sorted(want.columns)}"]
    a, b = _normalize(got), _normalize(want)
    problems = []
    for c in a.columns:
        for i, (x, y) in enumerate(zip(a[c].tolist(), b[c].tolist())):
            if _cell_differs(x, y):
                problems.append(f"{c}[{i}]: engine={x!r} oracle={y!r}")
                if len(problems) >= 5:
                    return problems
    return problems


def tamper(df: pd.DataFrame) -> pd.DataFrame:
    """A copy of ``df`` with one value changed, for the negative control:
    the first integer cell is incremented, else the first string cell is
    altered."""
    out = df.copy()
    for c in out.columns:
        for i, v in enumerate(out[c].tolist()):
            if isinstance(v, (int, np.integer)) and not isinstance(v, bool):
                out.iat[i, out.columns.get_loc(c)] = int(v) + 1
                return out
    for c in out.columns:
        for i, v in enumerate(out[c].tolist()):
            if isinstance(v, str):
                out.iat[i, out.columns.get_loc(c)] = v + "x"
                return out
    raise ValueError("nothing to tamper with")
