"""Local mimic of the driver's correctness gate: run each queries() entry on
Spark at sf0.01, run the oracle SQL on DuckDB, compare row count, schema
(column names), and order-insensitive values (exact after normalization)."""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def duck_con():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].where(pd.notna(df[c]), None)
    df = df.sort_values(by=list(df.columns), key=lambda s: s.astype(str))
    return df.reset_index(drop=True)


#: (query, column) -> exception repr for every column where the vectorized
#: compare fell back to the per-cell loop (ADVICE r12: a sweep-wide
#: regression to the slow path, or a systematic Spark/Duck dtype mismatch,
#: must be visible — the summary prints at the end of the sweep)
FALLBACKS: dict[tuple[str, str], str] = {}


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rowcount spark={len(spark_pdf)} duck={len(duck_pdf)}")
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(f"schema spark={sorted(spark_pdf.columns)} "
                        f"duck={sorted(duck_pdf.columns)}")
        return problems
    a, b = normalize(spark_pdf), normalize(duck_pdf)
    if len(a) != len(b):
        return problems
    for c in a.columns:
        av, bv = a[c].values, b[c].values
        # vectorized equal-or-both-null mask (VERDICT r11 #3: the
        # per-cell Python loop was measurable across the 252-query
        # sweep); pd.isna matches the loop's None/NaN semantics on
        # scalars — non-scalar cells (list values) fall back below
        try:
            an, bn = pd.isna(av), pd.isna(bv)
            with np.errstate(all="ignore"):
                neq = (an != bn) | (~an & ~bn & (av != bv))
            bad = np.flatnonzero(np.asarray(neq, dtype=bool))
        except (TypeError, ValueError) as e:
            FALLBACKS[(name, c)] = f"{type(e).__name__}: {e}"
            bad = [i for i in range(len(av))
                   if _cell_mismatch(av[i], bv[i])]
        for i in bad:
            problems.append(
                f"col={c} row={i}: spark={av[i]!r} duck={bv[i]!r}")
            if len(problems) > 8:
                return problems
    return problems


def _cell_mismatch(x, y) -> bool:
    xn = x is None or (isinstance(x, float) and np.isnan(x))
    yn = y is None or (isinstance(y, float) and np.isnan(y))
    if xn and yn:
        return False
    return xn != yn or x != y


def main():
    import __spark_entry__ as entrymod
    from flink_descriptive_stats_spark.session import get_spark

    only = sys.argv[1].split(",") if len(sys.argv) > 1 and sys.argv[1] != "all" else None
    spark = get_spark(master="local[8]", shuffle_partitions=8)
    con = duck_con()
    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    n_ok = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            continue
        if name not in os_:
            print(f"SKIP-ORACLE {name}: rows={len(spdf)} ({time.time()-t0:.1f}s)")
            continue
        try:
            dpdf = con.execute(os_[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        problems = compare(name, spdf, dpdf)
        if problems:
            print(f"FAIL {name} ({time.time()-t0:.1f}s):")
            for p in problems:
                print(f"   {p}")
        else:
            n_ok += 1
            print(f"OK   {name}: rows={len(spdf)} ({time.time()-t0:.1f}s)")
    if FALLBACKS:
        print(f"slow-path compare fallbacks: {len(FALLBACKS)} column(s)")
        for (qn, col), why in sorted(FALLBACKS.items()):
            print(f"   {qn}.{col}: {why}")
    print(f"passed {n_ok}")


if __name__ == "__main__":
    main()
