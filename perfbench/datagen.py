"""Seeded input generation for the benchmark, done with numpy and pyarrow only.

The engine reads TPC-H-style parquet tables (the benchmark uses region,
customer and orders) plus an ``events`` stream table and a ``documents``
text table. The benchmark cannot depend on data outside
its checkout, so it synthesises tables with the same schemas, parquet
timestamp encoding (TIMESTAMP(MICROS), not UTC-adjusted), single row group
and value shapes (key ranges, low-cardinality flags, log-normal event values,
word-salad documents) as the engine's test tables.

Two kinds of randomness are kept apart:

- the *base tables* at a scale factor come from a fixed seed, so "sf0.01
  orders" is one fixed table on every run, like a warehouse table;
- everything a run varies (row samples, table draws, repeat positions, the
  stream's out-of-order moves) comes from the ``--seed`` argument.

The engine only ever receives the paths of the files written here.
"""

from __future__ import annotations

import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: fixed seed of the base tables (not the run seed; see module docstring)
BASE_SEED = 20_180_601

#: row counts at scale factor 1, as in the engine's test tables
ROWS_AT_SF1 = {"customer": 150_000, "orders": 1_500_000,
               "events": 1_000_000, "documents": 50_000}
FIXED_ROWS = {"region": 5}

_WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
          "spark line sort window join small big customer query data column "
          "order group filter stream").split()


def rows_at(table: str, sf: float) -> int:
    if table in FIXED_ROWS:
        return FIXED_ROWS[table]
    return max(1, int(round(ROWS_AT_SF1[table] * sf)))


def _days_us(rng, n: int, first: str, last: str) -> np.ndarray:
    lo = np.datetime64(first, "D")
    span = int((np.datetime64(last, "D") - lo).astype(int))
    days = lo + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return days.astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _fmt(prefix: str, keys: np.ndarray) -> list[str]:
    return [f"{prefix}{k:09d}" for k in keys.tolist()]


def make_table(table: str, sf: float) -> pa.Table:
    """The base table ``table`` at scale factor ``sf`` (fixed seed)."""
    rng = np.random.default_rng([BASE_SEED, zlib.crc32(table.encode()),
                                 int(round(sf * 1e6))])
    n = rows_at(table, sf)
    keys = np.arange(n, dtype=np.int64)
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))
    if table == "region":
        return pa.table({
            "r_regionkey": i32(keys),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    if table == "customer":
        seg = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                        "MACHINERY"])
        return pa.table({
            "c_custkey": keys, "c_name": _fmt("Customer#", keys),
            "c_nationkey": i32(rng.integers(0, 25, n)),
            "c_acctbal": _money(rng, n, -999.99, 9999.99),
            "c_mktsegment": seg[rng.integers(0, 5, n)]})
    if table == "orders":
        prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                         "5-LOW"])
        return pa.table({
            "o_orderkey": keys,
            "o_custkey": rng.integers(0, rows_at("customer", sf), n),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
            "o_totalprice": _money(rng, n, 1000.0, 500000.0),
            "o_orderdate": pa.array(_days_us(rng, n, "1995-01-01",
                                             "2001-08-01")),
            "o_orderpriority": prio[rng.integers(0, 5, n)]})
    if table == "events":
        start = np.datetime64("2024-01-01T00:00:00", "us")
        span_us = 30 * 86_400 * 1_000_000
        ts = start + np.sort(rng.integers(0, span_us, n)).astype(
            "timedelta64[us]")
        etype = np.array(["click", "error", "purchase", "signup", "view"])
        return pa.table({
            "event_id": keys, "ts": pa.array(ts),
            "user_id": rng.integers(0, 1500, n),
            "event_type": etype[rng.integers(0, 5, n)],
            "value": np.round(rng.lognormal(np.log(35.0), 0.85, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    if table == "documents":
        words = np.array(_WORDS)
        lens = rng.integers(8, 91, n)
        text = [" ".join(words[rng.integers(0, len(words), m)])
                for m in lens.tolist()]
        langs = np.array(["en", "de", "es", "fr", "zh"])
        lang_p = np.array([0.44, 0.14, 0.14, 0.14, 0.14])
        return pa.table({
            "doc_id": keys, "text": text,
            "lang": langs[rng.choice(5, n, p=lang_p)],
            "source": [f"src{s}" for s in rng.integers(0, 20, n)],
            "n_chars": np.array([len(t) for t in text], dtype=np.int64)})
    raise ValueError(f"unknown table {table!r}")


def write(table: pa.Table, path: str) -> int:
    """Write one parquet file (one row group, snappy) and return its size."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))
    return os.path.getsize(path)


def row_sample(table: pa.Table, rng, fraction: float = 0.9) -> pa.Table:
    """A seeded Bernoulli row sample (row order kept); never empty."""
    mask = rng.random(table.num_rows) < fraction
    if not mask.any():
        mask[0] = True
    return table.filter(pa.array(mask))


def stream_files(events: pa.Table, rng, n_files: int,
                 move_share: float = 0.3,
                 late_margin_us: int = 50 * 60 * 1_000_000) -> list[pa.Table]:
    """Split time-ordered ``events`` into ``n_files`` consecutive slices and
    move a seeded share of each slice's last ``late_margin_us`` of event time
    into the next slice, so the stream sees out-of-order rows that still stay
    inside a watermark delay longer than the margin (none may be dropped)."""
    bounds = np.linspace(0, events.num_rows, n_files + 1).astype(int)
    ts = events.column("ts").cast(pa.int64()).to_numpy()
    parts = [np.arange(bounds[i], bounds[i + 1]) for i in range(n_files)]
    for i in range(n_files - 1):
        idx = parts[i]
        if len(idx) == 0:
            continue
        cutoff = ts[idx].max() - late_margin_us
        late = idx[(ts[idx] >= cutoff) & (rng.random(len(idx)) < move_share)]
        if len(late) == len(idx):
            late = late[1:]
        parts[i] = np.setdiff1d(idx, late)
        parts[i + 1] = np.concatenate([parts[i + 1], late])
    return [events.take(pa.array(p)) for p in parts]
