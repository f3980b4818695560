"""Per-process memo shared by the operators.

Several operators end in "collect ONE result, post-process driver-side"
(profile, top-K, quantiles, outlier fences, distinct counts); others
build a Column, read a parquet footer, train a model or label
near-duplicate clusters. When a second query needs the same result over
the same input — complete_row_count and schema_suggestions after profile,
all three reading the one table aggregate, or a repeat profile request of
an unchanged file, whose profile, top-K and footer schema are all served
from here — that work is pure repeat. One ``Memo`` class serves every
kind: a bounded LRU dict under one lock, one instance per kind of value.

Each entry belongs to a session (data, schemas) or to the SparkContext
(Columns), held by weakref, so it is never served to a new
owner that reuses a dead one's id(). A data entry is keyed by the analyzed
plan's semantic hash, the caller's tag and the (path, size, mtime_ns) of
every input file (``DataFrame.inputFiles()``): the plan hash covers a
file's path but not its contents, so without the file identity a file
rewritten at the same path would be served stale. A lookup costs 4 + 2 per
input file py4j calls and one ``os.stat`` per file. An input behind a
non-``file:`` URI cannot be stat'ed: it gets no key and runs uncached, as
does a plan whose hash is unavailable. Schemas key on the files under the
table's path the same way.

The lock guards dict operations only; ``build()`` (usually a Spark job)
runs outside it, so clients sharing a session never wait on each other's
jobs. Two threads that miss on one key both build; the later store wins.
"""

from __future__ import annotations

import os
import threading
import weakref
from collections import OrderedDict
from urllib.parse import unquote, urlparse

from pyspark.sql import Column, DataFrame


class Memo:
    """Bounded LRU memo of values owned (by weakref) by a session or a
    SparkContext. A cached list is returned as a copy, so callers may
    extend it without changing the entry."""

    def __init__(self, maxsize: int):
        self.maxsize = maxsize
        self._lock = threading.Lock()
        self._data: OrderedDict = OrderedDict()

    def peek(self, owner, key, default=None):
        """The value cached for (owner, key), else ``default``."""
        if key is None:
            return default
        k = (id(owner), key)
        with self._lock:
            hit = self._data.get(k)
            if hit is None:
                return default
            if hit[0]() is not owner:   # owner gone, its id() reused
                del self._data[k]
                return default
            self._data.move_to_end(k)
        return list(hit[1]) if isinstance(hit[1], list) else hit[1]

    def get(self, owner, key, build):
        """The value cached for (owner, key), else build(), stored. A None
        key (no sound identity for the input) runs build() uncached."""
        value = self.peek(owner, key, self)     # self: the miss sentinel
        if value is not self:
            return value
        value = build()
        if key is not None:
            with self._lock:
                self._data[(id(owner), key)] = (weakref.ref(owner), value)
                self._data.move_to_end((id(owner), key))
                while len(self._data) > self.maxsize:
                    self._data.popitem(last=False)
        return list(value) if isinstance(value, list) else value

    def clear(self) -> list:
        """Drop every entry; return the values whose owner is alive."""
        with self._lock:
            entries = list(self._data.values())
            self._data.clear()
        return [v for ref, v in entries if ref() is not None]


#: collected results: aggregate rows, the top-K's Arrow table and the
#: finished profile relation built from the table aggregate
ROWS = Memo(128)
#: built Columns (one py4j round trip per node; SQL text needs no memo):
#: the F2 pandas-UDF length (functions.scalar) and operators.text's bundles
EXPRS = Memo(512)
SCHEMAS = Memo(64)      # parquet footer schemas (sources/tables)
MODELS = Memo(64)       # ANN centroid rows / codebooks (similarity)
#: localCheckpoint-ed cluster labels (dedup); the bound caps how many
#: frames keep their cached blocks pinned
CLUSTERS = Memo(32)


def clear_all_memos() -> None:
    """Drop every per-process memo. Bench hygiene: a repeat timed pass must
    measure execution, not the previous pass's memo hits. Cluster-label
    entries are localCheckpoint-materialized DataFrames — unpersist their
    cached blocks instead of leaving them to nondeterministic JVM GC."""
    for cache in (ROWS, EXPRS, SCHEMAS, MODELS):
        cache.clear()
    for df in CLUSTERS.clear():
        try:
            df.unpersist()
        except Exception:
            pass            # session already stopped; blocks died with it


def local_path(p: str) -> str | None:
    """The local file-system path of ``p``, a path or a ``file:`` URI;
    None for any other URI."""
    u = urlparse(p)
    if u.scheme not in ("", "file"):
        return None
    return unquote(u.path) if u.scheme else p


def files_identity(paths) -> tuple | None:
    """Sorted (path, size, mtime_ns) of every file at or under each path;
    None if a path is a non-``file:`` URI or does not exist."""
    files = []
    for p in paths:
        p = local_path(p)
        if p is None:
            return None
        if os.path.isdir(p):
            files += [os.path.join(root, n)
                      for root, _, names in os.walk(p) for n in names]
        else:
            files.append(p)
    try:
        stats = [(f, os.stat(f)) for f in files]
    except OSError:
        return None
    return tuple(sorted((f, st.st_size, st.st_mtime_ns) for f, st in stats))


def data_key(df: DataFrame, tag: tuple) -> tuple | None:
    """(plan semantic hash, input-file identity, tag); None when the input
    has no sound identity."""
    try:
        h = df.semanticHash()           # the analyzed plan's
        ident = files_identity(df.inputFiles())
    except Exception:
        return None
    return None if ident is None else (h, ident, tag)


def data_memoized(cache: Memo, df: DataFrame, tag: tuple, build):
    """build(), memoized in ``cache`` per (session, input data, tag)."""
    return cache.get(df.sparkSession, data_key(df, tag), build)


def exprs_memoized(tag: tuple, build):
    """build() (a Column or Column list), memoized per (active
    SparkContext, tag)."""
    from pyspark import SparkContext
    sc = SparkContext._active_spark_context
    return build() if sc is None else EXPRS.get(sc, tag, build)


def agg_row_memoized(df: DataFrame, agg_exprs: list[Column], tag: tuple):
    """df.agg(*agg_exprs).collect()[0], memoized per (session, input data,
    tag).

    ``tag`` must uniquely identify the aggregate bundle shape (caller name +
    column list + parameters) — the data key covers only the INPUT."""
    return data_memoized(ROWS, df, tag,
                         lambda: df.agg(*agg_exprs).collect()[0])

