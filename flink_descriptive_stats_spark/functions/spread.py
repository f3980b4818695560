"""Scale-adaptive input parallelization (optimization guide §2.5).

A single unsplittable input — one parquet row group, one gzip member, one
giant file — makes every downstream map-side computation single-task no
matter how many cores the cluster has: parquet scans cannot split below a
row group, so a table written as one row group runs its whole scan stage
(and every narrow projection fused into it) on ONE core. The optimization
guide's remedy for input skew is "fix at the source if you can; otherwise
repartition immediately after the read" — ``spread`` is that remedy made
adaptive:

- it is a NO-OP whenever the scan already carries at least the session's
  default parallelism (a real 100 TB table arrives in thousands of
  splits, so at scale this function never adds an exchange);
- only a deficiently-parallel input pays one narrow exchange of the
  scanned bytes (here: single-digit MB) to unlock every core for the
  CPU-heavy projection/aggregation above it.

The partitioning key is ``xxhash64`` over a deterministic column set
rather than round-robin: a keyless ``repartition(n)`` first pays a local
sort of its input (``spark.sql.execution.sortBeforeRepartition``, on by
default so task retries reproduce their row assignment) — measured 1.4x
slower than the hash route on the profile aggregate — while a
deterministic hash is retry-safe for free (guide §2.5 on SPARK-38388).

Only apply above partitioning-invariant consumers (aggregations, grouped
ops, keyed joins/windows): the exchange changes row order and placement,
never multiset content. Operators whose semantics read input ORDER
(keep_first by position, monotonically_increasing_id, limit-without-sort)
must not be spread.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


#: the measured break-even for stats aggregates whose per-byte work is
#: moderate (numeric percentile/moment bundles): below this input size the
#: exchange costs more than the parallelism buys (profile_events and the
#: small TPC-H dims regressed ~0.1-0.2s each when spread unconditionally).
#: Sites whose per-byte work is extreme (text regex/hash pipelines) pass
#: min_bytes=0 — they win even on sub-MB inputs.
SPREAD_MIN_BYTES = 4_000_000

#: the exact-percentile paths build a per-partition counts map — much
#: heavier per byte than the parse count_ifs — so their break-even sits
#: lower (a 1.5 MB single-column slice of lineitem still pays ~1s of
#: single-core build without the spread).
#: FP-ORDER NOTE (r13 ADVICE): spreading the input of avg/stddev/percentile
#: bundles changes float accumulation order vs the unspread plan; the sig6
#: rounding in the oracle comparisons absorbs it on the current gates, but
#: if a pinned output ever changes on a boundary value, trace it here first.
SPREAD_MIN_BYTES_PERCENTILE = 1_000_000

#: logical nodes that acquire their own parallelism at a shuffle (or
#: re-distribute rows themselves): a frame containing one is not
#: scan-rooted, and a spread above it re-executes the chain into the new
#: exchange / breaks AQE exchange reuse (measured: curate_corpus despan
#: 4.5s -> 5.7s). Matched against the NODE NAME at the head of each
#: analyzed-plan tree line — not a substring of the whole rendered plan,
#: where a column alias like `UnionId` or a literal containing `Join`
#: would silently disable the spread (r13 ADVICE). Includes Deduplicate
#: (distinct()/dropDuplicates) and the Python map-partition nodes, which
#: the old substring list missed.
_SHUFFLE_NODES = frozenset({
    "Join", "Aggregate", "Window", "Sort", "Union",
    "Repartition", "RepartitionByExpression", "RebalancePartitions",
    "Deduplicate", "Distinct", "Intersect", "Except",
    "GlobalLimit", "Offset", "CoGroup", "MapGroups",
    "FlatMapGroupsInPandas", "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInPandas", "FlatMapCoGroupsInArrow",
    "MapInPandas", "PythonMapInArrow", "MapInArrow",
})

#: head-of-line node-name extractor: skips the tree-drawing prefix
#: (`+- `, `:- `, `|  `, indentation) and captures the node class name
_NODE_NAME = re.compile(r"^[\s+\-:|']*([A-Za-z]\w*)")


def _has_shuffle_node(analyzed_str: str) -> bool:
    for line in analyzed_str.splitlines():
        m = _NODE_NAME.match(line)
        if m and m.group(1) in _SHUFFLE_NODES:
            return True
    return False


def spread(df: DataFrame, cols: list[str] | None = None,
           min_bytes: int = 0) -> DataFrame:
    """Repartition ``df`` to the session default parallelism iff its
    current plan yields fewer partitions — the scale-adaptive
    parallelism floor for CPU-heavy work over unsplittable inputs.

    ``cols``: columns to hash for the partitioning key (default: all) —
    pass the id column when the frame carries wide payloads so the hash
    itself stays cheap. Project the frame to the consumed columns BEFORE
    spreading (guide §2.3): the exchange should move only needed bytes.

    ``min_bytes``: skip the spread when the optimizer's size estimate is
    below this — for consumers whose per-byte work is too light to repay
    an exchange (see SPREAD_MIN_BYTES)."""
    want = df.sparkSession.sparkContext.defaultParallelism
    if want <= 1:
        return df
    try:
        # scan-rooted inputs only: a frame that already went through a
        # join/aggregate/window/repartition acquired its parallelism at
        # that shuffle, and adding a spread barrier above such a chain
        # measured SLOWER (it re-executes the chain into the exchange
        # and can break AQE exchange reuse between sibling consumers —
        # curate_corpus' despan stage went 4.5s -> 5.7s). Narrow
        # projections over a deficient scan are exactly the win case.
        lp = df._jdf.queryExecution().analyzed().toString()
        if _has_shuffle_node(lp):
            return df
        if min_bytes:
            sz = int(df._jdf.queryExecution().optimizedPlan()
                     .stats().sizeInBytes())
            if sz < min_bytes:
                return df
        have = df.rdd.getNumPartitions()
    except Exception:
        return df           # unplannable-to-RDD edge: change nothing
    if have >= want:
        return df
    key = F.xxhash64(*(F.col(c) for c in (cols or df.columns)))
    return df.repartition(want, key)
