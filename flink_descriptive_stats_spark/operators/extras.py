"""The reference's declared-but-unimplemented roadmap (SURVEY.md §2.7).

ProfileJob.java:67-71 lists: distinct rows, quartiles, histograms, outlier
counts, correlation; StatsPojo.java:50-53 adds distinct values and median.
Each is implemented Spark-first:

- distinct counts: exact (count_distinct) for the oracle gate plus
  approx_count_distinct (HLL++) as the 100 TB path (a single pass, mergeable
  sketch state — at scale the exact variant is the one you stop running).
- quantiles: exact percentile() for the oracle gate plus approx_percentile
  (Greenwald-Khanna sketch) as the scale path.
- histogram: equal-width bins over [min, max] — two-phase: a 1-row min/max
  agg broadcast-joined back, then one grouped count keyed by bucket index
  (bounded cardinality = bins, no skew).
- outliers: IQR (1.5x) and 3-sigma fence counts, one pass each after the
  1-row stats subquery.
- correlation: all-pairs Pearson corr in ONE aggregation pass (k*(k-1)/2
  corr buffers), not a job per pair.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_descriptive_stats_spark.functions import scalar
from flink_descriptive_stats_spark.functions.sig import sig6_py

QUARTILES = (0.25, 0.5, 0.75)


def numeric_columns(df: DataFrame) -> list[str]:
    return [f.name for f in df.schema.fields
            if scalar.is_numeric_type(f.dataType)]


def _exact_stats_row(df: DataFrame, cols: list[str]):
    """Quartiles + mean + stddev_pop for every column in ONE agg pass,
    memoized (functions/memo.py): quartiles() and outlier_counts() over the
    same input share a single percentile job instead of sorting each
    column's values twice."""
    from flink_descriptive_stats_spark.functions.memo import agg_row_memoized
    arr = F.array(*[F.lit(p) for p in QUARTILES])
    aggs = ([F.percentile(F.col(c), arr).alias(f"{c}__q") for c in cols]
            + [F.avg(F.col(c)).alias(f"{c}__mu") for c in cols]
            + [F.stddev_pop(F.col(c)).alias(f"{c}__sd") for c in cols])
    return agg_row_memoized(df, aggs, ("exact_stats", tuple(cols)))


# Above this many columns, distinct_counts(exact=None) auto-routes to the
# HLL++ sketch: the exact plan's Expand multiplies shuffle volume by the
# column count, so wide tables pay quadratic-feeling cost for exactness.
EXACT_DISTINCT_MAX_COLUMNS = 16


def distinct_counts(df: DataFrame, columns: list[str] | None = None,
                    exact: bool | None = None) -> DataFrame:
    """Distinct values per column — one row per column (long format).

    The exact plan puts N ``count_distinct`` aggs in one ``agg()``;
    Catalyst plans ONE Expand node that replicates EVERY input row N_cols
    times into the shuffle (shuffle volume = rows x columns — not "the
    same cost" as a single agg, it is N x the scan in shuffled bytes).
    That is acceptable as the oracle-comparable path on narrow tables,
    and at 100 TB it is the variant you stop running: exact=None (the
    default) therefore auto-routes tables wider than
    EXACT_DISTINCT_MAX_COLUMNS to approx_distinct_counts (HLL++ — single
    pass, no Expand, mergeable sketch state; output column is named
    approx_distinct_count so the switch is visible to the caller).
    Pass exact=True/False to force a path."""
    cols = columns or [f.name for f in df.schema.fields]
    if exact is None:
        exact = len(cols) <= EXACT_DISTINCT_MAX_COLUMNS
    if not exact:
        return approx_distinct_counts(df, columns=cols)
    agg = df.agg(*[F.count_distinct(F.col(c)).alias(c) for c in cols])
    row = agg.collect()[0]
    out = [(c, row[c]) for c in cols]
    return df.sparkSession.createDataFrame(out, "column string, distinct_count bigint")


def approx_distinct_counts(df: DataFrame, rsd: float = 0.05,
                           columns: list[str] | None = None) -> DataFrame:
    """HLL++ approximate distinct — the scale path (single pass, all columns
    at once, mergeable sketches; no Expand explosion)."""
    cols = columns or [f.name for f in df.schema.fields]
    agg = df.agg(*[F.approx_count_distinct(F.col(c), rsd).alias(c)
                   for c in cols])
    row = agg.collect()[0]
    out = [(c, row[c]) for c in cols]
    return df.sparkSession.createDataFrame(
        out, "column string, approx_distinct_count bigint")


def quantiles(df: DataFrame, columns: list[str] | None = None,
              probs: tuple[float, ...] = QUARTILES,
              exact: bool = True) -> DataFrame:
    """Quartiles/median per numeric column (long format: column, q_25, ...).

    exact=True uses percentile() (oracle-comparable); exact=False uses
    approx_percentile (GK sketch) — at 100 TB the exact variant implies a
    full sort buffer per column, the approximate one is a bounded-memory
    single pass."""
    cols = columns or numeric_columns(df)
    if exact and probs == QUARTILES:
        srow = _exact_stats_row(df, cols)
        row = {c: srow[f"{c}__q"] for c in cols}
    else:
        fn = F.percentile if exact else F.percentile_approx
        arr = F.array(*[F.lit(p) for p in probs])
        row = df.agg(*[fn(F.col(c), arr).alias(c) for c in cols]).collect()[0]
    out = [tuple([c] + ([None] * len(probs) if row[c] is None
                        else [sig6_py(v) for v in row[c]]))
           for c in cols]  # row[c] is NULL for an all-NULL column
    names = ", ".join(f"q_{int(p * 100)} string" for p in probs)
    return df.sparkSession.createDataFrame(out, f"column string, {names}")


def histogram(df: DataFrame, column: str, bins: int = 20) -> DataFrame:
    """Equal-width histogram: (bucket, lo, hi, cnt), bucket in [0, bins).

    Values at max land in the last bucket. The min/max subquery is a 1-row
    broadcast; the grouped count has at most ``bins`` keys."""
    c = F.col(column)
    mm = df.agg(F.min(c).alias("mn"), F.max(c).alias("mx"))
    joined = df.select(c.alias("x")).crossJoin(F.broadcast(mm))
    w = (F.col("mx") - F.col("mn")) / F.lit(float(bins))
    bucket = F.least(
        F.floor((F.col("x") - F.col("mn")) / w).cast("int"),
        F.lit(bins - 1))
    counts = (joined.where(F.col("x").isNotNull())
              .withColumn("bucket",
                          F.when(F.col("mx") == F.col("mn"), F.lit(0))
                          .otherwise(bucket))
              .groupBy("bucket")
              .agg(F.count(F.lit(1)).alias("cnt"),
                   F.first("mn").alias("mn"), F.first("mx").alias("mx")))
    rows = counts.collect()
    out = []
    for r in rows:
        mn, mx = r["mn"], r["mx"]
        width = (mx - mn) / float(bins)
        b = r["bucket"]
        out.append((b, sig6_py(mn + b * width),
                    sig6_py(mn + (b + 1) * width), r["cnt"]))
    return df.sparkSession.createDataFrame(
        sorted(out), "bucket int, lo string, hi string, cnt bigint")


def outlier_counts(df: DataFrame,
                   columns: list[str] | None = None) -> DataFrame:
    """IQR-fence (1.5x) and 3-sigma outlier counts per numeric column.

    One stats pass (quartiles + mean/stddev for every column in one agg),
    then ONE counting pass with all the fence predicates — two jobs total
    regardless of column count.

    The fence inputs (q1/q3/mu/sd) are round-tripped through the sig6
    7-significant-digit rendering before the fences are derived — the
    oracle does the same — so both engines compare data against
    bit-identical fence values instead of ULP-divergent raw aggregates.
    An all-NULL column has undefined fences; its counts are 0 (matching
    SQL's count-FILTER-over-NULL-predicate semantics)."""
    cols = columns or numeric_columns(df)
    stats_row = _exact_stats_row(df, cols)

    def _rt(v):  # sig6 round-trip ('3333333e-1' parses straight back)
        s = sig6_py(v)
        return None if s is None else float(s)

    count_exprs = []
    no_fence = set()
    for c in cols:
        q = stats_row[f"{c}__q"]
        mu, sd = _rt(stats_row[f"{c}__mu"]), _rt(stats_row[f"{c}__sd"])
        if q is None or mu is None or sd is None:
            no_fence.add(c)
            continue
        q1, q3 = _rt(q[0]), _rt(q[2])
        iqr = q3 - q1
        lo_iqr, hi_iqr = q1 - 1.5 * iqr, q3 + 1.5 * iqr
        lo_sig, hi_sig = mu - 3.0 * sd, mu + 3.0 * sd
        x = F.col(c)
        count_exprs.append(F.count_if(
            (x < F.lit(lo_iqr)) | (x > F.lit(hi_iqr))).alias(f"{c}__iqr"))
        count_exprs.append(F.count_if(
            (x < F.lit(lo_sig)) | (x > F.lit(hi_sig))).alias(f"{c}__sig"))
    counts = df.agg(*count_exprs).collect()[0] if count_exprs else {}
    out = [(c, 0, 0) if c in no_fence
           else (c, counts[f"{c}__iqr"], counts[f"{c}__sig"]) for c in cols]
    return df.sparkSession.createDataFrame(
        out, "column string, iqr_outliers bigint, sigma3_outliers bigint")


def _snapshot_bucket_counts(df_a: DataFrame, df_b: DataFrame,
                            column: str, bins: int):
    """Shared two-snapshot bucketing for the drift measures (PSI / JSD):
    equal-width edges from snapshot A with ±inf edge buckets, ONE grouped
    count per snapshot (bounded keys = bins + 2)."""
    c = F.col(column)
    mm = df_a.agg(F.min(c).alias("mn"), F.max(c).alias("mx")).collect()[0]
    mn, mx = mm["mn"], mm["mx"]
    if mn is None or mx == mn:
        raise ValueError(f"column {column!r}: snapshot A has no numeric "
                         f"spread to bucket (min={mn!r}, max={mx!r})")
    width = (mx - mn) / float(bins)

    def bucket_counts(df: DataFrame) -> dict[int, int]:
        b = F.when(c < mn, F.lit(-1)).when(
            c >= mx, F.lit(bins - 1) + F.when(c > mx, 1).otherwise(0)
        ).otherwise(F.floor((c - F.lit(mn)) / F.lit(width)).cast("int"))
        # clamp x == mx into the last bucket; x > mx into the overflow
        rows = (df.where(c.isNotNull())
                .groupBy(b.alias("bucket"))
                .agg(F.count(F.lit(1)).alias("n")).collect())
        return {r["bucket"]: r["n"] for r in rows}

    na, nb = bucket_counts(df_a), bucket_counts(df_b)
    return mn, width, na, nb, sum(na.values()), sum(nb.values())


def psi_drift(df_a: DataFrame, df_b: DataFrame, column: str,
              bins: int = 10, eps: float = 1e-6) -> DataFrame:
    """Population Stability Index between two snapshots of a numeric
    column — the standard drift check when a corpus is refreshed: bucket
    edges come from snapshot A (the reference distribution, equal-width
    over its min/max with +-inf edge buckets), both snapshots are counted
    per bucket, and each bucket contributes
    ``(pa - pb) * ln(pa / pb)`` with proportions floored at ``eps``
    (PSI > 0.2 conventionally = significant drift, sum over buckets).

    Output long format: (bucket, lo, hi, n_a, n_b, pct_a, pct_b, psi_term)
    — sig6-rendered floats, one row per non-empty bucket; total PSI =
    sum of psi_term.

    Physical shape: one 1-row min/max agg on A, then ONE grouped count per
    snapshot keyed by bucket index (bounded cardinality = bins + 2) — the
    same two-phase plan as histogram(), twice. No joins of the raw data."""
    mn, width, na, nb, ta, tb = _snapshot_bucket_counts(
        df_a, df_b, column, bins)
    out = []
    for b in sorted(set(na) | set(nb)):
        lo = None if b < 0 else mn + b * width
        hi = None if b > bins - 1 else (mn + (b + 1) * width
                                        if b >= 0 else mn)
        pa = max(na.get(b, 0) / ta, eps) if ta else eps
        pb = max(nb.get(b, 0) / tb, eps) if tb else eps
        term = (pa - pb) * math.log(pa / pb)
        out.append((b, sig6_py(lo), sig6_py(hi), na.get(b, 0), nb.get(b, 0),
                    sig6_py(pa), sig6_py(pb), sig6_py(term)))
    return df_a.sparkSession.createDataFrame(
        out, "bucket int, lo string, hi string, n_a bigint, n_b bigint, "
             "pct_a string, pct_b string, psi_term string")


def js_drift(df_a: DataFrame, df_b: DataFrame, column: str,
             bins: int = 10) -> DataFrame:
    """Jensen-Shannon divergence between two snapshots of a numeric
    column — the BOUNDED, symmetric companion to PSI (JSD in [0, ln 2];
    PSI is unbounded and blows up on empty cells, JSD does not need an
    epsilon floor): per bucket,
    jsd_term = (pa*ln(pa/m) + pb*ln(pb/m)) / 2 with m = (pa+pb)/2, and
    0-count cells contribute their one-sided half exactly (x ln(x/m) -> 0
    as x -> 0). Output: (bucket, n_a, n_b, pct_a, pct_b, jsd_term);
    total JSD = sum of jsd_term.

    Same physical shape as psi_drift (shared bucketing helper): one 1-row
    min/max on A + one bounded grouped count per snapshot."""
    mn, width, na, nb, ta, tb = _snapshot_bucket_counts(
        df_a, df_b, column, bins)
    out = []
    for b in sorted(set(na) | set(nb)):
        pa = na.get(b, 0) / ta if ta else 0.0
        pb = nb.get(b, 0) / tb if tb else 0.0
        m = (pa + pb) / 2.0
        term = 0.0
        if pa > 0:
            term += pa * math.log(pa / m) / 2.0
        if pb > 0:
            term += pb * math.log(pb / m) / 2.0
        out.append((b, na.get(b, 0), nb.get(b, 0),
                    sig6_py(pa), sig6_py(pb), sig6_py(term)))
    return df_a.sparkSession.createDataFrame(
        out, "bucket int, n_a bigint, n_b bigint, pct_a string, "
             "pct_b string, jsd_term string")


def correlation_matrix(df: DataFrame,
                       columns: list[str] | None = None,
                       max_pairs_per_pass: int = 4000,
                       method: str | None = None) -> DataFrame:
    """All-pairs Pearson correlation (long format: col_a, col_b, corr).

    method="agg" (the gated/oracle path; auto-chosen up to
    ``max_pairs_per_pass`` pairs ≈ 89 columns): k*(k-1)/2 corr buffers
    in a single HashAggregate, not a job per pair; past the budget the
    pair list chunks into multiple passes (pairs are independent
    aggregates, so chunked == single exactly, pytest-pinned).

    method="gram" (auto-chosen above the budget) is the wide-schema /
    100 TB path: each corr aggregate costs ~6 codegen'd buffer slots, so
    250 columns = 31,125 aggregates is a janino planning blowup that
    measured 8-30s PER PASS on a 400-row frame — the expression tree,
    not the data, is the cost. Instead: one narrow k-slot means pass,
    then ONE Arrow mapInPandas pass emitting each partition's CENTERED
    Gram-triangle partials as (i, j, sum) rows — numpy does the k x k
    BLAS product per batch, Spark's ordinary partial aggregation sums
    the bounded k(k+1)/2-row partials, and the driver finishes
    corr = C_ab / sqrt(C_aa * C_bb) on O(k^2) floats. Centering by the
    broadcast global means keeps the raw-sum formula numerically tame.
    Semantics deltas vs "agg", both documented: NULL handling is
    LISTWISE (one dropna frame for the whole matrix) where corr() is
    pairwise per pair — identical on NULL-free columns (pytest pins
    gram == agg on such a frame); a zero-variance column yields NULL
    instead of ANSI divide-by-zero."""
    cols = columns or numeric_columns(df)
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]
    if not pairs:      # 0/1 columns: nothing to correlate, not an error
        return df.sparkSession.createDataFrame(
            [], "col_a string, col_b string, corr string")
    if method is None:
        method = "agg" if len(pairs) <= max_pairs_per_pass else "gram"
    if method == "gram":
        return _correlation_matrix_gram(df, cols)
    row: dict = {}
    for lo in range(0, len(pairs), max_pairs_per_pass):
        chunk = pairs[lo:lo + max_pairs_per_pass]
        r = df.agg(*[F.corr(F.col(a), F.col(b)).alias(f"{a}__{b}")
                     for a, b in chunk]).collect()[0]
        row.update(r.asDict())
    out = []
    for a, b in pairs:
        v = row[f"{a}__{b}"]
        if v is not None and not math.isnan(v) and abs(v) < 1e-9:
            v = 0.0  # cross-engine summation noise on uncorrelated pairs
        out.append((a, b, sig6_py(v)))
    return df.sparkSession.createDataFrame(
        out, "col_a string, col_b string, corr string")


def _gram_matrix(df: DataFrame, cols: list[str]):
    """The shared Gram core of the wide-schema correlation / covariance
    paths: returns (C, n) where C is the k x k CENTERED cross-product
    matrix sum((x_a - mu_a)(x_b - mu_b)) over the listwise-complete rows
    and n their count. Shape: one k-slot avg aggregate (bounded), one
    narrow mapInPandas scan whose per-batch output is the k(k+1)/2 + 1
    partial rows (never the data), one bounded groupBy(i, j) sum."""
    import numpy as np
    import pandas as pd
    from typing import Iterator

    base = df.select(*[F.col(c).cast("double").alias(c)
                       for c in cols]).dropna()
    mrow = base.agg(*[F.avg(c).alias(c) for c in cols]).collect()[0]
    k = len(cols)
    mu = np.array([mrow[c] if mrow[c] is not None else 0.0
                   for c in cols], dtype=np.float64)
    iu = np.triu_indices(k)
    ii = np.concatenate([iu[0], [-1]]).astype("int32")
    jj = np.concatenate([iu[1], [-1]]).astype("int32")

    def gram(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            X = pdf[cols].to_numpy(dtype=np.float64) - mu
            G = X.T @ X
            # the (-1,-1) row carries the batch's row count, so n rides
            # the same bounded partial-sum aggregate as the products
            yield pd.DataFrame(
                {"i": ii, "j": jj,
                 "s": np.concatenate([G[iu], [float(len(X))]])})

    parts = base.mapInPandas(gram, "i int, j int, s double")
    C = np.zeros((k, k))
    n = 0
    for r in parts.groupBy("i", "j").agg(F.sum("s").alias("s")).collect():
        if r["i"] < 0:
            n = int(r["s"])
        else:
            C[r["i"], r["j"]] = r["s"]
    return C, n


def _correlation_matrix_gram(df: DataFrame, cols: list[str]) -> DataFrame:
    """The wide-schema Gram path of correlation_matrix — see there for
    the contract; driver math over O(k^2) floats."""
    C, _ = _gram_matrix(df, cols)
    k = len(cols)
    out = []
    for i in range(k):
        for j in range(i + 1, k):
            denom = math.sqrt(C[i, i] * C[j, j])
            v = C[i, j] / denom if denom > 0.0 else None
            if v is not None and abs(v) < 1e-9:
                v = 0.0   # summation noise on uncorrelated pairs
            out.append((cols[i], cols[j], sig6_py(v)))
    return df.sparkSession.createDataFrame(
        out, "col_a string, col_b string, corr string")


#: default ceiling on the grouped-matrix driver materialization:
#: groups x pairs result cells (each one float + three short strings).
#: ~2M cells is low-hundreds-of-MB of Python rows — generous for every
#: segment-style group key, far below anything that could brown out a
#: driver. The auto budget divides it by the pair count, so a 250-col
#: call (31k pairs) gets ~64 groups by default while a 2-col call gets
#: 2M groups; an explicit max_groups overrides.
GROUPED_MATRIX_MAX_CELLS = 2_000_000

#: internal sentinel: the caller (grouped_spearman) already ran the
#: budget probe on the cheap pre-rank frame — don't probe again on the
#: derived frame (whose distinct would trigger the rank windows).
_BUDGET_CHECKED = object()


def _check_group_budget(df: DataFrame, group_col: str, n_pairs: int,
                        max_groups: int | None, op: str) -> None:
    """Enforce the grouped-matrix group-cardinality budget BEFORE any
    expensive work: these operators return (and driver-materialize) a
    groups x pairs frame, bounded for the segment-style keys they exist
    for — but nothing in the data model stops
    grouped_correlation(df, "user_id", 250 cols), which is 100k groups
    x 31k pairs = 3.1B driver floats. One cheap bounded probe
    (distinct().limit(budget+1).count() — partial aggregation makes
    this metadata-scale) raises a clear, actionable error instead of
    letting the driver collect an unbounded result. max_groups=None
    derives the budget from GROUPED_MATRIX_MAX_CELLS / n_pairs; pass an
    explicit max_groups to raise (or tighten) it when groups x pairs is
    genuinely bounded for your key."""
    budget = (max(64, GROUPED_MATRIX_MAX_CELLS // max(1, n_pairs))
              if max_groups is None else int(max_groups))
    n = (df.select(F.col(group_col)).distinct()
         .limit(budget + 1).count())
    if n > budget:
        raise ValueError(
            f"{op}: group column '{group_col}' has more than {budget} "
            f"distinct values ({'auto budget from ' + str(n_pairs) + ' pairs' if max_groups is None else 'explicit max_groups'}); "
            f"the result is groups x pairs = >{budget * n_pairs} cells "
            "materialized on the driver. Use a coarser segment key, "
            "restrict `columns`, or pass an explicit max_groups if "
            "groups x pairs is genuinely bounded for this key.")


def grouped_correlation(df: DataFrame, group_col: str,
                        columns: list[str] | None = None,
                        max_pairs_per_pass: int = 4000,
                        method: str | None = None,
                        max_groups: int | None = None) -> DataFrame:
    """Per-segment Pearson correlation — (group, col_a, col_b, corr),
    the which-segment-has-different-structure view of
    correlation_matrix (the same relationship check_constraints_by has
    to check_constraints): a pair whose correlation flips sign or
    collapses in one source/segment is a data-integration bug the
    corpus-level matrix averages away.

    method="agg" (the oracle path; auto-chosen up to
    ``max_pairs_per_pass`` pairs): k(k-1)/2 Pearson buffers ride a
    groupBy instead of a global agg, with PAIRWISE-complete NULL
    handling — each column is null-masked on its partner
    (when(b not null, a) etc.), so covar AND both stddevs run over the
    rows where BOTH columns are non-null, exactly DuckDB's grouped
    corr() (an unmasked covar/stddev composition would mix per-column
    row sets on misaligned NULLs and stop being Pearson). try_divide
    keeps a within-group constant column at NULL instead of an ANSI
    DIVIDE_BY_ZERO (F.corr itself THROWS there under ANSI mode, which
    is why the masked composition is used rather than corr()).
    Chunked past the budget exactly like correlation_matrix, merged on
    the bounded groups x pairs frame.

    method="gram" (auto-chosen above the budget) is the wide-schema
    route: the SAME centered-Gram Arrow kernel as correlation_matrix,
    extended to emit (group, i, j, sum) partials per batch — per-group
    means from ONE bounded grouped k-slot aggregate, numpy's k x k BLAS
    product per (batch, group), bounded groupBy(group, i, j) partial
    sums, driver math on groups x O(k^2) floats. A 250-column grouped
    call never meets the per-chunk-per-group janino planning cliff the
    agg route would re-meet. Same documented deltas as the global gram
    path: NULL handling is LISTWISE per group (one dropna over the k
    columns), identical to "agg" on NULL-free columns (pytest-pinned);
    within-group constant columns yield NULL, never an ANSI error; the
    group key renders via SQL CAST(.. AS STRING) rather than Python
    str() — identical for string/int keys.

    Output is bounded by groups x pairs — and that bound is ENFORCED:
    a cheap bounded distinct probe raises a clear error when the group
    key's cardinality exceeds ``max_groups`` (default: auto,
    GROUPED_MATRIX_MAX_CELLS / n_pairs), before any expensive work —
    the guard against grouped_correlation(df, "user_id", 250 cols)
    silently driving a 3.1B-float driver materialization. NULL groups
    form their own segment, like every grouped operator here. corr of
    a within-group constant column is NULL (not an error)."""
    cols = columns or [c for c in numeric_columns(df) if c != group_col]
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]
    if not pairs:
        return df.sparkSession.createDataFrame(
            [], "group string, col_a string, col_b string, corr string")
    if max_groups is not _BUDGET_CHECKED:
        _check_group_budget(df, group_col, len(pairs), max_groups,
                            "grouped_correlation")
    if method is None:
        method = "agg" if len(pairs) <= max_pairs_per_pass else "gram"
    if method == "gram":
        return _grouped_correlation_gram(df, group_col, cols)
    rows: dict = {}
    for lo in range(0, len(pairs), max_pairs_per_pass):
        chunk = pairs[lo:lo + max_pairs_per_pass]
        exprs = []
        for a, b in chunk:
            xa = F.when(F.col(b).isNotNull(), F.col(a).cast("double"))
            xb = F.when(F.col(a).isNotNull(), F.col(b).cast("double"))
            exprs.append(F.try_divide(
                F.covar_samp(xa, xb),
                F.stddev_samp(xa) * F.stddev_samp(xb))
                .alias(f"{a}__{b}"))
        g = (df.groupBy(F.col(group_col).alias("group")).agg(*exprs))
        for r in g.collect():
            rows.setdefault(r["group"], {}).update(
                {k: r[k] for k in r.asDict() if k != "group"})
    out = []
    for grp in sorted(rows, key=lambda x: (x is None, str(x))):
        for a, b in pairs:
            v = rows[grp].get(f"{a}__{b}")
            if v is not None and not math.isnan(v) and abs(v) < 1e-9:
                v = 0.0
            if v is not None and math.isnan(v):
                v = None
            out.append((None if grp is None else str(grp),
                        a, b, sig6_py(v)))
    return df.sparkSession.createDataFrame(
        out, "group string, col_a string, col_b string, corr string")


def _grouped_gram(df: DataFrame, group_col: str, cols: list[str]):
    """Grouped extension of _gram_matrix: returns {group_key: (C, n)}
    where C is the group's k x k centered cross-product sum over its
    listwise-complete rows and n their count; the NULL group's key is
    None. Shape: one grouped k-slot avg aggregate (bounded: groups x k
    — k avg buffers, nothing pairwise, no janino cliff), one narrow
    mapInPandas scan emitting per-(batch, group) triangle partials
    (k(k+1)/2 + 1 rows each — never the data), one bounded
    groupBy(group, i, j) sum. Rows arriving at the driver number
    groups x (k(k+1)/2 + 1)."""
    import numpy as np
    import pandas as pd
    from typing import Iterator

    k = len(cols)
    base = (df.select(F.col(group_col).cast("string").alias("__g"),
                      *[F.col(c).cast("double").alias(c) for c in cols])
            .dropna(subset=list(cols)))
    mu = {r["__g"]: np.array([r[c] if r[c] is not None else 0.0
                              for c in cols], dtype=np.float64)
          for r in (base.groupBy("__g")
                    .agg(*[F.avg(c).alias(c) for c in cols]).collect())}
    iu = np.triu_indices(k)
    ii = np.concatenate([iu[0], [-1]]).astype("int32")
    jj = np.concatenate([iu[1], [-1]]).astype("int32")
    # NULL-group sentinel for the in-batch pandas groupby (pandas folds
    # None into NaN); the \x00 prefix cannot collide with cast-to-string
    # output of any Spark type
    SENT = "\x00__null_group__"

    def gram(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            keys = pdf["__g"].fillna(SENT)
            for g, sub in pdf.groupby(keys, sort=False):
                X = (sub[cols].to_numpy(dtype=np.float64)
                     - mu[None if g == SENT else g])
                G = X.T @ X
                yield pd.DataFrame(
                    {"g": None if g == SENT else g, "i": ii, "j": jj,
                     "s": np.concatenate([G[iu], [float(len(X))]])})

    parts = base.mapInPandas(gram, "g string, i int, j int, s double")
    out: dict = {}
    for r in (parts.groupBy("g", "i", "j")
              .agg(F.sum("s").alias("s")).collect()):
        C, n = out.setdefault(r["g"], [np.zeros((k, k)), 0])
        if r["i"] < 0:
            out[r["g"]][1] = int(r["s"])
        else:
            C[r["i"], r["j"]] = r["s"]
    return {g: (C, n) for g, (C, n) in out.items()}


def _grouped_correlation_gram(df: DataFrame, group_col: str,
                              cols: list[str]) -> DataFrame:
    """The wide-schema Gram route of grouped_correlation — see there
    for the contract; driver math over groups x O(k^2) floats."""
    mats = _grouped_gram(df, group_col, cols)
    k = len(cols)
    out = []
    for grp in sorted(mats, key=lambda x: (x is None, str(x))):
        C, _ = mats[grp]
        for i in range(k):
            for j in range(i + 1, k):
                denom = math.sqrt(C[i, i] * C[j, j])
                v = C[i, j] / denom if denom > 0.0 else None
                if v is not None and abs(v) < 1e-9:
                    v = 0.0   # summation noise on uncorrelated pairs
                out.append((grp, cols[i], cols[j], sig6_py(v)))
    return df.sparkSession.createDataFrame(
        out, "group string, col_a string, col_b string, corr string")


def covariance_matrix(df: DataFrame,
                      columns: list[str] | None = None,
                      max_pairs_per_pass: int = 4000,
                      method: str | None = None) -> DataFrame:
    """All-pairs SAMPLE covariance (long format: col_a, col_b, cov) —
    the unnormalized sibling of correlation_matrix, the input a feature
    pipeline needs for whitening / portfolio math where the scale of
    co-movement matters, not just its direction. Same two routes with
    the same auto-pick: "agg" (k(k-1)/2 covar_samp buffers, chunked past
    ``max_pairs_per_pass``; the ORACLE-comparable path — DuckDB's
    covar_samp mirrors it exactly under sig6) and "gram" (the shared
    centered-Gram Arrow pass; cov = C_ab / (n-1)). Gram-vs-agg deltas
    are the same as correlation_matrix's: listwise vs pairwise NULL
    deletion, identical on NULL-free columns (pytest-pinned)."""
    cols = columns or numeric_columns(df)
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]
    if not pairs:
        return df.sparkSession.createDataFrame(
            [], "col_a string, col_b string, cov string")
    if method is None:
        method = "agg" if len(pairs) <= max_pairs_per_pass else "gram"
    if method == "gram":
        C, n = _gram_matrix(df, cols)
        out = []
        for i in range(len(cols)):
            for j in range(i + 1, len(cols)):
                v = C[i, j] / (n - 1) if n > 1 else None
                out.append((cols[i], cols[j], sig6_py(v)))
        return df.sparkSession.createDataFrame(
            out, "col_a string, col_b string, cov string")
    row: dict = {}
    for lo in range(0, len(pairs), max_pairs_per_pass):
        chunk = pairs[lo:lo + max_pairs_per_pass]
        r = df.agg(*[
            F.covar_samp(F.col(a).cast("double"), F.col(b).cast("double"))
            .alias(f"{a}__{b}") for a, b in chunk]).collect()[0]
        row.update(r.asDict())
    out = []
    for a, b in pairs:
        v = row[f"{a}__{b}"]
        if v is not None and math.isnan(v):
            v = None
        out.append((a, b, sig6_py(v)))
    return df.sparkSession.createDataFrame(
        out, "col_a string, col_b string, cov string")


def grouped_spearman(df: DataFrame, group_col: str,
                     columns: list[str] | None = None,
                     exact: bool = True,
                     n_buckets: int = 200,
                     max_groups: int | None = None) -> DataFrame:
    """Per-segment Spearman rank correlation — (group, col_a, col_b,
    rho): the robust-association view of grouped_correlation, exactly
    as spearman_matrix is of correlation_matrix. A pair whose MONOTONE
    relationship flips or collapses in one segment is invisible both to
    the global rho (it averages) and to the grouped Pearson (outliers
    / nonlinearity mask it).

    exact=True (the oracle path): average ranks WITHIN each group —
    rank() over (partition by group order by c) + (ties - 1) / 2, the
    same tie policy as spearman_matrix — then the grouped Pearson
    aggregate over the rank frame. Note the grouped exact path is
    MORE scalable than the global one: the rank windows sort per
    group partition, not globally (one exchange keyed by group, same
    skew story as sessionize), so this is audit-scale only in the
    single-giant-group degenerate case.

    exact=False (the same exact/approx pairing as spearman_matrix):
    rank surrogate = equi-frequency bucket index from ONE GLOBAL
    approx_percentile cutpoint aggregate — a monotone transform of the
    value, and monotone globally implies monotone within every group,
    so per-group Pearson over the indices converges to the grouped rho
    as buckets shrink. No window or sort anywhere. A pytest pins the
    exact path against pandas-rank ground truth and the approx path's
    agreement.

    Listwise deletion over the selected columns (the spearman_matrix
    contract); NULL groups form their own segment; a within-group
    constant column yields NULL rho."""
    cols = columns or [c for c in numeric_columns(df) if c != group_col]
    n_pairs = len(cols) * (len(cols) - 1) // 2
    if n_pairs:
        # probe the CHEAP pre-rank frame (probing the ranked frame
        # would trigger the rank windows just to count groups) but
        # AFTER listwise deletion (ADVICE r9 #5): probing the raw
        # frame counted groups whose rows all drop, so a key within
        # budget post-drop could still raise — now the probe counts
        # exactly the groups the matrix aggregates, matching
        # grouped_correlation's contract, still window-free
        _check_group_budget(df.dropna(subset=list(cols)), group_col,
                            n_pairs, max_groups, "grouped_spearman")
    base = (df.select(F.col(group_col).alias("__g"), *cols)
            .dropna(subset=list(cols)))
    from pyspark.sql import Window
    if exact:
        ranked = base.select("__g", *[
            (F.rank().over(Window.partitionBy("__g").orderBy(c))
             + (F.count(F.lit(1)).over(Window.partitionBy("__g", c)) - 1)
             / 2.0).alias(c) for c in cols])
    else:
        probs = F.array(*[F.lit((i + 1) / n_buckets)
                          for i in range(n_buckets - 1)])
        cuts = base.agg(*[
            F.percentile_approx(F.col(c).cast("double"), probs).alias(c)
            for c in cols]).collect()[0]
        ranked = base.select("__g", *[
            (F.lit(0.0) if cuts[c] is None
             else _cut_index_expr(f"CAST(`{c}` AS DOUBLE)", cuts[c]))
            .alias(c) for c in cols])
    out = grouped_correlation(ranked, "__g", cols,
                              max_groups=_BUDGET_CHECKED)
    return out.select("group", "col_a", "col_b",
                      F.col("corr").alias("rho"))


def grouped_covariance(df: DataFrame, group_col: str,
                       columns: list[str] | None = None,
                       max_pairs_per_pass: int = 4000,
                       method: str | None = None,
                       max_groups: int | None = None) -> DataFrame:
    """Per-segment sample covariance — (group, col_a, col_b, cov), the
    unnormalized sibling of grouped_correlation exactly as
    covariance_matrix is of correlation_matrix: the input a per-segment
    whitening / risk decomposition needs when the SCALE of co-movement
    differs across segments, not just its direction.

    method="agg" (the oracle path; auto up to ``max_pairs_per_pass``
    pairs): k(k-1)/2 covar_samp buffers riding one groupBy —
    PAIRWISE-complete NULLs, DuckDB's grouped covar_samp exactly under
    sig6; chunked past the budget, merged on the bounded groups x pairs
    frame; a single-row group (covar_samp NaN) maps to NULL.
    method="gram" (auto above the budget): the SAME grouped centered-
    Gram kernel as grouped_correlation — cov = C_g[a,b] / (n_g - 1) —
    with the same documented deltas (listwise per-group NULL deletion,
    CAST-rendered group key), identical on NULL-free columns
    (pytest-pinned)."""
    cols = columns or [c for c in numeric_columns(df) if c != group_col]
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]
    if not pairs:
        return df.sparkSession.createDataFrame(
            [], "group string, col_a string, col_b string, cov string")
    _check_group_budget(df, group_col, len(pairs), max_groups,
                        "grouped_covariance")
    if method is None:
        method = "agg" if len(pairs) <= max_pairs_per_pass else "gram"
    if method == "gram":
        mats = _grouped_gram(df, group_col, cols)
        out = []
        for grp in sorted(mats, key=lambda x: (x is None, str(x))):
            C, n = mats[grp]
            for i in range(len(cols)):
                for j in range(i + 1, len(cols)):
                    v = C[i, j] / (n - 1) if n > 1 else None
                    out.append((grp, cols[i], cols[j], sig6_py(v)))
        return df.sparkSession.createDataFrame(
            out, "group string, col_a string, col_b string, cov string")
    rows: dict = {}
    for lo in range(0, len(pairs), max_pairs_per_pass):
        chunk = pairs[lo:lo + max_pairs_per_pass]
        g = (df.groupBy(F.col(group_col).alias("group"))
             .agg(*[F.covar_samp(F.col(a).cast("double"),
                                 F.col(b).cast("double"))
                    .alias(f"{a}__{b}") for a, b in chunk]))
        for r in g.collect():
            rows.setdefault(r["group"], {}).update(
                {k: r[k] for k in r.asDict() if k != "group"})
    out = []
    for grp in sorted(rows, key=lambda x: (x is None, str(x))):
        for a, b in pairs:
            v = rows[grp].get(f"{a}__{b}")
            if v is not None and math.isnan(v):
                v = None
            out.append((None if grp is None else str(grp),
                        a, b, sig6_py(v)))
    return df.sparkSession.createDataFrame(
        out, "group string, col_a string, col_b string, cov string")


def rolling_stats(df: DataFrame, ts_col: str = "ts",
                  key_col: str = "user_id", value_col: str = "value",
                  window_seconds: int = 3600) -> DataFrame:
    """Per-event trailing-window statistics: for each row, count/mean/min/
    max of ``value_col`` over the key's events in the preceding
    ``window_seconds`` (inclusive of the current event) — the ordered
    RANGE-window time-series analytic (rolling rates, per-user activity
    features) that the groupBy-window profiles cannot express, because the
    frame slides per EVENT, not per fixed bucket.

    Physical shape: ONE exchange keyed by ``key_col``, then a per-key sort
    and a linear frame scan (Spark's RangeFrame) — no self-join, no
    explode. Hot keys are bounded by a single key's event volume, same
    skew story as sessionize. Mean goes through sig6: a sliding-frame sum
    is order-sensitive across engines."""
    from pyspark.sql import Window
    from flink_descriptive_stats_spark.functions.sig import sig6
    e = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = (Window.partitionBy(key_col).orderBy(e)
         .rangeBetween(-window_seconds * 1_000_000, 0))
    x = F.col(value_col).cast("double")
    return (df.select(
        F.col(key_col), F.col(ts_col).cast("timestamp").alias(ts_col),
        x.alias(value_col),
        F.count(x).over(w).alias("roll_n"),
        sig6(F.avg(x).over(w)).alias("roll_mean"),
        F.min(x).over(w).alias("roll_min"),
        F.max(x).over(w).alias("roll_max")))


def grouped_zscore_outliers(df: DataFrame, key_col: str = "event_type",
                            value_col: str = "value",
                            z: float = 3.0) -> DataFrame:
    """Rows whose value is more than ``z`` population stddevs from their
    GROUP's mean — per-segment anomaly flags, where the global 3-sigma
    fence (outlier_counts) would mask group-level structure.

    Two-phase like histogram: a tiny per-group stats aggregate (one
    map-side-combined groupBy, |groups| rows) joined back against the scan
    (AQE broadcasts it), then a narrow filter. The z-score itself goes
    through sig6 for cross-engine comparability."""
    from flink_descriptive_stats_spark.functions.sig import sig6
    x = F.col(value_col).cast("double")
    stats = (df.groupBy(key_col)
             .agg(F.avg(x).alias("__mu"), F.stddev_pop(x).alias("__sd")))
    # the DISCRETE keep/drop decision is made on the sig6-ROUNDED score:
    # group mean/stddev differ across engines in the last ulp, and a raw
    # fence would flip borderline rows between Spark and the oracle
    score = sig6((x - F.col("__mu")) / F.col("__sd"))
    return (df.join(stats, key_col)
            .where(F.col("__sd") > 0)
            .where(F.abs(score.cast("double")) > z)
            .select(F.col(key_col), x.alias(value_col),
                    score.alias("zscore")))


def grouped_quantiles(df: DataFrame, key_col: str = "event_type",
                      value_col: str = "value",
                      probs: tuple[float, ...] = QUARTILES,
                      exact: bool = True) -> DataFrame:
    """Per-GROUP percentiles in one grouped aggregation — the segment-level
    companion to the per-column quantiles(): (key, q_25, q_50, q_75).

    One shuffle keyed by the group column with map-side partial percentile
    buffers; per-group exact percentile implies a per-group sort buffer, so
    exact=False swaps in approx_percentile (GK, bounded memory) — at 100 TB
    with heavy groups the sketch is the one you run."""
    from flink_descriptive_stats_spark.functions.sig import sig6
    fn = F.percentile if exact else F.percentile_approx
    arr = F.array(*[F.lit(p) for p in probs])
    agg = (df.groupBy(key_col)
           .agg(fn(F.col(value_col).cast("double"), arr).alias("__q")))
    return agg.select(
        F.col(key_col),
        *[sig6(F.col("__q")[i]).alias(f"q_{int(p * 100)}")
          for i, p in enumerate(probs)])


def json_profile(df: DataFrame, json_col: str = "props") -> DataFrame:
    """Profile a semi-structured JSON-string column by KEY: one row per
    distinct key with presence count, numeric count, and numeric min/max/
    mean — the schema-on-read profiler for event-property bags where the
    key set is data, not schema.

    Spark-first shape: ``from_json`` to ``map<string,string>`` (no driver
    key discovery, no per-key expressions), explode to (key, value) long
    format — scan-local — then ONE groupBy(key) with map-side combine.
    Key cardinality bounds the final aggregate at any input scale.
    Numeric stats are computed on the double-castable subset; the mean
    goes through sig6 (cross-engine summation order)."""
    from flink_descriptive_stats_spark.functions.sig import sig6
    kv = (df.where(F.col(json_col).isNotNull())
          .select(F.explode(
              F.from_json(F.col(json_col), "map<string,string>"))
              .alias("key", "value")))
    # try_cast, not cast: ANSI mode (Spark 4 default) throws on
    # non-numeric strings; the oracle's TRY_CAST nulls them identically
    x = F.col("value").try_cast("double")
    return (kv.groupBy("key")
            .agg(F.count(F.lit(1)).alias("present"),
                 F.count(x).alias("numeric_n"),
                 F.min(x).alias("min_val"), F.max(x).alias("max_val"),
                 sig6(F.avg(x)).alias("mean_val")))


def distinct_row_stats(df: DataFrame,
                       columns: list[str] | None = None) -> DataFrame:
    """Whole-row (or column-tuple) distinctness — the reference roadmap's
    'distinct rows' (ProfileJob.java:67): one row with (n_rows,
    distinct_rows, duplicate_rows).

    count_distinct over a struct of the columns — one aggregation, NULL
    fields compare equal inside the tuple on both engines. At 100 TB the
    exact tuple-distinct is a full shuffle of the projected tuple space;
    pair with approx_distinct_counts for the sketch answer."""
    cols = columns or [f.name for f in df.schema.fields]
    return (df.agg(F.count(F.lit(1)).alias("n_rows"),
                   F.count_distinct(F.struct(*[F.col(c) for c in cols]))
                   .alias("distinct_rows"))
            .withColumn("duplicate_rows",
                        F.col("n_rows") - F.col("distinct_rows")))


def column_entropy(df: DataFrame,
                   columns: list[str] | None = None) -> DataFrame:
    """Per-column value-distribution profile: (column, n_non_null,
    null_count, distinct_values, top_freq, entropy, entropy_norm) —
    Shannon entropy (nats), its [0,1] normalization by ln(distinct), and
    the modal value's frequency share. The uniqueness/dispersion stats a
    descriptive profiler reports next to distinct counts.

    Spark-first shape: melt every column to (column, value) long format
    (values carried as their string cast — injective per engine, and only
    aggregates leave this plan, so engine rendering differences cannot
    surface), ONE groupBy(column, value) count with map-side combine, then
    a per-column rollup using H = ln(n) - (sum cnt*ln cnt)/n, which needs
    no per-row probabilities. Shuffles are keyed by (column, value) then
    column — the same cost shape as the top-K melt; no driver loops."""
    from flink_descriptive_stats_spark.functions.sig import sig6
    cols = columns or [f.name for f in df.schema.fields]
    structs = [F.struct(F.lit(c).alias("column"),
                        F.col(c).cast("string").alias("v")) for c in cols]
    melted = (df.select(F.explode(F.array(*structs)).alias("s"))
              .select("s.*"))
    counts = melted.groupBy("column", "v").agg(
        F.count(F.lit(1)).alias("cnt"))
    nn = F.col("v").isNotNull()
    agg = counts.groupBy("column").agg(
        F.coalesce(F.sum(F.when(nn, F.col("cnt"))), F.lit(0))
        .alias("n_non_null"),
        F.coalesce(F.sum(F.when(~nn, F.col("cnt"))), F.lit(0))
        .alias("null_count"),
        F.count(F.when(nn, F.lit(1))).alias("distinct_values"),
        F.max(F.when(nn, F.col("cnt"))).alias("__top"),
        F.sum(F.when(nn, F.col("cnt").cast("double")
                     * F.log(F.col("cnt").cast("double")))).alias("__s"))
    n = F.col("n_non_null").cast("double")
    ent = F.when(F.col("n_non_null") > 0,
                 F.log(n) - F.col("__s") / n)
    return agg.select(
        "column", "n_non_null", "null_count", "distinct_values",
        sig6(F.col("__top").cast("double") / n).alias("top_freq"),
        sig6(ent).alias("entropy"),
        sig6(F.when(F.col("distinct_values") > 1,
                    ent / F.log(F.col("distinct_values").cast("double")))
             .when(F.col("n_non_null") > 0, F.lit(0.0))).alias(
                 "entropy_norm"))


def referential_integrity(fact: DataFrame, dim: DataFrame, fk,
                          pk) -> DataFrame:
    """Foreign-key integrity between two tables: one row with
    (fk_rows, null_fk, matched, orphans, orphan_fraction,
    distinct_orphan_keys) — the cross-table data-quality check a profiler
    runs before any join-dependent metric is trusted.

    ``fk``/``pk`` accept a column name or a same-length TUPLE of names
    for a COMPOSITE key (r11, matching the dependencies family): a row
    with ANY NULL component counts as null_fk ('no reference', SQL
    simple-match semantics), and distinct_orphan_keys counts distinct
    component COMBINATIONS.

    Shape: the dim side collapses to DISTINCT keys before the join (a
    key-only projection, never dim payload), then one left join keyed by
    the fk + a single aggregate — composite keys ride the same single
    multi-column shuffle key. AQE broadcasts the key set when small;
    at 100 TB with a big dim both sides shuffle once on the key — the
    minimal cost for an exact answer. NULL fks are counted separately
    (SQL semantics: NULL matches nothing but usually means 'absent', not
    'broken')."""
    from functools import reduce as _reduce

    from flink_descriptive_stats_spark.functions.sig import sig6
    from flink_descriptive_stats_spark.operators.dependencies import \
        _key_cols
    fks, pks = _key_cols(fk), _key_cols(pk)
    if len(fks) != len(pks):
        raise ValueError(f"key widths differ: {fks} vs {pks}")
    fnames = [f"__fk{i}" for i in range(len(fks))]
    knames = [f"__k{i}" for i in range(len(pks))]
    keys = (dim.select(*[F.col(c).alias(k)
                         for c, k in zip(pks, knames)])
            .where(_reduce(lambda a, b: a & b,
                           (F.col(k).isNotNull() for k in knames)))
            .distinct().withColumn("__hit", F.lit(1)))
    cond = _reduce(lambda a, b: a & b,
                   (F.col(fc) == F.col(kc)
                    for fc, kc in zip(fnames, knames)))
    j = fact.select(*[F.col(c).alias(n)
                      for c, n in zip(fks, fnames)]).join(
        keys, cond, "left")
    fknn = _reduce(lambda a, b: a & b,
                   (F.col(n).isNotNull() for n in fnames))
    orphan = fknn & F.col("__hit").isNull()
    agg = j.agg(
        F.count(F.when(fknn, F.lit(1))).alias("fk_rows"),
        F.count(F.when(~fknn, F.lit(1))).alias("null_fk"),
        F.count(F.when(fknn & F.col("__hit").isNotNull(), F.lit(1)))
        .alias("matched"),
        F.count(F.when(orphan, F.lit(1))).alias("orphans"),
        F.count_distinct(*[F.when(orphan, F.col(n))
                           for n in fnames])
        .alias("distinct_orphan_keys"))
    return agg.select(
        "fk_rows", "null_fk", "matched", "orphans",
        sig6(F.when(F.col("fk_rows") > 0,
                    F.col("orphans").cast("double")
                    / F.col("fk_rows").cast("double")))
        .alias("orphan_fraction"),
        "distinct_orphan_keys")


def benford_digits(df: DataFrame, column: str) -> DataFrame:
    """Leading-digit distribution vs Benford's law for an exact-decimal /
    integer column: (digit, n, frac, expected, abs_dev) for digits 1-9 —
    the classic fabricated-data / drift screen for accounting-shaped
    columns.

    The leading digit is taken from the value's STRING form (first [1-9]
    of the decimal text), which is exact for int/decimal columns on both
    engines — this operator deliberately does not accept float/double
    columns, whose text rendering is engine-specific (and whose binary
    rounding already perturbs the digit distribution). Zero and NULL
    values carry no leading digit and are excluded. Narrow extract + one
    groupBy over <= 9 keys; expected = log10(1 + 1/d)."""
    from pyspark.sql import types as T
    from flink_descriptive_stats_spark.functions.sig import sig6
    dt = df.schema[column].dataType
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        raise ValueError(
            f"benford_digits({column}): float/double rendering is "
            "engine-specific; cast to decimal first")
    digit = F.regexp_extract(F.col(column).cast("string"),
                             "([1-9])", 1)
    d = (df.where(F.col(column).isNotNull())
         .select(digit.alias("digit"))
         .where(F.col("digit") != "")
         .groupBy("digit").agg(F.count(F.lit(1)).alias("n")))
    tot = d.agg(F.sum("n").alias("tot"))
    j = d.crossJoin(F.broadcast(tot))
    dd = F.col("digit").cast("double")
    expected = F.log10(F.lit(1.0) + F.lit(1.0) / dd)
    frac = F.col("n").cast("double") / F.col("tot").cast("double")
    return (j.select(F.col("digit").cast("int").alias("digit"),
                     "n", sig6(frac).alias("frac"),
                     sig6(expected).alias("expected"),
                     sig6(F.abs(frac - expected)).alias("abs_dev"))
            .orderBy("digit"))


def histogram_equidepth(df: DataFrame, column: str,
                        buckets: int = 10) -> DataFrame:
    """Equi-depth (quantile-bucket) histogram: (bucket, lo, hi, cnt) with
    boundaries at the exact 1/buckets percentiles — the histogram that
    stays informative on skewed columns where equal-width bins collapse
    into one bar.

    Two phases like the equal-width histogram: a 1-row exact percentile
    aggregate (boundaries are bounded metadata, inlined as literals after
    sig6 rounding so both engines bucket by the identical cutpoints), then
    one narrow bucket assignment + grouped count over <= buckets keys.
    At 100 TB swap the boundary pass to approx_percentile (same contract
    as quantiles(exact=False))."""
    probs = [i / buckets for i in range(1, buckets)]
    x = F.col(column).cast("double")
    # cutpoints AND min/max in ONE 1-row aggregate pass (they were two
    # separate jobs; the boundary metadata should cost one scan)
    row = df.agg(
        F.percentile(F.col(column), F.array(
            *[F.lit(p) for p in probs])).alias("qs"),
        F.min(x).alias("mn"), F.max(x).alias("mx")).collect()[0]
    if row["qs"] is None:                      # all-NULL column
        return df.sparkSession.createDataFrame(
            [], "bucket int, lo double, hi double, cnt bigint")
    cuts = [float(sig6_py(v)) for v in row["qs"]]
    b = F.lit(0)
    for c in cuts:
        b = b + F.when(x > F.lit(c), 1).otherwise(0)
    mm = row
    lo_arr = [float(mm["mn"])] + cuts
    hi_arr = cuts + [float(mm["mx"])]
    lo = F.element_at(F.array(*[F.lit(v) for v in lo_arr]),
                      F.col("bucket") + 1)
    hi = F.element_at(F.array(*[F.lit(v) for v in hi_arr]),
                      F.col("bucket") + 1)
    return (df.where(x.isNotNull())
            .select(b.cast("int").alias("bucket"))
            .groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))
            .select("bucket", lo.alias("lo"), hi.alias("hi"), "cnt")
            .orderBy("bucket"))


def categorical_association(df: DataFrame, col_a: str,
                            col_b: str) -> DataFrame:
    """Association between two categorical columns: one row with (n,
    distinct_a, distinct_b, chi2, cramers_v, mutual_info) — the
    column-pair dependence screen next to the numeric correlation matrix
    (a profiler answers 'is lang independent of source?' with exactly
    this).

    Shape: ONE groupBy(a, b) count over the data (map-side combine);
    marginals, the chi-squared grid (cross join of the marginals, bounded
    by the category cardinalities — that product being small is what
    'categorical' means), and both statistics derive from that joint
    table without touching the raw data again. NULL categories are
    excluded (a NULL carries no category). MI in nats over observed
    cells; chi2 over the full expected grid; V = sqrt(chi2 / (n *
    (min(k_a, k_b) - 1)))."""
    from flink_descriptive_stats_spark.functions.sig import sig6
    joint = (df.where(F.col(col_a).isNotNull()
                      & F.col(col_b).isNotNull())
             .groupBy(F.col(col_a).alias("a"), F.col(col_b).alias("b"))
             .agg(F.count(F.lit(1)).alias("o")))
    ma = joint.groupBy("a").agg(F.sum("o").alias("ra"))
    mb = joint.groupBy("b").agg(F.sum("o").alias("rb"))
    tot = joint.agg(F.sum("o").alias("n"),
                    F.count_distinct("a").alias("ka"),
                    F.count_distinct("b").alias("kb"))
    grid = (ma.crossJoin(mb).crossJoin(F.broadcast(tot))
            .join(joint, ["a", "b"], "left")
            .withColumn("o", F.coalesce(F.col("o"), F.lit(0))))
    e = (F.col("ra").cast("double") * F.col("rb").cast("double")
         / F.col("n").cast("double"))
    od = F.col("o").cast("double")
    chi_term = (od - e) * (od - e) / e
    mi_term = F.when(
        F.col("o") > 0,
        od / F.col("n").cast("double")
        * F.log(od * F.col("n").cast("double")
                / (F.col("ra").cast("double")
                   * F.col("rb").cast("double")))).otherwise(F.lit(0.0))
    agg = grid.groupBy("n", "ka", "kb").agg(
        F.sum(chi_term).alias("__chi2"), F.sum(mi_term).alias("__mi"))
    minkm1 = F.least(F.col("ka"), F.col("kb")) - F.lit(1)
    v = F.when(minkm1 > 0,
               F.sqrt(F.col("__chi2")
                      / (F.col("n").cast("double")
                         * minkm1.cast("double"))))
    return agg.select(
        F.col("n"), F.col("ka").alias("distinct_a"),
        F.col("kb").alias("distinct_b"),
        sig6(F.col("__chi2")).alias("chi2"),
        sig6(v).alias("cramers_v"),
        sig6(F.col("__mi")).alias("mutual_info"))


def profile_compare(df_a: DataFrame, df_b: DataFrame,
                    columns: list[str] | None = None) -> DataFrame:
    """Snapshot drift report between two versions of a table: one row per
    numeric column with both snapshots' (n, null_rate, mean, stddev) and
    the derived drift signals — mean_shift_sigmas (|mean_b - mean_a| in
    pooled-stddev units) and null_rate_delta. The refresh-monitoring
    companion to psi_drift: PSI flags distribution shape change, this
    flags moment/completeness change with a per-column magnitude.

    One aggregation pass per snapshot (all columns in a single agg — the
    reference's one-job-per-table discipline), then a columns-sized join;
    no raw-data join anywhere."""
    from flink_descriptive_stats_spark.functions.sig import sig6
    cols = columns or [c for c in numeric_columns(df_a)
                       if c in set(numeric_columns(df_b))]

    def side(df: DataFrame, tag: str) -> DataFrame:
        aggs = []
        for c in cols:
            x = F.col(c).cast("double")
            aggs += [F.count(F.lit(1)).alias(f"{c}__rows"),
                     F.count(x).alias(f"{c}__n"),
                     F.avg(x).alias(f"{c}__mu"),
                     F.stddev_pop(x).alias(f"{c}__sd")]
        row = df.agg(*aggs)
        branches = [
            F.struct(F.lit(c).alias("column"),
                     F.col(f"{c}__rows").alias("rows"),
                     F.col(f"{c}__n").alias("n"),
                     F.col(f"{c}__mu").alias("mu"),
                     F.col(f"{c}__sd").alias("sd")) for c in cols]
        return (row.select(F.explode(F.array(*branches)).alias("s"))
                .select("s.column",
                        F.col("s.rows").alias(f"rows_{tag}"),
                        F.col("s.n").alias(f"n_{tag}"),
                        F.col("s.mu").alias(f"mu_{tag}"),
                        F.col("s.sd").alias(f"sd_{tag}")))

    j = side(df_a, "a").join(side(df_b, "b"), "column")
    nr = lambda t: (F.lit(1.0) - F.col(f"n_{t}").cast("double")
                    / F.col(f"rows_{t}").cast("double"))
    pooled = F.sqrt((F.col("sd_a") * F.col("sd_a")
                     + F.col("sd_b") * F.col("sd_b")) / F.lit(2.0))
    shift = F.when(pooled > 0,
                   F.abs(F.col("mu_b") - F.col("mu_a")) / pooled)
    return j.select(
        "column", F.col("n_a"), F.col("n_b"),
        sig6(nr("a")).alias("null_rate_a"),
        sig6(nr("b")).alias("null_rate_b"),
        sig6(F.col("mu_a")).alias("mean_a"),
        sig6(F.col("mu_b")).alias("mean_b"),
        sig6(F.col("sd_a")).alias("stddev_a"),
        sig6(F.col("sd_b")).alias("stddev_b"),
        sig6(shift).alias("mean_shift_sigmas"),
        sig6(nr("b") - nr("a")).alias("null_rate_delta"))


def ks_drift(df_a: DataFrame, df_b: DataFrame, column: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between two snapshots
    of a numeric column: one row (n_a, n_b, ks_stat) with
    ks = max_x |F_a(x) - F_b(x)|.

    Engine-exact by construction: per distinct value the cumulative
    counts are integers, and the sup is maximized over the INTEGER
    quantity |cum_a * n_b - cum_b * n_a| (one division at the very end),
    so no floating-point ordering is involved until the final sig6.

    Scale note: the cumulative distribution needs a global ordered
    running sum over the distinct values — Spark executes that window
    range-partitioned but the semantics are a global sort, the textbook
    non-scalable exact path. This is the oracle/audit variant; at 100 TB
    use psi_drift (bounded grouped counts) or a quantile-sketch distance
    for the same question."""
    from flink_descriptive_stats_spark.functions.sig import sig6
    from pyspark.sql import Window

    def counted(df: DataFrame, tag: str) -> DataFrame:
        return (df.where(F.col(column).isNotNull())
                .select(F.col(column).cast("double").alias("x"))
                .groupBy("x")
                .agg(F.count(F.lit(1)).alias(f"c_{tag}")))

    merged = (counted(df_a, "a").join(counted(df_b, "b"), "x", "full")
              .select("x",
                      F.coalesce("c_a", F.lit(0)).alias("c_a"),
                      F.coalesce("c_b", F.lit(0)).alias("c_b")))
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    cum = merged.select(
        F.sum("c_a").over(w).alias("cum_a"),
        F.sum("c_b").over(w).alias("cum_b"))
    # the sup over |cum_a * n_b - cum_b * n_a| needs the totals first: a
    # 1-row aggregate broadcast back over the distinct-value frame
    tot = (merged.agg(F.sum("c_a").alias("n_a"), F.sum("c_b").alias("n_b")))
    sup = (cum.crossJoin(F.broadcast(tot))
           .agg(F.max(F.abs(F.col("cum_a") * F.col("n_b")
                            - F.col("cum_b") * F.col("n_a"))).alias("sup"),
                F.first("n_a").alias("n_a"), F.first("n_b").alias("n_b")))
    return sup.select(
        "n_a", "n_b",
        sig6(F.col("sup").cast("double")
             / (F.col("n_a").cast("double") * F.col("n_b").cast("double")))
        .alias("ks_stat"))


def ks_drift_approx(df_a: DataFrame, df_b: DataFrame, column: str,
                    n_cuts: int = 256) -> DataFrame:
    """Sketch-grid two-sample KS distance — the 100 TB sibling of the
    exact ``ks_drift`` (which needs a global ordered cumulative sum):
    one row (n_a, n_b, ks_stat) with ks = max over a merged quantile
    GRID of |F_a(t) - F_b(t)|.

    Shape: both sides are tagged and unioned, and the WHOLE operator is
    ONE grouped aggregate over that union — per side, the ``n_cuts``
    GK cutpoints (percentile_approx: mergeable sketches, map-side
    combined, never a sort) plus the row count. Everything after is
    driver math over <= 2*n_cuts floats: each side's empirical CDF is
    evaluated at every merged cutpoint straight FROM its quantile grid
    (CDF_side(v) ~ #{own cutpoints <= v} / (n_cuts + 1) — the grid IS
    the inverse CDF sampled uniformly in rank space), and the sup runs
    over the merged grid. No second data pass, nothing per-row beyond
    the sketch update. Each CDF estimate errs by <= ~1/n_cuts (rank
    discretization) + the GK accuracy, so |ks_approx - ks_exact| <=
    ~2/n_cuts + sketch error — pytest-pinned against ks_drift on the
    fixtures."""
    from bisect import bisect_right

    from flink_descriptive_stats_spark.functions.sig import sig6
    probs = F.array(*[F.lit((i + 1) / (n_cuts + 1))
                      for i in range(n_cuts)])

    def side(df, tag):
        return (df.where(F.col(column).isNotNull())
                .select(F.col(column).cast("double").alias("x"),
                        F.lit(tag).alias("__t")))

    tagged = side(df_a, 0).union(side(df_b, 1))
    rows = {r["__t"]: r for r in tagged.groupBy("__t").agg(
        F.percentile_approx("x", probs).alias("q"),
        F.count(F.lit(1)).alias("n")).collect()}
    n_a = int(rows[0]["n"]) if 0 in rows else 0
    n_b = int(rows[1]["n"]) if 1 in rows else 0
    spark = df_a.sparkSession
    if n_a == 0 or n_b == 0:
        # a side is empty/all-NULL: KS undefined — report counts, NULL stat
        return spark.createDataFrame(
            [(n_a, n_b, None)], "n_a bigint, n_b bigint, ks_stat string")
    cuts_a = sorted(float(v) for v in rows[0]["q"])
    cuts_b = sorted(float(v) for v in rows[1]["q"])
    grid = sorted({*cuts_a, *cuts_b})
    denom = float(n_cuts + 1)
    ks = max(abs(bisect_right(cuts_a, g) - bisect_right(cuts_b, g))
             for g in grid) / denom
    out = spark.createDataFrame([(n_a, n_b, ks)],
                                "n_a bigint, n_b bigint, ks double")
    return out.select("n_a", "n_b", sig6(F.col("ks")).alias("ks_stat"))


def winsorize(df: DataFrame, column: str, lower: float = 0.01,
              upper: float = 0.99) -> DataFrame:
    """Winsorization/clipping cleaner: every value of ``column`` clamped
    into its [lower, upper] exact-percentile band (other columns pass
    through) — the standard outlier-taming transform before moment-based
    stats on heavy-tailed columns.

    The two cutpoints are a 1-row aggregate inlined as sig6-rounded
    literals (identical clamps on both engines); the clamp itself is
    narrow. At 100 TB use approx_percentile for the cutpoint pass."""
    row = df.agg(F.percentile(
        F.col(column), F.array(F.lit(lower), F.lit(upper))).alias("q")
    ).collect()[0]
    if row["q"] is None:
        return df
    lo, hi = (float(sig6_py(v)) for v in row["q"])
    x = F.col(column).cast("double")
    # NULLs fall through every when() to the otherwise(x) = NULL branch
    clamped = F.when(x < lo, lo).when(x > hi, hi).otherwise(x)
    return df.withColumn(column, clamped)


def robust_outlier_counts(df: DataFrame,
                          columns: list[str] | None = None,
                          threshold: float = 3.5) -> DataFrame:
    """Median/MAD-based outlier counts: (column, median, mad, n_outliers)
    with an outlier = |x - median| > threshold * MAD (the modified
    z-score screen, robust where the IQR/3-sigma fences in
    ``outlier_counts`` are themselves dragged by the outliers).

    Two bounded passes (the medians ride the SHARED memoized quartile
    aggregate — `_exact_stats_row`'s percentile array already contains
    0.5, so after quartiles()/outlier_counts() over the same input the
    median "pass" is a memo hit and costs zero scans): one percentile
    aggregate for the MADs (medians inlined as literals), then a single
    counting aggregate. MAD == 0 (constant-majority column) flags
    nothing, the standard degenerate-case convention. Fence comparisons
    use sig6-rounded median/MAD literals so the discrete counts cannot
    fork across engines."""
    cols = columns or numeric_columns(df)
    stats = _exact_stats_row(df, cols)
    med_of = {c: (None if stats[f"{c}__q"] is None
                  else stats[f"{c}__q"][QUARTILES.index(0.5)])
              for c in cols}
    meds = {c: (None if med_of[c] is None else float(sig6_py(med_of[c])))
            for c in cols}
    live = [c for c in cols if meds[c] is not None]
    mad_row = df.agg(*[
        F.percentile(F.abs(F.col(c).cast("double") - F.lit(meds[c])),
                     F.lit(0.5)).alias(c) for c in live]).collect()[0] \
        if live else {}
    mads = {c: float(sig6_py(mad_row[c])) for c in live}
    cnt_exprs = []
    for c in live:
        if mads[c] > 0:
            dev = F.abs(F.col(c).cast("double") - F.lit(meds[c]))
            cnt_exprs.append(
                F.count(F.when(dev > F.lit(threshold) * F.lit(mads[c]),
                               F.lit(1))).alias(c))
    cnt_row = df.agg(*cnt_exprs).collect()[0] if cnt_exprs else {}
    out = []
    for c in cols:
        if meds[c] is None:
            out.append((c, None, None, 0))
        else:
            n = int(cnt_row[c]) if mads[c] > 0 else 0
            out.append((c, sig6_py(meds[c]), sig6_py(mads[c]), n))
    return df.sparkSession.createDataFrame(
        out, "column string, median string, mad string, n_outliers bigint")


def fd_candidates(df: DataFrame,
                  pairs: list[tuple[str, str]]) -> DataFrame:
    """Functional-dependency check for declared column pairs: one row per
    (determinant, dependent) with distinct determinant values, distinct
    value pairs, violation count (pairs - determinants; 0 means a -> b
    HOLDS), and fd_holds — the schema-discovery profiling primitive
    (does order id determine customer? does zip determine city?).

    ONE aggregation pass for all pairs (count_distinct per struct); NULLs
    compare equal inside the tuples on both engines, so a NULL determinant
    is one determinant value."""
    aggs = []
    for i, (a, b) in enumerate(pairs):
        aggs += [F.count_distinct(F.struct(F.col(a))).alias(f"__a{i}"),
                 F.count_distinct(F.struct(F.col(a), F.col(b)))
                 .alias(f"__ab{i}")]
    row = df.agg(*aggs).collect()[0]
    out = [(a, b, int(row[f"__a{i}"]), int(row[f"__ab{i}"]),
            int(row[f"__ab{i}"] - row[f"__a{i}"]),
            bool(row[f"__ab{i}"] == row[f"__a{i}"]))
           for i, (a, b) in enumerate(pairs)]
    return df.sparkSession.createDataFrame(
        out, "determinant string, dependent string, n_determinant bigint, "
             "n_pairs bigint, n_violations bigint, fd_holds boolean")


def histogram2d(df: DataFrame, col_x: str, col_y: str,
                bins: int = 10) -> DataFrame:
    """Joint equal-width 2-D histogram (the heatmap behind scatter-density
    profiling): (bx, by, cnt) for bx, by in [0, bins) over rows where BOTH
    columns are present; values at a max land in the last bucket and a
    constant axis collapses to bucket 0 — the same edge conventions as the
    1-D ``histogram``.

    Same cost shape too: one 1-row min/max aggregate broadcast into a
    narrow bucket assignment, then one grouped count with at most bins^2
    keys. Bucket edges are reconstructable from the companion 1-D
    histograms; emitting only (bx, by, cnt) keeps the output a pure
    density grid."""
    x, y = F.col(col_x), F.col(col_y)
    mm = df.agg(F.min(x).alias("mnx"), F.max(x).alias("mxx"),
                F.min(y).alias("mny"), F.max(y).alias("mxy"))
    pts = (df.select(x.alias("x"), y.alias("y"))
           .where(F.col("x").isNotNull() & F.col("y").isNotNull())
           .crossJoin(F.broadcast(mm)))

    def bucket(v, mn, mx):
        w = (F.col(mx) - F.col(mn)) / F.lit(float(bins))
        raw = F.least(F.floor((F.col(v) - F.col(mn)) / w).cast("int"),
                      F.lit(bins - 1))
        return F.when(F.col(mx) == F.col(mn), F.lit(0)).otherwise(raw)

    return (pts.select(bucket("x", "mnx", "mxx").alias("bx"),
                       bucket("y", "mny", "mxy").alias("by"))
            .groupBy("bx", "by").agg(F.count(F.lit(1)).alias("cnt")))


def null_pattern_report(df: DataFrame,
                        columns: list[str] | None = None) -> DataFrame:
    """Missing-data pattern analysis (the missingno-style view): one row
    per OBSERVED null-combination — (pattern, n, pct) where pattern is a
    '01'-string over ``columns`` ('1' = null) — which columns go missing
    TOGETHER, the question single-column null counts cannot answer.

    One pass: the pattern string is a narrow concat of null flags, then a
    grouped count whose key cardinality is the number of observed
    patterns (<= 2^k in theory, a handful in practice). pct is an exact
    integer ratio rendered via sig6."""
    from pyspark.sql import Window
    from flink_descriptive_stats_spark.functions.sig import sig6
    cols = columns or [f.name for f in df.schema.fields]
    pat = F.concat(*[F.when(F.col(c).isNull(), F.lit("1"))
                     .otherwise(F.lit("0")) for c in cols])
    counts = (df.select(pat.alias("pattern"))
              .groupBy("pattern").agg(F.count(F.lit(1)).alias("n")))
    # the normalization window runs over the bounded pattern counts
    total = F.sum("n").over(Window.partitionBy())
    return counts.select(
        "pattern", "n",
        sig6(F.col("n").cast("double") / total).alias("pct"))


def spearman_matrix(df: DataFrame,
                    columns: list[str] | None = None,
                    exact: bool = True,
                    n_buckets: int = 200) -> DataFrame:
    """All-pairs Spearman rank correlation (long format: col_a, col_b,
    rho): Pearson over AVERAGE ranks (the standard tie policy —
    avg_rank = min_rank + (ties - 1) / 2), listwise deletion of rows
    with a NULL in any selected column. The robust association measure
    next to correlation_matrix's Pearson — monotone-nonlinear
    relationships and heavy tails stop hiding.

    exact=True (the gated/oracle path): ranks are exact half-integers,
    so the correlation pass is the same single k(k-1)/2-buffer aggregate
    as Pearson, but the ranks themselves cost one GLOBAL sort per column
    — the audit-scale shape by construction.

    exact=False is the 100 TB path (the same exact/approx pairing as
    quartiles and the quality ensemble): each column is bucketed by
    ``n_buckets`` approx_percentile cutpoints (ONE 1-row aggregate for
    all columns, inlined as plan literals) and the rank surrogate is the
    equi-frequency bucket index — a monotone transform of the value, so
    Pearson over the indices converges to Spearman's rho as buckets
    shrink. NO global sort anywhere; every step after the bounded
    cutpoint collect is narrow + the one bounded correlation aggregate.
    A pytest pins |rho_approx - rho_exact| on the fixtures."""
    cols = columns or numeric_columns(df)
    ranked = _spearman_ranked(df.select(*cols).dropna(), cols, exact,
                              n_buckets)
    out = correlation_matrix(ranked, cols)
    return out.select("col_a", "col_b", F.col("corr").alias("rho"))


def _spearman_ranked(base: DataFrame, cols: list[str], exact: bool,
                     n_buckets: int) -> DataFrame:
    """The rank-surrogate frame spearman_matrix correlates — factored out
    so plan tests / the EXPLAIN audit can pin that the exact path costs
    one global-sort Window per column while the approx path has NO window
    or sort anywhere (narrow bucket-index projection)."""
    from pyspark.sql import Window
    if exact:
        return base.select(*[
            (F.rank().over(Window.orderBy(c))
             + (F.count(F.lit(1)).over(Window.partitionBy(c)) - 1) / 2.0)
            .alias(c) for c in cols])
    probs = F.array(*[F.lit((i + 1) / n_buckets)
                      for i in range(n_buckets - 1)])
    cuts = base.agg(*[
        F.percentile_approx(F.col(c).cast("double"), probs).alias(c)
        for c in cols]).collect()[0]

    def bucket_idx(c):
        if cuts[c] is None:  # empty frame after listwise deletion
            return F.lit(0.0)
        return _cut_index_expr(f"CAST(`{c}` AS DOUBLE)", cuts[c])

    return base.select(*[bucket_idx(c).alias(c) for c in cols])


def _cut_index_expr(x_sql: str, cutpoints) -> "F.Column":
    """#{cutpoints < x}, MULTIPLICITY-AWARE, as a BINARY-SEARCH CASE
    tree over the sorted distinct cutpoints — O(log B) comparisons per
    row, built as ONE SQL string. Duplicate cutpoints (heavy-tie
    columns: one value can occupy many quantile slots) keep their full
    weight in the count, so the rank estimate doesn't collapse a tie
    plateau into one bucket (measured 0.049 rank error on the events
    fixture before the weighting; ~1/B after). Both obvious
    alternatives are linear per row and measurably bad at scale: an
    aggregate() HOF fold boxes every element lambda (12s+ at sf0.1)
    and a flat CASE-sum still evaluates all B comparisons. Equal values
    land in equal cells, so tie structure survives — the property both
    the Spearman rank surrogate and the approx percent-rank transform
    depend on."""
    from collections import Counter
    cnt = Counter(float(v) for v in cutpoints)
    uniq = sorted(cnt)
    pre = []                      # pre[i] = #original cutpoints < uniq[i]
    run = 0
    for v in uniq:
        pre.append(run)
        run += cnt[v]
    total = run

    def rec(lo, hi):
        if lo >= hi:
            return str(total if lo >= len(uniq) else pre[lo])
        mid = (lo + hi) // 2
        return (f"(CASE WHEN {x_sql} > {uniq[mid]!r} THEN "
                f"{rec(mid + 1, hi)} ELSE {rec(lo, mid)} END)")

    return F.expr(f"CAST({rec(0, len(uniq))} AS DOUBLE)")


def woe_iv(df: DataFrame, feature_col: str, label_col,
           bins: int = 10) -> DataFrame:
    """Weight-of-evidence / information-value report for a numeric
    feature against a binary label — the feature-screening diagnostic of
    scorecard/curation pipelines: per equal-width feature bin,
    (bin, n, n_pos, woe, iv_term), with woe = ln((pos share)/(neg
    share)) under +0.5 Laplace smoothing (so empty cells stay finite)
    and total IV = sum(iv_term). ``label_col`` is a Column or column
    name that must evaluate to 0/1.

    Shape: the same broadcast min/max + bounded grouped count as
    histogram (the label rides the same pass as two conditional sums);
    pos/neg totals derive FROM the bin counts via a window over <= bins
    rows — one scan total."""
    from pyspark.sql import Window
    from flink_descriptive_stats_spark.functions.sig import sig6
    lab = F.col(label_col) if isinstance(label_col, str) else label_col
    x = F.col(feature_col)
    mm = df.agg(F.min(x).alias("mn"), F.max(x).alias("mx"))
    pts = (df.select(x.alias("x"), lab.cast("double").alias("y"))
           .where(F.col("x").isNotNull() & F.col("y").isNotNull())
           .crossJoin(F.broadcast(mm)))
    w = (F.col("mx") - F.col("mn")) / F.lit(float(bins))
    bucket = F.when(F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
        F.least(F.floor((F.col("x") - F.col("mn")) / w).cast("int"),
                F.lit(bins - 1)))
    g = (pts.select(bucket.alias("bin"), "y")
         .groupBy("bin")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum("y").cast("bigint").alias("n_pos")))
    tot = Window.partitionBy()
    pos_t = F.sum("n_pos").over(tot).cast("double")
    neg_t = (F.sum("n").over(tot) - F.sum("n_pos").over(tot)) \
        .cast("double")
    ps = (F.col("n_pos") + F.lit(0.5)) / (pos_t + F.lit(0.5))
    ns = (F.col("n") - F.col("n_pos") + F.lit(0.5)) / (neg_t + F.lit(0.5))
    woe = F.log(ps / ns)
    return g.select("bin", "n", "n_pos", sig6(woe).alias("woe"),
                    sig6((ps - ns) * woe).alias("iv_term"))


def schema_suggestions(df: DataFrame) -> DataFrame:
    """Schema-tightening report: for every STRING column, what type do
    the VALUES actually carry — (column, current_type, suggested_type,
    n_non_null, parse_rate). The action layer over the reference's
    latent-type counters (StatsPojo.java:306-371 counts how many values
    parse as bool/int/long/float/date; this turns those counts into a
    migration suggestion): suggested_type is the STRICTEST type that
    EVERY non-null value parses as (boolean > bigint > double > date >
    string, same Java-strict parse expressions as the profile), and
    parse_rate is that type's share (1.0 for a clean suggestion; < 1
    only for the 'string' fallback, where it reports the best partial
    candidate's share).

    READS the table aggregate that ``profile`` reads (operators.profile
    ``_table_row``): its latent-type counters are these Java-strict parse
    counts. After ``profile(df)`` this runs no Spark job; called first, it
    runs the one aggregate that a later ``profile(df)`` reuses."""
    import pyarrow as pa
    from pyspark.sql import types as T
    from flink_descriptive_stats_spark.operators.profile import _table_row

    def local_frame(rows: list) -> DataFrame:
        # an Arrow-built local relation: collecting it runs no Spark job
        return df.sparkSession.createDataFrame(pa.Table.from_pylist(
            rows, schema=pa.schema([
                ("column", pa.string()), ("current_type", pa.string()),
                ("suggested_type", pa.string()), ("n_non_null", pa.int64()),
                ("parse_rate", pa.string())])))

    cols = [(i, f.name) for i, f in enumerate(df.schema.fields)
            if isinstance(f.dataType, T.StringType)]
    row = _table_row(df) if cols else {}
    out = []
    for i, c in cols:
        n = int(row["row_count"]) - int(row[f"c{i}__nulls"])
        counts = [("boolean", int(row[f"c{i}__bool_count"])),
                  ("bigint", int(row[f"c{i}__long_count"])),
                  ("double", int(row[f"c{i}__float_count"])),
                  ("date", int(row[f"c{i}__date_count"]))]
        suggested, rate = "string", None
        if n > 0:
            for t, k in counts:
                if k == n:
                    suggested, rate = t, 1.0
                    break
            else:
                best = max(k for _, k in counts)
                rate = best / n
        out.append({"column": c, "current_type": "string",
                    "suggested_type": suggested, "n_non_null": n,
                    "parse_rate": sig6_py(rate)})
    return local_frame(out)


def histogram_log(df: DataFrame, column: str, bins: int = 10) -> DataFrame:
    """Log-spaced histogram for heavy-tailed positive columns — where
    equal-width bins put 99% of rows in bucket 0 (file sizes, token
    counts, revenues), log bins resolve the tail: bucket i covers
    [min * r^i, min * r^(i+1)) with r = (max/min)^(1/bins) over the
    POSITIVE values; non-positive values land in bucket -1 (reported,
    not dropped). Output: (bucket, lo, hi, cnt), lo/hi sig6-rendered.

    Same cost shape as histogram(): a 1-row min/max aggregate over
    positives inlined as literals, then ONE grouped count with <= bins+1
    keys. The bucket index uses ln ratios of sig6-rounded bounds so the
    discrete assignment cannot fork on transcendental ULPs."""
    c = F.col(column).cast("double")
    mm = (df.where(c > 0)
          .agg(F.min(c).alias("mn"), F.max(c).alias("mx")).collect()[0])
    if mm["mn"] is None:
        raise ValueError(f"column {column!r} has no positive values")
    mn = float(sig6_py(float(mm["mn"])))
    mx = float(sig6_py(float(mm["mx"])))
    span = math.log(mx) - math.log(mn)
    bucket = (F.when(c <= 0, F.lit(-1))
              .when(F.lit(span) <= 0, F.lit(0))
              .otherwise(F.least(
                  F.floor((F.log(c) - F.lit(math.log(mn)))
                          / F.lit(span) * F.lit(float(bins))).cast("int"),
                  F.lit(bins - 1))))
    counts = (df.where(c.isNotNull())
              .groupBy(bucket.alias("bucket"))
              .agg(F.count(F.lit(1)).alias("cnt")).collect())
    out = []
    r = (mx / mn) ** (1.0 / bins) if span > 0 else 1.0
    for row in counts:
        b = int(row["bucket"])
        lo = None if b < 0 else sig6_py(mn * r ** b)
        hi = None if b < 0 else sig6_py(mn * r ** (b + 1))
        out.append((b, lo, hi, int(row["cnt"])))
    return df.sparkSession.createDataFrame(
        sorted(out), "bucket int, lo string, hi string, cnt bigint")


def percentile_rank_transform(df: DataFrame, column: str,
                              id_col: str, exact: bool = True,
                              n_buckets: int = 1000) -> DataFrame:
    """Quantile-normalization transform: (id, value, pct_rank) with
    pct_rank = percent_rank() over the value order — maps any
    distribution onto [0, 1] uniformly (the feature-scaling step that
    makes heavy-tailed columns comparable, and the exact counterpart of
    histogram_equidepth's bucket view). Ties share the standard
    (rank - 1) / (n - 1) value on both engines; NULL values are
    excluded (no rank is defined for them).

    exact=True (the gated/oracle path) is a global sort of the
    projected (id, value) pairs — same trade as exact quantiles.
    exact=False is the 100 TB path: one approx_percentile cutpoint
    aggregate, then pct_rank ~ (#cutpoints < x) / n_buckets via the
    O(log B) binary-search CASE tree — NO sort, NO window, narrow after
    the bounded cutpoint collect; |approx - exact| <= ~1/n_buckets +
    sketch error (pytest-pinned), ties still share a value."""
    from pyspark.sql import Window
    from flink_descriptive_stats_spark.functions.sig import sig6
    x = F.col(column).cast("double")
    base = df.where(x.isNotNull())
    if exact:
        # percent_rank must be tie-aware on VALUE only (ordering by
        # (value, id) would hand ties distinct ranks)
        wv = Window.orderBy(x)
        return base.select(F.col(id_col).alias("id"), x.alias("value"),
                           sig6(F.percent_rank().over(wv))
                           .alias("pct_rank"))
    probs = F.array(*[F.lit((i + 1) / n_buckets)
                      for i in range(n_buckets - 1)])
    cuts = base.agg(F.percentile_approx(x, probs)).collect()[0][0]
    if not cuts:
        return base.select(F.col(id_col).alias("id"), x.alias("value"),
                           sig6(F.lit(0.0)).alias("pct_rank"))
    idx = _cut_index_expr(f"CAST(`{column}` AS DOUBLE)", cuts)
    return base.select(
        F.col(id_col).alias("id"), x.alias("value"),
        sig6(idx / F.lit(float(n_buckets))).alias("pct_rank"))


def distinct_rollup_hll(df: DataFrame, ts_col: str = "ts",
                        key_col: str = "user_id") -> DataFrame:
    """Mergeable distinct-count rollup via Datasketches HLL: one sketch
    per day (hll_sketch_agg), the corpus total from UNIONING the daily
    sketches (hll_union_agg) — NOT from a second scan. This is the
    incremental pattern exact distinct cannot do at 100 TB: daily
    partitions build their sketches once, and any rollup (week, month,
    total, ad-hoc unions across tenants) is sketch algebra over a few KB
    per partition. Output: one row per day (day, n_rows, distinct_est)
    plus a total row (day NULL) whose estimate comes from the union —
    pytest pins both against exact distincts within HLL tolerance.

    Plan: ONE grouped sketch build keyed by day (map-side combined —
    sketches merge in the partial aggregate), then a bounded union agg
    over the days-sized sketch table. The raw data is scanned once."""
    day = F.to_date(ts_col).alias("day")
    daily = (df.where(F.col(ts_col).isNotNull())
             .groupBy(day)
             .agg(F.count(F.lit(1)).alias("n_rows"),
                  F.hll_sketch_agg(F.col(key_col).cast("string"))
                  .alias("__sk")))
    per_day = daily.select(
        "day", "n_rows",
        F.hll_sketch_estimate("__sk").alias("distinct_est"))
    total = daily.agg(
        F.lit(None).cast("date").alias("day"),
        F.sum("n_rows").alias("n_rows"),
        F.hll_sketch_estimate(F.hll_union_agg("__sk"))
        .alias("distinct_est"))
    return per_day.unionByName(total)


def key_candidates(df: DataFrame,
                   columns: list[str] | None = None) -> DataFrame:
    """Primary-key discovery: per column (column, n_rows, n_non_null,
    n_distinct, uniqueness, is_key) where is_key means every row carries
    a distinct NON-NULL value — the single-column key test (pair with
    fd_candidates for the dependency view). uniqueness = n_distinct /
    n_non_null, sig6-rendered.

    ONE aggregation pass (count + count_distinct per column — the same
    Expand shape as distinct_counts, with the same width caveat: on
    tables wider than ~16 columns run it on a candidate subset; the
    HLL approx path is distinct_counts(exact=False))."""
    from flink_descriptive_stats_spark.functions.sig import sig6_py
    cols = columns or [f.name for f in df.schema.fields]
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs += [F.count(F.col(c)).alias(f"{c}__nn"),
                 F.count_distinct(F.col(c)).alias(f"{c}__d")]
    row = df.agg(*aggs).collect()[0]
    n = int(row["__n"])
    out = []
    for c in cols:
        nn, d = int(row[f"{c}__nn"]), int(row[f"{c}__d"])
        uniq = (d / nn) if nn else None
        out.append((c, n, nn, d,
                    sig6_py(uniq) if uniq is not None else None,
                    nn == n and d == n))
    return df.sparkSession.createDataFrame(
        out, "column string, n_rows bigint, n_non_null bigint, "
             "n_distinct bigint, uniqueness string, is_key boolean")
