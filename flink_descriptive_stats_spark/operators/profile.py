"""Whole-table single-pass profile (the engine's flagship operator).

Equivalent surface: the reference's entire ProfileJob dataflow
(ProfileJob.java:78-143) — per-column basic stats, string stats, latent-type
counters, plus the row-completeness side pipeline (RowStatsCollectHelper) —
but where the reference re-scans its source 1 + N_cols (+ 2 per string
column) times with a per-column pipeline fan-out (ProfileJob.java:94-113), we
compute EVERYTHING in one ``df.agg`` pass:

  parquet scan -> partial HashAggregate (per partition, codegen)
               -> 1-row exchange -> final HashAggregate -> tiny result

At 100 TB this is the optimal shape: one pass over the data, the only shuffle
moves a single row of ~30*N_cols doubles per partition, no skew possible.
Top-K frequent values/patterns (which genuinely need a grouped shuffle) live
in ``operators/topk.py`` as one separate multiplexed job.

Output: long format — one row per profiled column, a local relation over
the melted aggregate row with the derived statistics applied by
``moments.finish``. Counts and min/max are exact (BIGINT / DOUBLE);
FP-derived statistics are 7-significant-digit strings (see
functions/sig.py for why).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_descriptive_stats_spark.functions import scalar
from flink_descriptive_stats_spark.operators import moments

# Long-format output schema (name, type) — fixed order, every profile row.
PROFILE_FIELDS = [
    ("column", "string"), ("dtype", "string"),
    ("row_count", "bigint"), ("null_count", "bigint"),
    ("numeric_count", "bigint"), ("empty_count", "bigint"),
    ("min_val", "double"), ("max_val", "double"),
] + [(s, "string") for s in moments.DERIVED_STATS] + [
    ("min_len", "bigint"), ("max_len", "bigint"), ("avg_len", "string"),
    ("bool_count", "bigint"), ("int_count", "bigint"),
    ("long_count", "bigint"), ("float_count", "bigint"),
    ("double_count", "bigint"), ("date_count", "bigint"),
]

_ARROW_TYPES = {"string": pa.string(), "bigint": pa.int64(),
                "double": pa.float64()}
# The melted aggregate row that moments.finish reads: PROFILE_FIELDS with
# the raw moment slots in place of the derived statistics, avg_len unrendered.
_RAW_SCHEMA = pa.schema(
    [(n, pa.float64() if n == "avg_len" else _ARROW_TYPES[t])
     for n, t in PROFILE_FIELDS if n not in moments.DERIVED_STATS]
    + [(s, pa.float64()) for s in moments.MOMENT_SLOTS])


def completeness_expr(df: DataFrame) -> Column:
    """A16/S2: a row is "complete" iff every field is non-null and its string
    form is not blank (RowStatsCollectHelper.java:31-38). For non-string
    types the string form is never blank, so only string columns need the
    trim test — this keeps the predicate cheap and pushdown-friendly."""
    conds = []
    for f in df.schema.fields:
        c = F.col(f.name)
        cond = c.isNotNull()
        if isinstance(f.dataType, T.StringType):
            cond = cond & (F.trim(c) != "")
        conds.append(cond)
    out = conds[0]
    for cond in conds[1:]:
        out = out & cond
    return out


def _agg_exprs_for_column(i: int, name: str, dt: T.DataType) -> list[Column]:
    """The column's aggregate slots, memoized per SparkContext:
    building one Column is 1-2 py4j round trips, and the ~200-expression
    lineitem bundle costs ~0.7s of driver time, rebuilt by every
    profile-family query over the same schema."""
    from flink_descriptive_stats_spark.functions.memo import exprs_memoized
    return exprs_memoized(("profile_slots", i, name, dt.simpleString()),
                          lambda: _build_agg_exprs_for_column(i, name, dt))


def _build_agg_exprs_for_column(i: int, name: str,
                                dt: T.DataType) -> list[Column]:
    """The single-pass aggregate slots for one column (A1-A11)."""
    c = F.col(name)
    p = f"c{i}__"
    exprs = [F.count_if(c.isNull()).alias(f"{p}nulls")]

    x = scalar.numeric_expr(name, dt)
    if x is not None:
        exprs += moments.numeric_agg_exprs(x, p)

    ln = scalar.length_expr(name, dt)
    if ln is not None:
        exprs += [
            F.min(ln).cast("bigint").alias(f"{p}min_len"),
            F.max(ln).cast("bigint").alias(f"{p}max_len"),
            F.avg(ln).alias(f"{p}avg_len"),
        ]

    if isinstance(dt, T.StringType):
        # A4 empty strings + A11 latent-type counters. The reference's merge
        # loses the type counters across partitions (StatsPojo.java:101-155
        # never sums them — SURVEY.md §2.6 item 2); count_if sums correctly.
        exprs += [
            F.count_if(scalar.is_blank_expr(c)).alias(f"{p}empty"),
            F.count_if(scalar.parses_bool_expr(c)).alias(f"{p}bool_count"),
            F.count_if(scalar.parses_int_expr(c)).alias(f"{p}int_count"),
            F.count_if(scalar.parses_long_expr(c)).alias(f"{p}long_count"),
            F.count_if(scalar.parses_float_expr(c)).alias(f"{p}float_count"),
            F.count_if(scalar.parses_date_expr(c)).alias(f"{p}date_count"),
        ]
    return exprs


def profile(df: DataFrame, columns: list[str] | None = None,
            max_exprs_per_pass: int = 4000) -> DataFrame:
    """Profile every (selected) column of ``df`` in one aggregation pass.

    Execution shape: ONE Spark job — scan -> partial HashAggregate ->
    single-row exchange -> final HashAggregate -> collect of one wide row
    (memoized per input). That row is melted into a local relation, one
    row per column, and ``moments.finish`` — the same finish as the
    windowed and grouped profiles — derives D1-D10 and renders them with
    sig6 as Column expressions over it. Spark's ConvertToLocalRelation rule
    evaluates those projections, and a consumer's filter and projection
    (jb_report), while it optimizes the plan: collecting the result runs
    no Spark job and compiles no code. (Inside the aggregate plan, the
    per-column derived trees would cost seconds of janino compilation and
    blow the 64KB codegen limit.)

    Ultra-wide schemas: a single pass holds through a few hundred columns
    (a 250-column frame is plan-pinned to one exchange in
    tests/test_round6_ops.py), but the generated projection SOURCE grows
    with the expression count and its compilation memory faster — so past
    ``max_exprs_per_pass`` aggregate slots the columns are CHUNKED into
    ceil(n/max) passes, each still the same narrow scan->partial->1-row
    shape. Each chunk memoizes independently, results merge by column
    name (the aggregates are per-column independent, so chunked ==
    single-pass exactly; pytest-pinned). The default keeps ~400 columns
    in one pass.

    Returns a long-format DataFrame, one row per column, schema
    ``PROFILE_FIELDS``.
    """
    fields = [f for f in df.schema.fields
              if columns is None or f.name in columns]

    per_field = [(i, f, _agg_exprs_for_column(i, f.name, f.dataType))
                 for i, f in enumerate(fields)]
    chunks: list[list] = []
    cur: list = []
    cur_n = 1
    for item in per_field:
        if cur and cur_n + len(item[2]) > max_exprs_per_pass:
            chunks.append(cur)
            cur, cur_n = [], 1
        cur.append(item)
        cur_n += len(item[2])
    chunks.append(cur)          # also the empty-schema single chunk

    # memoized: jb_report / repeat profiles of the same input reuse the
    # collected row(s) instead of re-running the scan+agg job
    from flink_descriptive_stats_spark.functions.memo import agg_row_memoized
    row: dict = {}
    for chunk in chunks:
        agg_exprs: list[Column] = [F.count(F.lit(1)).alias("row_count")]
        for _, _, exprs in chunk:
            agg_exprs += exprs
        r = agg_row_memoized(
            df, agg_exprs,
            ("profile", tuple(f.name for _, f, _ in chunk)))
        row.update(r.asDict())

    # melt the row into one raw-slot record per column (double_count is the
    # float_count slot: both are the Java-strict float parse)
    recs = []
    for i, f in enumerate(fields):
        p = f"c{i}__"
        has_numeric = f"{p}n" in row          # which slots the bundle has
        has_len = f"{p}min_len" in row
        is_str = isinstance(f.dataType, T.StringType)
        rec = {"column": f.name, "dtype": f.dataType.simpleString(),
               "row_count": row["row_count"], "null_count": row[f"{p}nulls"],
               "numeric_count": row[f"{p}n"] if has_numeric else 0,
               "empty_count": row[f"{p}empty"] if is_str else None,
               "min_val": row[f"{p}min"] if has_numeric else None,
               "max_val": row[f"{p}max"] if has_numeric else None}
        for names, present in (
                (moments.MOMENT_SLOTS, has_numeric),
                (("min_len", "max_len", "avg_len"), has_len),
                (("bool_count", "int_count", "long_count", "float_count",
                  "date_count"), is_str)):
            rec.update((s, row[f"{p}{s}"] if present else None)
                       for s in names)
        rec["double_count"] = rec["float_count"]
        recs.append(rec)

    raw = df.sparkSession.createDataFrame(
        pa.Table.from_pylist(recs, schema=_RAW_SCHEMA))
    return moments.finish(raw, [name for name, _ in PROFILE_FIELDS],
                          moments.DERIVED_STATS + ("avg_len",))


def complete_row_count(df: DataFrame) -> DataFrame:
    """A16: count of rows with every field non-null and non-blank."""
    return df.agg(
        F.count(F.lit(1)).alias("row_count"),
        F.count_if(completeness_expr(df)).alias("complete_count"),
    )
