"""Whole-table single-pass profile (the engine's flagship operator).

Equivalent surface: the reference's per-column ProfileJob dataflow
(ProfileJob.java:78-143) — basic stats, string stats and latent-type
counters. Where the reference re-scans its source 1 + N_cols (+ 2 per
string column) times with a per-column pipeline fan-out
(ProfileJob.java:94-113), we compute every column's slots in one aggregate
pass, a single ``selectExpr`` of Spark SQL text:

  parquet scan -> partial HashAggregate (per partition, codegen)
               -> 1-row exchange -> final HashAggregate -> tiny result

The reference's row-completeness side pipeline (RowStatsCollectHelper)
rides the same pass as one more ``count_if`` slot, as the reference
counts complete records inside its one ProfileJob: the memoized row of
this aggregate (``_table_row``) is the only table-level aggregate of an
input, read by ``profile``, ``complete_row_count`` and
``extras.schema_suggestions``.

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
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from flink_descriptive_stats_spark.functions import scalar
from flink_descriptive_stats_spark.functions.memo import ROWS, data_memoized
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


def completeness_expr(df: DataFrame) -> str:
    """A16/S2: a row is "complete" iff every field is non-null and its string
    form is not blank (RowStatsCollectHelper.java:31-38). For non-string
    types the string form is never blank, so only string columns need the
    trim test — this keeps the predicate cheap and pushdown-friendly. A
    frame without columns has only complete rows."""
    return " AND ".join(
        f"({x} IS NOT NULL AND trim({x}) != '')"
        if isinstance(f.dataType, T.StringType) else f"{x} IS NOT NULL"
        for f, x in ((f, scalar.ident(f.name)) for f in df.schema.fields)
    ) or "TRUE"


#: The projected pandas-UDF display length of float/double column i.
_FP_LEN = "__c{}_fp_len"


def _column_slots(i: int, f: T.StructField) -> list[str]:
    """The single-pass aggregate slots for one column (A1-A11), as Spark
    SQL text. A float/double column's length slots read its projected
    pandas-UDF length, ``_FP_LEN``."""
    dt = f.dataType
    x = scalar.ident(f.name)
    p = f"c{i}__"
    exprs = [f"count_if({x} IS NULL) AS {p}nulls"]

    num = scalar.numeric_expr(x, dt)
    if num is not None:
        exprs += moments.numeric_agg_exprs(num, p)

    ln = (scalar.ident(_FP_LEN.format(i)) if scalar.is_fp_type(dt)
          else scalar.length_expr(x, dt))
    if ln is not None:
        exprs += [f"CAST(min({ln}) AS BIGINT) AS {p}min_len",
                  f"CAST(max({ln}) AS BIGINT) AS {p}max_len",
                  f"avg({ln}) AS {p}avg_len"]

    if isinstance(dt, T.StringType):
        # A4 empty strings + A11 latent-type counters. The reference's merge
        # loses the type counters across partitions (StatsPojo.java:101-155
        # never sums them — SURVEY.md §2.6 item 2); count_if sums correctly.
        exprs += [f"count_if({fn(x)}) AS {p}{slot}" for fn, slot in (
            (scalar.is_blank_expr, "empty"),
            (scalar.parses_bool_expr, "bool_count"),
            (scalar.parses_int_expr, "int_count"),
            (scalar.parses_long_expr, "long_count"),
            (scalar.parses_float_expr, "float_count"),
            (scalar.parses_date_expr, "date_count"))]
    return exprs


#: Aggregate slots per pass. The generated projection source grows with the
#: slot count, and its compilation memory faster, so a wider table is
#: chunked into passes of the same narrow shape; this keeps ~400 columns
#: in one pass (a 250-column frame is plan-pinned to one exchange).
MAX_EXPRS_PER_PASS = 4000


def _aggregate(df: DataFrame, chunk: list) -> DataFrame:
    """The one-row aggregate of ``chunk``'s (index, field, slots): one
    ``selectExpr``, over ``df`` plus the pandas-UDF lengths of its
    float/double columns. The chunk that starts at column 0 also counts
    the complete rows (A16) as ``complete_count``."""
    fp_lens = {_FP_LEN.format(i): scalar.fp_length_col(f.name, f.dataType)
               for i, f, _ in chunk if scalar.is_fp_type(f.dataType)}
    src = df.withColumns(fp_lens) if fp_lens else df
    head = ["count(1) AS row_count"]
    if not chunk or chunk[0][0] == 0:
        head.append(f"count_if({completeness_expr(df)}) AS complete_count")
    return src.selectExpr(*head, *[e for _, _, exprs in chunk for e in exprs])


def _chunks(df: DataFrame) -> list[list]:
    """``df``'s columns as (index, field, slots), cut into the chunks of
    at most MAX_EXPRS_PER_PASS slots that ``_aggregate`` runs; a frame
    without columns is one empty chunk."""
    chunks: list[list] = []
    cur: list = []
    cur_n = 1
    for i, f in enumerate(df.schema.fields):
        slots = _column_slots(i, f)
        if cur and cur_n + len(slots) > MAX_EXPRS_PER_PASS:
            chunks.append(cur)
            cur, cur_n = [], 1
        cur.append((i, f, slots))
        cur_n += len(slots)
    chunks.append(cur)
    return chunks


def _layout(chunks: list[list]) -> tuple:
    """The column names of each chunk: the memo tags of the passes."""
    return tuple(tuple(f.name for _, f, _ in chunk) for chunk in chunks)


def _table_row(df: DataFrame, chunks: list[list] | None = None) -> dict:
    """The table aggregate of ``df``, read by ``profile``,
    ``complete_row_count`` and ``extras.schema_suggestions``:
    ``row_count``, ``complete_count`` and column i's slots as
    ``c{i}__<slot>``. One Spark job per chunk (``_chunks``), memoized on
    ``df`` per chunk; the aggregates are per-column independent, so
    chunked == single-pass exactly (pytest-pinned)."""
    chunks = _chunks(df) if chunks is None else chunks
    row: dict = {}
    for chunk, names in zip(chunks, _layout(chunks)):
        r = data_memoized(ROWS, df, ("profile", names),
                          lambda: _aggregate(df, chunk).collect()[0])
        row.update(r.asDict())
    return row


def profile(df: DataFrame) -> DataFrame:
    """Profile every column of ``df`` in one aggregation pass.

    The table aggregate (``_table_row``) is melted into a local
    relation, one row per column, and ``moments.finish`` — the same
    finish as the windowed and grouped profiles — derives D1-D10 and
    renders them with sig6 as SQL expressions over it. Spark's
    ConvertToLocalRelation rule evaluates those projections, and a
    consumer's filter and projection (jb_report), while it optimizes the
    plan: collecting the result runs no Spark job and compiles no code.
    (Inside the aggregate plan, the per-column derived trees would cost
    seconds of janino compilation and blow the 64KB codegen limit.)

    The finished relation is memoized on ``df`` and its chunk layout, so
    a repeat over an unchanged input neither aggregates nor parses the
    finish again.

    Returns a long-format DataFrame, one row per column, schema
    ``PROFILE_FIELDS``.
    """
    chunks = _chunks(df)
    return data_memoized(ROWS, df, ("profile_result", _layout(chunks)),
                         lambda: _finish(df, _table_row(df, chunks)))


def _finish(df: DataFrame, row: dict) -> DataFrame:
    """The table aggregate ``row`` melted into one raw-slot record per
    column (double_count is the float_count slot: both are the
    Java-strict float parse), a local relation under ``moments.finish``."""
    recs = []
    for i, f in enumerate(df.schema.fields):
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
    """A16: (row_count, complete_count), the rows with every field
    non-null and non-blank, read from the table aggregate. A one-row
    local relation: collecting it runs no Spark job."""
    row = _table_row(df)
    return df.sparkSession.sql(
        f"VALUES ({row['row_count']}L, {row['complete_count']}L) "
        "AS t(row_count, complete_count)")
