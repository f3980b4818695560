"""Windowed / streaming profile (the BASELINE.json north star).

The reference is batch-only (Flink DataSet API, ProfileJob.java:81); its
aggregation state is nevertheless an algebraic mergeable monoid — which is
exactly what Structured Streaming's incremental state update needs. So the
same aggregate bundle runs under ``groupBy(window(ts, ...))`` unchanged:

- batch DataFrame  -> per-window profile (oracle-checkable via time_bucket)
- streaming DataFrame (readStream) -> identical code path, plus
  ``withWatermark`` for bounded state / late-data drop

Window kinds: tumbling (slide=None), sliding (slide given), session
(gap given -> session_window). Derived stats come from ``moments.finish``,
the finish the batch profile uses too; here it runs inside the query plan,
over one row per (window, column).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, GroupedData
from pyspark.sql import functions as F

from flink_descriptive_stats_spark.functions.scalar import (
    ident, is_numeric_type, sql_str)
from flink_descriptive_stats_spark.operators import moments

# Derived stats exposed per window — kept to the core set so the per-window
# expression tree stays comfortably inside codegen limits.
WINDOW_STATS = ("mean", "var_pop", "var_samp", "stddev_pop", "stddev_samp",
                "skew_pop", "skew_samp", "kurt_pop", "kurt_samp", "jb_score")

# Fields after the group columns and ``column`` that the finish passes
# through unrendered.
_KEEP = ("row_count", "null_count", "numeric_count", "min_val", "max_val")
# Aggregate slot -> the name moments.finish and _KEEP read it by.
_SLOT_NAMES = {"null_count": "null_count", "n": "numeric_count",
               "min": "min_val", "max": "max_val",
               **{s: s for s in moments.MOMENT_SLOTS}}


def _long_profile(grouped: GroupedData, lead: dict[str, str],
                  value_cols: list[str]) -> DataFrame:
    """One aggregation pass of per-column moment bundles over ``grouped``,
    melted AFTER aggregation (groups x columns rows, tiny at any input
    scale) into one row per (group, column) and finished by
    ``moments.finish``: the ``lead`` group columns (output name -> SQL
    expression over the aggregate), column, _KEEP, WINDOW_STATS. Every
    expression is Spark SQL text."""
    aggs = ["count(1) AS row_count"]
    for i, c in enumerate(value_cols):
        x = f"CAST({ident(c)} AS DOUBLE)"
        p = f"c{i}__"
        aggs.append(f"count_if({x} IS NULL) AS {p}null_count")
        aggs += moments.numeric_agg_exprs(x, p)
    structs = ", ".join(
        f"named_struct('column', {sql_str(c)}, "
        + ", ".join(f"'{name}', c{i}__{s}" for s, name in _SLOT_NAMES.items())
        + ")" for i, c in enumerate(value_cols))
    raw = grouped.agg(*[F.expr(a) for a in aggs]).selectExpr(
        *[f"{e} AS {ident(n)}" for n, e in lead.items()], "row_count",
        f"inline(array({structs}))")
    return moments.finish(raw, [*lead, "column", *_KEEP, *WINDOW_STATS],
                          WINDOW_STATS)


def _window_bounds(extra_keys: list[str] = ()) -> dict[str, str]:
    return {"window_start": "win.start", "window_end": "win.end",
            **{k: ident(k) for k in extra_keys}}


def windowed_profile(df: DataFrame, ts_col: str = "ts",
                     value_col: str = "value",
                     window: str = "6 hours",
                     slide: str | None = None,
                     session_gap: str | None = None,
                     watermark: str | None = None,
                     extra_keys: list[str] | None = None) -> DataFrame:
    """Per-window numeric profile of ``value_col``. Works on both batch and
    streaming DataFrames (same plan; streaming adds incremental state)."""
    if watermark:
        df = df.withWatermark(ts_col, watermark)
    ts = F.col(ident(ts_col))
    if session_gap:
        win: Column = F.session_window(ts, session_gap)
    elif slide:
        win = F.window(ts, window, slide)
    else:
        win = F.window(ts, window)
    keys = extra_keys or []
    grouped = df.groupBy(win.alias("win"), *[F.col(ident(k)) for k in keys])
    return _long_profile(grouped, _window_bounds(keys),
                         [value_col]).drop("column")


def windowed_profile_multi(df: DataFrame, ts_col: str = "ts",
                           value_cols: list[str] | None = None,
                           window: str = "6 hours",
                           watermark: str | None = None) -> DataFrame:
    """Per-window profile of SEVERAL numeric columns in ONE aggregation
    pass (the reference profiles every column; the single-column
    windowed_profile is its per-metric slice). Output long format: one row
    per (window, column) with the same stat set as windowed_profile.

    Physical shape: one groupBy(window) carrying per-column moment bundles
    (map-side partial agg, exactly the batch profile's philosophy under a
    window key), then an inline of per-column structs — the melt happens
    AFTER aggregation on windows x columns rows, which is tiny at any input
    scale."""
    if watermark:
        df = df.withWatermark(ts_col, watermark)
    if value_cols is None:
        value_cols = [f.name for f in df.schema.fields
                      if f.name != ts_col and is_numeric_type(f.dataType)]
    return _long_profile(
        df.groupBy(F.window(F.col(ident(ts_col)), window).alias("win")),
        _window_bounds(), value_cols)


def grouped_profile_multi(df: DataFrame, keys: list[str],
                          value_cols: list[str] | None = None) -> DataFrame:
    """Per-group profile of SEVERAL numeric columns in one aggregation pass
    (grouped analogue of windowed_profile_multi): long format, one row per
    (group, column)."""
    if value_cols is None:
        value_cols = [f.name for f in df.schema.fields
                      if f.name not in keys and is_numeric_type(f.dataType)]
    return _long_profile(df.groupBy(*[F.col(ident(k)) for k in keys]),
                         {k: ident(k) for k in keys}, value_cols)


def grouped_profile(df: DataFrame, keys: list[str],
                    value_col: str = "value") -> DataFrame:
    """The windowed profile's aggregate bundle keyed by arbitrary dimension
    columns instead of a time window — per-group numeric profile in one
    partial+final aggregation pass (grouped analogue of the reference's
    whole-column profile; same moments, same derived statistics)."""
    return grouped_profile_multi(df, keys, [value_col]).drop("column")


def streaming_windowed_profile(spark, source_dir: str, schema,
                               ts_col: str = "ts", value_col: str = "value",
                               window: str = "6 hours",
                               watermark: str = "1 hour",
                               **kwargs) -> DataFrame:
    """readStream(parquet dir) -> windowed profile. Caller attaches the sink
    (writeStream / foreachBatch)."""
    stream = spark.readStream.schema(schema).parquet(source_dir)
    return windowed_profile(stream, ts_col=ts_col, value_col=value_col,
                            window=window, watermark=watermark, **kwargs)


def windowed_distinct(df: DataFrame, ts_col: str = "ts",
                      key_col: str = "user_id",
                      window: str = "1 day",
                      watermark: str | None = None,
                      exact: bool = True) -> DataFrame:
    """Distinct keys per time window (unique users/day, the canonical
    engagement metric): (window_start, window_end, n_rows, distinct_keys).

    exact=True uses count_distinct — correct in batch (the oracle path)
    but requires full per-window key state in streaming. exact=False uses
    approx_count_distinct (HLL++), whose sketch state is BOUNDED and
    MERGEABLE — the only shape that runs under watermarked streaming
    aggregation at 100 TB; Spark rejects exact distinct aggregates on
    streams for exactly this reason."""
    if watermark:
        df = df.withWatermark(ts_col, watermark)
    fn = F.count_distinct if exact else F.approx_count_distinct
    agg = (df.groupBy(F.window(F.col(ts_col), window).alias("win"))
           .agg(F.count(F.lit(1)).alias("n_rows"),
                fn(F.col(key_col)).alias("distinct_keys")))
    return agg.select(F.col("win.start").alias("window_start"),
                      F.col("win.end").alias("window_end"),
                      "n_rows", "distinct_keys")


def windowed_quantiles(df: DataFrame, ts_col: str = "ts",
                       value_col: str = "value",
                       window: str = "1 day",
                       probs: tuple[float, ...] = (0.25, 0.5, 0.75),
                       watermark: str | None = None,
                       exact: bool = True) -> DataFrame:
    """Percentiles per time window — the latency-SLO / value-distribution
    monitor (p50/p75 per day): (window_start, window_end, n_rows, q_25,
    q_50, q_75). The windowed companion to extras.grouped_quantiles, same
    exact/approx split: exact=True is the oracle path (per-window sort
    buffer); exact=False swaps in approx_percentile (GK sketch) — bounded
    MERGEABLE state, the only shape a watermarked streaming aggregation
    can carry at 100 TB, same scale note as windowed_distinct's HLL++
    path. One shuffle keyed by the time window (bounded keys)."""
    from flink_descriptive_stats_spark.functions.sig import sig6
    if watermark:
        df = df.withWatermark(ts_col, watermark)
    fn = F.percentile if exact else F.percentile_approx
    arr = F.array(*[F.lit(p) for p in probs])
    agg = (df.groupBy(F.window(F.col(ts_col), window).alias("win"))
           .agg(F.count(F.lit(1)).alias("n_rows"),
                fn(F.col(value_col).cast("double"), arr).alias("__q")))
    return agg.select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"), "n_rows",
        *[sig6(F.col("__q")[i]).alias(f"q_{int(p * 100)}")
          for i, p in enumerate(probs)])
