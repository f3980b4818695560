"""Per-column aggregate bundle (A1-A11) + derived statistics (D1-D10).

The reference's ``StatsPojo`` is an algebraic (pairwise-mergeable) aggregation
monoid — init StatsPojo.java:72-93, merge StatsPojo.java:101-155 using the
Pébay / Chan-Golub-LeVeque central-moment update formulas. That is *exactly*
Spark's partial+final HashAggregate model, and Spark's ``CentralMomentAgg``
family (var_pop/var_samp/skewness/kurtosis) implements the same pairwise
updates, so the whole per-column state machine collapses to built-in
aggregate expressions inside one ``df.agg(...)`` — single pass over the data,
no shuffle beyond the 1-row final merge, full whole-stage codegen.

Mapping notes (verified numerically, see tests/test_moments.py):
- Spark ``skewness`` == reference *population* skewness
  (StatsPojo.java:214-219); sample variant is pop * n/(n-1)
  (StatsPojo.java:226-231 — the McCrary-whitepaper convention, NOT the usual
  b1 correction).
- Spark ``kurtosis`` == population *excess* kurtosis, so reference population
  kurtosis (StatsPojo.java:243-248) = kurtosis + 3; sample = pop * n/(n-1).
- Zero guards replicate the reference: M2 == 0 -> skew/kurt = 0.0
  (StatsPojo.java:215-217,244-246); n == 1 -> sample skew/kurt = 0.0
  (StatsPojo.java:227-229,256-258).
- Deviation (SURVEY.md §2.6 items 4-5): where the reference emits NaN/Inf
  sentinels (n == 0 stats, n == 1 sample variance, n <= 2 standard errors) we
  emit NULL.

Derived statistics (closed-form over the aggregated row, StatsPojo.java:
173-290 and ProfileJob.java:146-162):
  D1 stddev pop/sample; D2 SE(mean) = s/sqrt(n); D3 SE(s^2) = s^2*sqrt(2/(n-1));
  D4 SE(s) = s/sqrt(2(n-1)); D5 SES = sqrt(6n(n-1)/((n-2)(n+1)(n+3)));
  D6 SEK = 2*SES*sqrt((n^2-1)/((n-3)(n+5)));
  D7 JB = (n/6)*(sampleSkew^2 + sampleExcessKurt^2/4);
  D10 Scott bin width = floor(3.49*stddev_pop*rowCount^(-1/3)) scaled by
      0.4/0.6/0.7 when ceil(popSkew) == 1/2/3 (uses ROW count, not numeric
      count — a reference quirk we replicate, ProfileJob.java:152-160).

One finish (:func:`finish`) applies these Column expressions, then sig6,
for every profile: the batch profile over a local relation of its melted
aggregate row (Catalyst evaluates it while optimizing, so no Spark job
runs), the windowed and grouped profiles over their per-group rows. There
is no second, driver-side copy of the formulas; the DuckDB oracle is the
independent reference.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_descriptive_stats_spark.functions.memo import exprs_memoized
from flink_descriptive_stats_spark.functions.sig import sig6

# Raw aggregate slots computed inside the single-pass agg for one numeric
# (widened-to-double) expression x. Everything else is derived post-agg.
RAW_NUMERIC_STATS = ("n", "min", "max", "mean", "var_pop", "var_samp",
                     "skew_raw", "kurt_raw")


def numeric_agg_exprs(x: Column, prefix: str) -> list[Column]:
    """A3, A5-A9: the one-pass aggregate slots for a numeric column."""
    return [
        F.count(x).alias(f"{prefix}n"),
        F.min(x).alias(f"{prefix}min"),
        F.max(x).alias(f"{prefix}max"),
        F.avg(x).alias(f"{prefix}mean"),
        F.var_pop(x).alias(f"{prefix}var_pop"),
        F.var_samp(x).alias(f"{prefix}var_samp"),
        F.skewness(x).alias(f"{prefix}skew_raw"),
        F.kurtosis(x).alias(f"{prefix}kurt_raw"),
    ]


def derived_stats(n: Column, row_count: Column, mean: Column,
                  var_pop: Column, var_samp: Column,
                  skew_raw: Column, kurt_raw: Column) -> dict[str, Column]:
    """D1-D10 as Column expressions over the aggregated slots.

    Returns every derived statistic as a raw double Column (callers render
    with sig6 for oracle-stable output).
    """
    nd = n.cast("double")
    none = F.lit(None).cast("double")

    stddev_pop = F.sqrt(var_pop)
    stddev_samp = F.sqrt(var_samp)

    # |skew| below 1e-9 is summation noise from an exactly-symmetric sample
    # (the two engines' different summation orders yield different tiny
    # garbage); snap to the statistically-correct 0.0 on both sides.
    skew_pop = (F.when(n == 0, none)
                .when(var_pop == 0, F.lit(0.0))
                .when(F.abs(skew_raw) < 1e-9, F.lit(0.0))
                .otherwise(skew_raw))
    kurt_pop = (F.when(n == 0, none)
                .when(var_pop == 0, F.lit(0.0))
                .otherwise(kurt_raw + F.lit(3.0)))
    skew_samp = (F.when(n == 0, none)
                 .when(n == 1, F.lit(0.0))
                 .otherwise(skew_pop * nd / (nd - 1)))
    kurt_samp = (F.when(n == 0, none)
                 .when(n == 1, F.lit(0.0))
                 .otherwise(kurt_pop * nd / (nd - 1)))
    kurt_excess_pop = F.when(n == 0, none).otherwise(kurt_pop - 3.0)
    kurt_excess_samp = F.when(n == 0, none).otherwise(kurt_samp - 3.0)

    se_mean = F.when(n >= 2, stddev_samp / F.sqrt(nd)).otherwise(none)
    se_var = F.when(n >= 2, var_samp * F.sqrt(F.lit(2.0) / (nd - 1))).otherwise(none)
    se_stddev = F.when(n >= 2, stddev_samp / F.sqrt(2 * (nd - 1))).otherwise(none)
    se_skew_core = F.sqrt((6 * nd * (nd - 1))
                          / ((nd - 2) * (nd + 1) * (nd + 3)))
    se_skew = F.when(n >= 3, se_skew_core).otherwise(none)
    se_kurt = F.when(
        n >= 4,
        2 * se_skew_core * F.sqrt((nd * nd - 1) / ((nd - 3) * (nd + 5))),
    ).otherwise(none)

    jb = F.when(n == 0, none).otherwise(
        (nd / 6.0) * (skew_samp * skew_samp
                      + 0.25 * kurt_excess_samp * kurt_excess_samp))

    # D10: Scott's-rule histogram bin width (ProfileJob.java:146-162); uses
    # the full row count and population skewness ceiling as in the reference.
    # floor() casts to bigint, which turns NaN into 0: a NaN stddev stays NULL
    # like the column's other moments.
    base_width = F.when(F.isnan(stddev_pop), none).otherwise(F.floor(
        3.49 * stddev_pop * F.pow(row_count.cast("double"), F.lit(-1.0 / 3.0))
    ).cast("double"))
    skew_ceil = F.ceil(skew_pop)
    scott = (F.when(skew_ceil == 1, base_width * 0.4)
             .when(skew_ceil == 2, base_width * 0.6)
             .when(skew_ceil == 3, base_width * 0.7)
             .otherwise(base_width))
    scott = F.when(n == 0, none).otherwise(scott)

    return {
        "mean": F.when(n == 0, none).otherwise(mean),
        "var_pop": F.when(n == 0, none).otherwise(var_pop),
        "var_samp": F.when(n >= 2, var_samp).otherwise(none),
        "stddev_pop": F.when(n == 0, none).otherwise(stddev_pop),
        "stddev_samp": F.when(n >= 2, stddev_samp).otherwise(none),
        "skew_pop": skew_pop,
        "skew_samp": skew_samp,
        "kurt_pop": kurt_pop,
        "kurt_samp": kurt_samp,
        "kurt_excess_pop": kurt_excess_pop,
        "kurt_excess_samp": kurt_excess_samp,
        "se_mean": se_mean,
        "se_var": se_var,
        "se_stddev": se_stddev,
        "se_skew": se_skew,
        "se_kurt": se_kurt,
        "jb_score": jb,
        "scott_bin_width": scott,
    }


DERIVED_STATS = ("mean", "var_pop", "var_samp", "stddev_pop", "stddev_samp",
                 "skew_pop", "skew_samp", "kurt_pop", "kurt_samp",
                 "kurt_excess_pop", "kurt_excess_samp", "se_mean", "se_var",
                 "se_stddev", "se_skew", "se_kurt", "jb_score",
                 "scott_bin_width")


#: The raw moment slots :func:`finish` reads, besides numeric_count and
#: row_count.
MOMENT_SLOTS = ("mean", "var_pop", "var_samp", "skew_raw", "kurt_raw")


def finish(raw: DataFrame, columns: list[str],
           stats: tuple[str, ...]) -> DataFrame:
    """The derived-statistics finish shared by every profile: ``raw`` ->
    ``columns``, each name in ``stats`` sig6-rendered, every other name
    passed through.

    ``raw`` holds one row per profiled (group, column) with the raw slots
    ``numeric_count``, ``row_count`` and MOMENT_SLOTS. A name in ``stats``
    is one of DERIVED_STATS, derived from those slots, or a raw double
    column of ``raw`` rendered as it is (the batch profile's ``avg_len``).

    Staged on purpose: an earlier version inlined sig6(derived_stats(...))
    per source column inside the pre-explode structs, and since sig6
    references its input ~7x and the derived trees nest when-chains inside
    when-chains, the ANALYZED plan blew up combinatorially — Catalyst
    optimization alone cost ~4.5s of driver CPU per planning at 3 columns.
    Two small selects instead: derive (each tree appears ONCE, over plain
    attribute refs) -> sig6 (duplicates only attribute refs). Catalyst keeps
    the stages as separate Projects because the producer expressions are
    non-cheap and multiply-referenced, so the tree never re-inlines; the
    projections run over groups x columns rows, which is tiny at any scale.
    Both stages are built once per SparkContext: a Column node costs a py4j
    round trip, and the stages hold several hundred.
    """
    derive, render = exprs_memoized(
        ("profile_finish", tuple(columns), stats),
        lambda: _finish_stages(columns, stats))
    return raw.select(*derive).select(*render)


def _finish_stages(columns: list[str],
                   stats: tuple[str, ...]) -> tuple[list, list]:
    d = derived_stats(*[F.col(c) for c in (
        "numeric_count", "row_count", *MOMENT_SLOTS)])
    keep = [c for c in columns if c not in stats]
    derive = ([F.col(c) for c in keep]
              + [(d[s] if s in d else F.col(s)).alias(f"__d_{s}")
                 for s in stats])
    render = [sig6(F.col(f"__d_{c}")).alias(c) if c in stats else F.col(c)
              for c in columns]
    return derive, render


# ---------------------------------------------------------------------------
# Incremental profiling: explicit mergeable per-column state (the reference's
# StatsPojo monoid — StatsPojo.java:101-155 — surfaced as an API, so a 100 TB
# corpus can be profiled partition-by-partition / day-by-day and the states
# combined without ever rescanning old data).

def profile_state(df, columns: list[str] | None = None):
    """Mergeable sufficient statistics per numeric column: (column, n,
    mean, m2, m3, m4, min_val, max_val) with M2..M4 the central-moment
    sums Spark's CentralMomentAgg maintains internally — recovered
    exactly from the built-in one-pass aggregates (skewness = M3 sqrt(n)
    / M2^1.5, kurtosis = n M4 / M2^2 - 3; M2 = var_pop * n), so the
    state costs ONE scan with full codegen, not a custom UDAF."""
    from pyspark.sql import functions as F
    from flink_descriptive_stats_spark.operators.extras import (
        numeric_columns)
    cols = columns or numeric_columns(df)
    aggs = []
    for c in cols:
        x = F.col(c).cast("double")
        aggs += numeric_agg_exprs(x, f"{c}__")
    row = df.agg(*aggs).collect()[0]
    out = []
    for c in cols:
        n = int(row[f"{c}__n"])
        if n == 0:
            out.append((c, 0, 0.0, 0.0, 0.0, 0.0, None, None))
            continue
        mean = float(row[f"{c}__mean"])
        m2 = float(row[f"{c}__var_pop"]) * n
        if m2 > 0:
            m3 = float(row[f"{c}__skew_raw"]) * m2 ** 1.5 / n ** 0.5
            m4 = (float(row[f"{c}__kurt_raw"]) + 3.0) * m2 * m2 / n
        else:
            m3 = m4 = 0.0
        out.append((c, n, mean, m2, m3, m4,
                    float(row[f"{c}__min"]), float(row[f"{c}__max"])))
    return df.sparkSession.createDataFrame(
        out, "column string, n bigint, mean double, m2 double, m3 double, "
             "m4 double, min_val double, max_val double")


def merge_profile_states(a, b):
    """Pairwise merge of two state frames (Pébay 2008 update formulas —
    the same algebra as the reference's StatsPojo.reduce and Spark's
    partial+final combine). Pure column arithmetic over a column-keyed
    equi-join of two <=n_cols-row frames; associative and commutative up
    to FP rounding, which the sig6 finalize absorbs."""
    from pyspark.sql import functions as F
    an = [F.col(f"a.{c}").alias(f"a_{c}")
          for c in ("n", "mean", "m2", "m3", "m4", "min_val", "max_val")]
    bn = [F.col(f"b.{c}").alias(f"b_{c}")
          for c in ("n", "mean", "m2", "m3", "m4", "min_val", "max_val")]
    j = (a.alias("a").join(b.alias("b"), F.col("a.column") == F.col("b.column"),
                           "full")
         .select(F.coalesce(F.col("a.column"), F.col("b.column"))
                 .alias("column"), *an, *bn))
    na, nb = F.coalesce("a_n", F.lit(0)), F.coalesce("b_n", F.lit(0))
    n = (na + nb).cast("double")
    d = F.coalesce("b_mean", F.lit(0.0)) - F.coalesce("a_mean", F.lit(0.0))
    naf, nbf = na.cast("double"), nb.cast("double")
    za = [F.coalesce(f"a_{c}", F.lit(0.0)) for c in ("m2", "m3", "m4")]
    zb = [F.coalesce(f"b_{c}", F.lit(0.0)) for c in ("m2", "m3", "m4")]
    mean = F.when(n > 0, (naf * F.coalesce("a_mean", F.lit(0.0))
                          + nbf * F.coalesce("b_mean", F.lit(0.0))) / n) \
        .otherwise(F.lit(0.0))
    m2 = za[0] + zb[0] + F.when(n > 0, d * d * naf * nbf / n) \
        .otherwise(F.lit(0.0))
    m3 = (za[1] + zb[1]
          + F.when(n > 0, d * d * d * naf * nbf * (naf - nbf) / (n * n))
          .otherwise(F.lit(0.0))
          + F.when(n > 0, 3.0 * d * (naf * zb[0] - nbf * za[0]) / n)
          .otherwise(F.lit(0.0)))
    m4 = (za[2] + zb[2]
          + F.when(n > 0, d * d * d * d * naf * nbf
                   * (naf * naf - naf * nbf + nbf * nbf) / (n * n * n))
          .otherwise(F.lit(0.0))
          + F.when(n > 0, 6.0 * d * d
                   * (naf * naf * zb[0] + nbf * nbf * za[0]) / (n * n))
          .otherwise(F.lit(0.0))
          + F.when(n > 0, 4.0 * d * (naf * zb[1] - nbf * za[1]) / n)
          .otherwise(F.lit(0.0)))
    return j.select(
        "column", (na + nb).alias("n"), mean.alias("mean"),
        m2.alias("m2"), m3.alias("m3"), m4.alias("m4"),
        F.least("a_min_val", "b_min_val").alias("min_val"),
        F.greatest("a_max_val", "b_max_val").alias("max_val"))


def finalize_profile_state(state):
    """State -> presentable stats (column, n, mean, var_pop, skewness,
    kurtosis, min_val, max_val) with the FP stats sig6-rendered and the
    same degenerate-case conventions as the one-shot profile (M2 == 0 ->
    skew/kurt 0; n == 0 -> NULLs)."""
    from pyspark.sql import functions as F
    from flink_descriptive_stats_spark.functions.sig import sig6
    n = F.col("n").cast("double")
    m2, m3, m4 = F.col("m2"), F.col("m3"), F.col("m4")
    var_pop = F.when(F.col("n") > 0, m2 / n)
    skew = F.when((F.col("n") > 0) & (m2 > 0),
                  m3 * F.sqrt(n) / F.pow(m2, 1.5)) \
        .when(F.col("n") > 0, F.lit(0.0))
    kurt = F.when((F.col("n") > 0) & (m2 > 0),
                  n * m4 / (m2 * m2) - 3.0) \
        .when(F.col("n") > 0, F.lit(0.0))
    mean = F.when(F.col("n") > 0, F.col("mean"))
    return state.select(
        "column", "n", sig6(mean).alias("mean"),
        sig6(var_pop).alias("var_pop"), sig6(skew).alias("skewness"),
        sig6(kurt).alias("kurtosis"), "min_val", "max_val")
