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

One finish (:func:`finish`) applies these expressions, as Spark SQL text,
then one sig6 over the array of them, for every profile: the batch profile
over a local relation of its melted aggregate row (Catalyst evaluates it
while optimizing, so no Spark job runs), the windowed and grouped profiles
over their per-group rows. There is no second, driver-side copy of the
formulas; the DuckDB oracle is the independent reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from flink_descriptive_stats_spark.functions.scalar import ident
from flink_descriptive_stats_spark.functions.sig import sig6_sql

# Raw aggregate slot -> its aggregate, computed inside the single-pass agg
# for one numeric (widened-to-double) expression x. Everything else is
# derived post-agg.
RAW_NUMERIC_STATS = {"n": "count", "min": "min", "max": "max", "mean": "avg",
                     "var_pop": "var_pop", "var_samp": "var_samp",
                     "skew_raw": "skewness", "kurt_raw": "kurtosis"}


def numeric_agg_exprs(x: str, prefix: str) -> list[str]:
    """A3, A5-A9: the one-pass aggregate slots for the numeric SQL
    expression ``x``, named ``prefix`` + RAW_NUMERIC_STATS."""
    return [f"{agg}({x}) AS {ident(prefix + slot)}"
            for slot, agg in RAW_NUMERIC_STATS.items()]


def derived_stats(n: str, row_count: str, mean: str, var_pop: str,
                  var_samp: str, skew_raw: str, kurt_raw: str
                  ) -> dict[str, str]:
    """D1-D10 as Spark SQL text over the aggregated slots (SQL expressions,
    best column references): raw doubles, which callers render with sig6.
    Fractional literals carry a ``D``: a bare ``3.49`` is a DECIMAL."""
    nd = f"CAST({n} AS DOUBLE)"
    none = "CAST(NULL AS DOUBLE)"

    def when_n0(expr: str) -> str:
        return f"CASE WHEN {n} = 0 THEN {none} ELSE {expr} END"

    def when_n_ge(k: int, expr: str) -> str:
        return f"CASE WHEN {n} >= {k} THEN {expr} ELSE {none} END"

    stddev_pop = f"sqrt({var_pop})"
    stddev_samp = f"sqrt({var_samp})"

    # |skew| below 1e-9 is summation noise from an exactly-symmetric sample
    # (the two engines' different summation orders yield different tiny
    # garbage); snap to the statistically-correct 0.0 on both sides.
    skew_pop = (f"(CASE WHEN {n} = 0 THEN {none} "
                f"WHEN {var_pop} = 0 THEN 0.0D "
                f"WHEN abs({skew_raw}) < 1.0E-9D THEN 0.0D "
                f"ELSE {skew_raw} END)")
    kurt_pop = (f"(CASE WHEN {n} = 0 THEN {none} "
                f"WHEN {var_pop} = 0 THEN 0.0D "
                f"ELSE {kurt_raw} + 3.0D END)")
    skew_samp = (f"(CASE WHEN {n} = 0 THEN {none} WHEN {n} = 1 THEN 0.0D "
                 f"ELSE {skew_pop} * {nd} / ({nd} - 1) END)")
    kurt_samp = (f"(CASE WHEN {n} = 0 THEN {none} WHEN {n} = 1 THEN 0.0D "
                 f"ELSE {kurt_pop} * {nd} / ({nd} - 1) END)")
    kurt_excess_pop = f"({when_n0(f'{kurt_pop} - 3.0D')})"
    kurt_excess_samp = f"({when_n0(f'{kurt_samp} - 3.0D')})"

    se_skew_core = (f"sqrt((6 * {nd} * ({nd} - 1)) "
                    f"/ (({nd} - 2) * ({nd} + 1) * ({nd} + 3)))")

    # D10: Scott's-rule histogram bin width (ProfileJob.java:146-162); uses
    # the full row count and population skewness ceiling as in the reference.
    # floor() casts to bigint, which turns NaN into 0: a NaN stddev stays NULL
    # like the column's other moments.
    base_width = (f"(CASE WHEN isnan({stddev_pop}) THEN {none} ELSE CAST("
                  f"floor(3.49D * {stddev_pop} * pow(CAST({row_count} AS "
                  f"DOUBLE), {-1.0 / 3.0!r}D)) AS DOUBLE) END)")
    skew_ceil = f"ceil({skew_pop})"
    scott = (f"CASE WHEN {skew_ceil} = 1 THEN {base_width} * 0.4D "
             f"WHEN {skew_ceil} = 2 THEN {base_width} * 0.6D "
             f"WHEN {skew_ceil} = 3 THEN {base_width} * 0.7D "
             f"ELSE {base_width} END")

    return {
        "mean": when_n0(mean),
        "var_pop": when_n0(var_pop),
        "var_samp": when_n_ge(2, var_samp),
        "stddev_pop": when_n0(stddev_pop),
        "stddev_samp": when_n_ge(2, stddev_samp),
        "skew_pop": skew_pop,
        "skew_samp": skew_samp,
        "kurt_pop": kurt_pop,
        "kurt_samp": kurt_samp,
        "kurt_excess_pop": kurt_excess_pop,
        "kurt_excess_samp": kurt_excess_samp,
        "se_mean": when_n_ge(2, f"{stddev_samp} / sqrt({nd})"),
        "se_var": when_n_ge(2, f"{var_samp} * sqrt(2.0D / ({nd} - 1))"),
        "se_stddev": when_n_ge(2, f"{stddev_samp} / sqrt(2 * ({nd} - 1))"),
        "se_skew": when_n_ge(3, se_skew_core),
        "se_kurt": when_n_ge(4, f"2 * {se_skew_core} * sqrt(({nd} * {nd} - 1)"
                                f" / (({nd} - 3) * ({nd} + 5)))"),
        "jb_score": when_n0(
            f"({nd} / 6.0D) * ({skew_samp} * {skew_samp} "
            f"+ 0.25D * {kurt_excess_samp} * {kurt_excess_samp})"),
        "scott_bin_width": when_n0(scott),
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
    The statistics run over groups x columns rows, tiny at any scale.
    """
    d = derived_stats(*[ident(c) for c in (
        "numeric_count", "row_count", *MOMENT_SLOTS)])
    return _sig6_select(raw, columns, {s: d.get(s, ident(s)) for s in stats})


def _sig6_select(df: DataFrame, columns: list[str],
                 stats: dict[str, str]) -> DataFrame:
    """``df`` -> ``columns``: a name in ``stats`` is the sig6 rendering of
    its double SQL expression, every other name is passed through.

    The expressions are derived into one array and rendered by one
    ``transform`` (sig6 text repeats its input, so it reads the lambda
    variable, and is parsed once, not once per statistic); a second
    ``selectExpr`` picks the array's elements. Catalyst keeps the two
    stages apart: the array is non-cheap and referenced many times."""
    names = list(stats)
    return df.selectExpr(
        *[ident(c) for c in columns if c not in stats],
        f"transform(array({', '.join(stats.values())}), "
        f"x -> {sig6_sql('x')}) AS __sig6",
    ).selectExpr(*[f"__sig6[{names.index(c)}] AS {ident(c)}" if c in stats
                   else ident(c) for c in columns])


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
    state costs ONE scan with full codegen, not a custom UDAF. The result
    is a local relation built from Arrow: collecting it runs no Spark
    job."""
    import pyarrow as pa
    from flink_descriptive_stats_spark.operators.extras import (
        numeric_columns)
    cols = columns or numeric_columns(df)
    aggs = []
    for c in cols:
        aggs += numeric_agg_exprs(f"CAST({ident(c)} AS DOUBLE)", f"{c}__")
    row = df.selectExpr(*aggs).collect()[0]
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
    schema = pa.schema([("column", pa.string()), ("n", pa.int64())] + [
        (f, pa.float64()) for f in ("mean", "m2", "m3", "m4", "min_val",
                                    "max_val")])
    return df.sparkSession.createDataFrame(pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in out], schema=schema))


def merge_profile_states(a, b):
    """Pairwise merge of two state frames (Pébay 2008 update formulas —
    the same algebra as the reference's StatsPojo.reduce and Spark's
    partial+final combine). Pure column arithmetic over a column-keyed
    equi-join of two <=n_cols-row frames; associative and commutative up
    to FP rounding, which the sig6 finalize absorbs."""
    from pyspark.sql import functions as F
    j = (a.alias("a")
         .join(b.alias("b"), F.expr("a.`column` = b.`column`"), "full")
         .selectExpr("coalesce(a.`column`, b.`column`) AS `column`",
                     *[f"{t}.{c} AS {t}_{c}" for t in "ab" for c in (
                         "n", "mean", "m2", "m3", "m4", "min_val",
                         "max_val")]))
    na, nb = "coalesce(a_n, 0)", "coalesce(b_n, 0)"
    n = f"CAST({na} + {nb} AS DOUBLE)"
    d = "(coalesce(b_mean, 0.0D) - coalesce(a_mean, 0.0D))"
    naf, nbf = f"CAST({na} AS DOUBLE)", f"CAST({nb} AS DOUBLE)"
    za = [f"coalesce(a_{c}, 0.0D)" for c in ("m2", "m3", "m4")]
    zb = [f"coalesce(b_{c}, 0.0D)" for c in ("m2", "m3", "m4")]

    def pos(e: str) -> str:
        return f"(CASE WHEN {n} > 0 THEN {e} ELSE 0.0D END)"

    mean = pos(f"({naf} * coalesce(a_mean, 0.0D) "
               f"+ {nbf} * coalesce(b_mean, 0.0D)) / {n}")
    m2 = f"{za[0]} + {zb[0]} + " + pos(f"{d} * {d} * {naf} * {nbf} / {n}")
    m3 = (f"{za[1]} + {zb[1]} + "
          + pos(f"{d} * {d} * {d} * {naf} * {nbf} * ({naf} - {nbf}) "
                f"/ ({n} * {n})") + " + "
          + pos(f"3.0D * {d} * ({naf} * {zb[0]} - {nbf} * {za[0]}) / {n}"))
    m4 = (f"{za[2]} + {zb[2]} + "
          + pos(f"{d} * {d} * {d} * {d} * {naf} * {nbf} * ({naf} * {naf} "
                f"- {naf} * {nbf} + {nbf} * {nbf}) / ({n} * {n} * {n})")
          + " + "
          + pos(f"6.0D * {d} * {d} * ({naf} * {naf} * {zb[0]} "
                f"+ {nbf} * {nbf} * {za[0]}) / ({n} * {n})") + " + "
          + pos(f"4.0D * {d} * ({naf} * {zb[1]} - {nbf} * {za[1]}) / {n}"))
    return j.selectExpr(
        "`column`", f"{na} + {nb} AS n", f"{mean} AS mean", f"{m2} AS m2",
        f"{m3} AS m3", f"{m4} AS m4", "least(a_min_val, b_min_val) AS min_val",
        "greatest(a_max_val, b_max_val) AS max_val")


def finalize_profile_state(state):
    """State -> presentable stats (column, n, mean, var_pop, skewness,
    kurtosis, min_val, max_val) with the FP stats sig6-rendered and the
    same degenerate-case conventions as the one-shot profile (M2 == 0 ->
    skew/kurt 0; n == 0 -> NULLs)."""
    n = "CAST(n AS DOUBLE)"
    stats = {
        "mean": "CASE WHEN n > 0 THEN mean END",
        "var_pop": f"CASE WHEN n > 0 THEN m2 / {n} END",
        "skewness": f"CASE WHEN n > 0 AND m2 > 0 THEN m3 * sqrt({n}) "
                    f"/ pow(m2, 1.5D) WHEN n > 0 THEN 0.0D END",
        "kurtosis": f"CASE WHEN n > 0 AND m2 > 0 THEN {n} * m4 / (m2 * m2) "
                    f"- 3.0D WHEN n > 0 THEN 0.0D END"}
    return _sig6_select(state, ["column", "n", *stats, "min_val", "max_val"],
                        {s: f"({e})" for s, e in stats.items()})
