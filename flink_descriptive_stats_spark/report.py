"""Report layer (S4 + D8 + D9): the reference's console report, rebuilt over
the engine's profile output.

Equivalent surface: StatsPojo.toString (StatsPojo.java:442-504), the
Jarque-Bera hypothesis table (StatsPojo.java:529-545 — chi-square df=2
critical values 4.61/5.99/7.38/9.21 at alpha = 10/5/2.5/1%), the kurtosis
interpretation (StatsPojo.java:511-523) and the bin-width print
(ProfileJob.java:146-162). Two reference bugs fixed per SURVEY.md §2.6:
the numeric-count line prints the numeric count (the reference prints the
null count there, StatsPojo.java:449), and type counters survive merging.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# (critical value, alpha label) — chi-square with 2 degrees of freedom.
JB_CRITICAL = [(4.61, "0.10"), (5.99, "0.05"), (7.38, "0.025"), (9.21, "0.01")]


def _f(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, str):  # sig6-rendered double
        try:
            return f"{float(v.replace('e', 'E')):.6g}"
        except ValueError:
            return v
    return str(v)


def jb_hypothesis_table(jb_score: float | None) -> list[str]:
    """D8: for each alpha, is H0 (normality) rejected?"""
    if jb_score is None:
        return ["  JB test not applicable (no numeric values)"]
    out = []
    for crit, alpha in JB_CRITICAL:
        verdict = "REJECTED" if jb_score > crit else "ACCEPTED"
        out.append(f"  H0 (normal distribution) at alpha={alpha}: "
                   f"{verdict} (JB={jb_score:.4f} vs chi2={crit})")
    return out


def kurtosis_interpretation(excess: float | None) -> str:
    """D9: mesokurtic / leptokurtic / platykurtic by excess kurtosis."""
    if excess is None:
        return "n/a"
    if excess == 0:
        return "mesokurtic (excess == 0)"
    return ("leptokurtic (excess > 0)" if excess > 0
            else "platykurtic (excess < 0)")


def jb_report(profile_df: DataFrame) -> DataFrame:
    """D8 as data: per profiled column, the Jarque-Bera score and the
    H0-normality verdict at each chi-square(df=2) critical level. Built on
    profile() output; the sig6-rendered jb_score string parses straight
    back to DOUBLE identically in both engines, so verdicts can't drift.
    Spark SQL text, applied with one ``selectExpr``."""
    jb = "CAST(jb_score AS DOUBLE)"
    verdicts = [f"CASE WHEN {jb} IS NULL THEN CAST(NULL AS STRING) "
                f"WHEN {jb} > {crit!r}D THEN 'REJECTED' ELSE 'ACCEPTED' END "
                f"AS h0_at_{alpha.replace('.', '_')}"
                for crit, alpha in JB_CRITICAL]
    return (profile_df.where("numeric_count > 0")
            .selectExpr("`column`", "jb_score", *verdicts))


def jb_report_sql(table: str) -> str:
    """DuckDB mirror of jb_report over the profile oracle."""
    from flink_descriptive_stats_spark import oracle
    inner = oracle.profile_table_sql(table)
    verdicts = ", ".join(
        f"CASE WHEN jb IS NULL THEN NULL "
        f"WHEN jb > {crit} THEN 'REJECTED' ELSE 'ACCEPTED' END "
        f"AS h0_at_{alpha.replace('.', '_')}"
        for crit, alpha in JB_CRITICAL)
    return (f"SELECT \"column\", jb_score, {verdicts} "
            f"FROM (SELECT *, CAST(jb_score AS DOUBLE) AS jb FROM ({inner})) "
            f"WHERE numeric_count > 0")


def render_profile(profile_df: DataFrame,
                   topk_df: DataFrame | None = None,
                   complete_df: DataFrame | None = None) -> str:
    """Text report over profile() output (+ optional topk_tokens() and
    complete_row_count() results)."""
    lines: list[str] = []
    top: dict[tuple[str, str], list] = {}
    if topk_df is not None:
        for r in topk_df.collect():
            top.setdefault((r["column"], r["kind"]), []).append(
                (r["rank"], r["token"], r["cnt"]))

    for r in sorted(profile_df.collect(), key=lambda r: r["column"]):
        c = r["column"]
        lines.append(f"========== column '{c}' ({r['dtype']}) ==========")
        lines.append(f"  Rows: {r['row_count']}   Nulls: {r['null_count']}   "
                     f"Numeric values: {r['numeric_count']}   "
                     f"Empty strings: {_f(r['empty_count'])}")
        if r["numeric_count"]:
            lines.append(f"  Min: {_f(r['min_val'])}   Max: {_f(r['max_val'])}"
                         f"   Mean: {_f(r['mean'])} (SE {_f(r['se_mean'])})")
            lines.append(f"  Variance pop/samp: {_f(r['var_pop'])} / "
                         f"{_f(r['var_samp'])} (SE {_f(r['se_var'])})")
            lines.append(f"  StdDev pop/samp: {_f(r['stddev_pop'])} / "
                         f"{_f(r['stddev_samp'])} (SE {_f(r['se_stddev'])})")
            lines.append(f"  Skewness pop/samp: {_f(r['skew_pop'])} / "
                         f"{_f(r['skew_samp'])} (SE {_f(r['se_skew'])})")
            lines.append(f"  Kurtosis pop/samp: {_f(r['kurt_pop'])} / "
                         f"{_f(r['kurt_samp'])} (SE {_f(r['se_kurt'])})")
            excess = (None if r["kurt_excess_samp"] is None
                      else float(r["kurt_excess_samp"].replace("e", "E")))
            lines.append(f"  Kurtosis: {kurtosis_interpretation(excess)}")
            jb = (None if r["jb_score"] is None
                  else float(r["jb_score"].replace("e", "E")))
            lines.extend(jb_hypothesis_table(jb))
            lines.append(f"  Histogram bin width (Scott): "
                         f"{_f(r['scott_bin_width'])}")
        if r["min_len"] is not None:
            lines.append(f"  Length min/max/avg: {r['min_len']} / "
                         f"{r['max_len']} / {_f(r['avg_len'])}")
        if r["int_count"] is not None:
            lines.append(f"  Latent types: bool={r['bool_count']} "
                         f"int={r['int_count']} long={r['long_count']} "
                         f"float={r['float_count']} "
                         f"double={r['double_count']} "
                         f"date={r['date_count']}")
        for kind in ("value", "pattern"):
            entries = sorted(top.get((c, kind), []))
            if entries:
                rendered = ", ".join(f"{t!r}:{n}" for _, t, n in entries[:20])
                lines.append(f"  Top {kind}s: {rendered}")

    if complete_df is not None:
        r = complete_df.collect()[0]
        lines.append(f"========== rows ==========")
        lines.append(f"  Complete rows: {r['complete_count']} / "
                     f"{r['row_count']}")
    return "\n".join(lines)
