"""Top-K frequent values and character patterns (A12-A15 + F4).

Reference shape: per string column, TWO serial sub-pipelines (word + pattern)
each doing groupBy -> global sort at parallelism 1 -> first(20)
(ProfileJob.java:183-216) — the declared bottleneck (BASELINE.md). Our plan
(``_topk_plan``) is ONE scan and one grouped shuffle for ALL string columns
and BOTH token kinds:

  explode (kind, column, token) structs    <- two per string column:
                                              the value and its pattern
  groupBy(kind, column, token).count()     <- the only full-data shuffle;
                                              map-side partial agg absorbs
                                              heavy hitters before shuffling
  row_number window over (kind, column)    <- planned with WindowGroupLimit
                                              (Partial) BEFORE the exchange

``topk_tokens`` collects that plan's ranked rows once per input, memoized
in ``functions.memo.ROWS`` like the profile's table aggregate, and returns
them as a local relation: a repeat over an unchanged input runs no Spark
job, and a file rewritten at the same path is a miss.

Scale reasoning (100 TB): the grouped-count shuffle is unavoidable and keyed
by (kind, column, token) — high cardinality, no skew. The final window over
(kind, column) looks like a single-task funnel, but Spark >= 3.5 plans a
rank-limit pushdown (`WindowGroupLimit` in Partial mode before the
exchange), so each upstream partition forwards at most K rows per
(kind, column) — the funnel task sees O(K * partitions), independent of
input size; the collected result is at most 2 * K rows per string column.
(A manual salted two-level window achieves the same bound at the cost of
one extra full shuffle — verified equivalent and removed.) Ties broken
(count desc, token asc) for determinism — the reference's tie order is
nondeterministic (SURVEY.md §2.6 item 6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_descriptive_stats_spark.functions import scalar
from flink_descriptive_stats_spark.functions.memo import ROWS, data_memoized


def string_columns(df: DataFrame) -> list[str]:
    return [f.name for f in df.schema.fields
            if isinstance(f.dataType, T.StringType)]


def topk_tokens(df: DataFrame, columns: list[str] | None = None,
                k: int = 20) -> DataFrame:
    """Top-K frequent values (kind='value') and character patterns
    (kind='pattern') per string column. Output: (kind, column, token, cnt,
    rank), rank 1-based by (cnt desc, token asc). The ranked rows are
    collected once per input (memoized) and returned as a local relation."""
    cols = columns or string_columns(df)
    if not cols:
        raise ValueError("no string columns to profile")
    top = data_memoized(ROWS, df, ("topk", tuple(cols), k),
                        lambda: _topk_plan(df, cols, k).toArrow())
    return df.sparkSession.createDataFrame(top)


def _topk_plan(df: DataFrame, cols: list[str], k: int) -> DataFrame:
    """The top-K plan that ``topk_tokens`` collects: one explode of both
    token kinds, one grouped count, the ranked funnel."""
    melted = (df.selectExpr(_melt(cols))
              .where("token IS NOT NULL"))          # P3: null filter
    counts = melted.groupBy("kind", "column", "token").agg(
        F.expr("count(1) AS cnt"))
    return _rank_topk(counts, ["kind", "column"], k)


def _melt(cols: list[str]) -> str:
    """The one explode of both token kinds, as Spark SQL text: per column,
    a (kind='value', column, token) and a (kind='pattern', column,
    pattern(token)) struct."""
    structs = []
    for c in cols:
        x = scalar.ident(c)
        for kind, token in (("value", x), ("pattern", scalar.pattern_expr(x))):
            structs.append(f"named_struct('kind', '{kind}', "
                           f"'column', {scalar.sql_str(c)}, 'token', {token})")
    return f"inline(array({', '.join(structs)}))"


def topk_as_maps(df: DataFrame, columns: list[str] | None = None,
                 k: int = 20) -> DataFrame:
    """A15: fold each column's top-K into a single map row —
    (kind, column, top: map<token, cnt>). The fold runs over <= K rows per
    group, mirroring the reference's ReduceTopStrings/ReduceTopPatterns
    (ProfileJob.java:218-248) without its fake global group."""
    top = topk_tokens(df, columns, k)
    return top.groupBy("kind", "column").agg(
        F.expr("map_from_entries(collect_list(struct(token, cnt))) AS top"))


def _rank_topk(counts: DataFrame, partition_cols: list[str],
               k: int) -> DataFrame:
    """The shared top-K funnel: deterministic (cnt desc, token asc) ties,
    row_number + rank filter — Spark >= 3.5 plans it as a partial
    WindowGroupLimit before the exchange, bounding every partition's
    contribution to K rows per group. One implementation so the global and
    grouped top-K can never diverge on tie-break or pushdown shape."""
    parts = ", ".join(scalar.ident(c) for c in partition_cols)
    return (counts.selectExpr(
        "*", f"row_number() OVER (PARTITION BY {parts} "
             f"ORDER BY cnt DESC, token ASC) AS `rank`")
        .where(f"`rank` <= {k}"))


def grouped_topk_tokens(df: DataFrame, key_col: str = "lang",
                        text_col: str = "text", k: int = 5) -> DataFrame:
    """Top-K whitespace/punct tokens per GROUP (e.g. top tokens per
    language): (key, token, cnt, rank), rank by (cnt desc, token asc).

    Per-segment ranking over tokenized text — explode is scan-local, one
    grouped count keyed by (key, token) with map-side combine, then the
    same WindowGroupLimit funnel as the global top-K: partial limits bound
    each partition's contribution to K rows per group BEFORE the ranking
    exchange, so a hot group never concentrates its raw token stream."""
    from flink_descriptive_stats_spark.functions import hashing as H
    tok = (df.where(F.col(text_col).isNotNull()
                    & F.col(key_col).isNotNull())
           .select(F.col(key_col).alias("key"),
                   F.explode(H.tokens_expr(F.col(text_col)))
                   .alias("token")))
    counts = tok.groupBy("key", "token").agg(
        F.count(F.lit(1)).alias("cnt"))
    return _rank_topk(counts, ["key"], k)
