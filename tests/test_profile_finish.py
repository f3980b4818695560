"""The derived-statistics finish (operators/moments.finish) shared by the
batch profile and the windowed/grouped profiles: the batch profile is a
local relation that collects without a Spark job, and both paths agree on
the statistics they share."""

import datetime as dt

import numpy as np
from pyspark.sql import types as T

from flink_descriptive_stats_spark.operators import moments
from flink_descriptive_stats_spark.operators.extras import schema_suggestions
from flink_descriptive_stats_spark.operators.profile import (
    complete_row_count, profile)
from flink_descriptive_stats_spark.report import jb_report
from flink_descriptive_stats_spark.streaming.profile_stream import (
    WINDOW_STATS, windowed_profile_multi)


def test_memoized_profile_and_jb_report_run_no_job(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    from flink_descriptive_stats_spark.sources.tables import load_table
    pq.write_table(pa.table({"x": [1.5, 2.0, 9.0, None],
                             "s": ["a", "12", "", None]}),
                   str(tmp_path / "t.parquet"))
    df = load_table(spark, str(tmp_path), "t")
    profile(df).collect()               # runs and memoizes the aggregate row

    sc = spark.sparkContext
    sc.setJobGroup("profile-finish-warm", "memoized profile + jb_report")
    try:
        prof = profile(df)
        rows = {r["column"]: r for r in prof.collect()}
        jb = jb_report(prof).collect()
        # the completeness count and the type suggestions read the same
        # memoized table aggregate
        complete = complete_row_count(df).collect()
        suggestions = schema_suggestions(df).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)   # leave no group
    assert sc.statusTracker().getJobIdsForGroup("profile-finish-warm") == []

    plan = prof._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"
    assert rows["x"]["numeric_count"] == 3
    assert rows["x"]["mean"] == "4166667e-6"
    assert rows["s"]["float_count"] == rows["s"]["double_count"] == 1
    assert [r["column"] for r in jb] == ["x"]
    assert [tuple(r) for r in complete] == [(4, 2)]
    assert [(r["column"], r["n_non_null"]) for r in suggestions] == [("s", 3)]


def test_profile_state_collects_without_job(spark):
    """profile_state runs its aggregate when built and returns a local
    relation built from Arrow: collecting the state runs no Spark job."""
    df = spark.createDataFrame([(1.0,), (2.5,), (None,)], "x double")
    state = moments.profile_state(df, ["x"])

    sc = spark.sparkContext
    sc.setJobGroup("profile-state-collect", "collect a profile state")
    try:
        rows = state.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)   # leave no group
    assert sc.statusTracker().getJobIdsForGroup("profile-state-collect") == []
    assert [(r["column"], r["n"], r["mean"]) for r in rows] == [
        ("x", 2, 1.75)]


def test_batch_and_windowed_profiles_agree(spark):
    """profile() and windowed_profile_multi over one window that covers
    every row: equal shared statistics on n = 0, 1, 2, a constant column
    and a skewed sample."""
    n = 40
    skew = np.random.default_rng(7).lognormal(1.0, 1.0, n)
    cols = {"none": [None] * n,
            "one": [3.25] + [None] * (n - 1),
            "two": [1.0, 4.0] + [None] * (n - 2),
            "const": [7.5] * n,
            "skew": [float(v) for v in skew]}
    t0 = dt.datetime(2024, 1, 1)
    rows = [(t0 + dt.timedelta(minutes=i), *[cols[c][i] for c in cols])
            for i in range(n)]
    schema = T.StructType(
        [T.StructField("ts", T.TimestampType())]
        + [T.StructField(c, T.DoubleType()) for c in cols])
    df = spark.createDataFrame(rows, schema)

    batch = {r["column"]: r for r in profile(df.select(*cols)).collect()}
    win = windowed_profile_multi(df, value_cols=list(cols), window="1 day")
    win = {r["column"]: r for r in win.collect()}
    assert set(batch) == set(win) == set(cols)
    shared = ("row_count", "null_count", "numeric_count", "min_val",
              "max_val") + WINDOW_STATS
    for c in cols:
        assert ({f: batch[c][f] for f in shared}
                == {f: win[c][f] for f in shared}), c
    assert batch["none"]["mean"] is None and batch["one"]["var_samp"] is None
    assert batch["const"]["skew_pop"] == "0e0"


def test_nan_column_derived_stats_are_null(spark):
    """A column holding NaN has NaN moments: every derived statistic,
    Scott's bin width included, renders NULL (Spark's floor of NaN cast
    to bigint is 0, which once rendered the width as 0e0), and the batch
    and windowed profiles agree."""
    t0 = dt.datetime(2024, 1, 1)
    schema = T.StructType([T.StructField("ts", T.TimestampType()),
                           T.StructField("x", T.DoubleType())])
    df = spark.createDataFrame(
        [(t0 + dt.timedelta(minutes=i), v)
         for i, v in enumerate([1.0, float("nan"), 3.0])], schema)

    batch = profile(df.select("x")).collect()[0]
    win = windowed_profile_multi(df, value_cols=["x"],
                                 window="1 day").collect()[0]
    assert batch["numeric_count"] == win["numeric_count"] == 3
    assert batch["scott_bin_width"] is None
    for f in WINDOW_STATS:
        assert batch[f] is None and win[f] is None, f
