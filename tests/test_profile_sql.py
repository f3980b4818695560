"""The profile family builds its Spark expressions as SQL text: every
identifier it embeds is quoted, and applying a bundle costs a few py4j
round trips instead of one per Column node."""

import datetime as dt
import threading

from pyspark.sql import types as T

from flink_descriptive_stats_spark.operators.extras import schema_suggestions
from flink_descriptive_stats_spark.operators.profile import (
    complete_row_count, profile)
from flink_descriptive_stats_spark.operators.topk import (
    _topk_plan, string_columns, topk_tokens)
from flink_descriptive_stats_spark.report import jb_report
from flink_descriptive_stats_spark.streaming.profile_stream import (
    windowed_profile_multi)


def _frame(spark, names):
    """ts plus a double, two string and an int column, named by ``names``
    (plain name -> actual name)."""
    t0 = dt.datetime(2024, 1, 1)
    rows = [(t0 + dt.timedelta(hours=i), 1.5 * i if i % 4 else None,
             ["x", "Ab-1", "", None][i % 4], f"s'{i % 3}", i % 5)
            for i in range(24)]
    schema = T.StructType(
        [T.StructField("ts", T.TimestampType())]
        + [T.StructField(names[c], t) for c, t in (
            ("a", T.DoubleType()), ("b", T.StringType()),
            ("c", T.StringType()), ("d", T.IntegerType()))])
    return spark.createDataFrame(rows, schema)


def test_profile_family_quotes_identifiers(spark):
    """Column names holding a dot, a backtick, a quote or a space profile
    exactly like plain names in every profile-family operator."""
    odd = {"a": "a.b", "b": "b`t", "c": "it's", "d": "sp ace"}
    plain = {c: c for c in odd}
    back = {v: k for k, v in odd.items()}
    ops = {
        "profile": lambda df, n: profile(df),
        "jb_report": lambda df, n: jb_report(profile(df)),
        "complete_row_count": lambda df, n: complete_row_count(df),
        "topk_tokens": lambda df, n: topk_tokens(df),
        "schema_suggestions": lambda df, n: schema_suggestions(df),
        "windowed_profile_multi": lambda df, n: windowed_profile_multi(
            df, value_cols=[n["a"], n["d"]], window="6 hours"),
    }

    def rows(df):
        return sorted(repr(sorted(
            (k, back.get(v, v) if k == "column" else v)
            for k, v in r.asDict().items())) for r in df.collect())

    for name, op in ops.items():
        want = rows(op(_frame(spark, plain), plain))
        assert want, name
        assert rows(op(_frame(spark, odd), odd)) == want, name


def _py4j_calls(spark, fn, reps=3) -> int:
    """The fewest py4j round trips this thread makes in one of ``reps``
    calls of ``fn``. py4j's finalizer thread, which deletes collected
    Java references at its own pace, is not counted."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    me = threading.get_ident()
    n = [0]

    def counting(*args, **kwargs):
        if threading.get_ident() == me:
            n[0] += 1
        return send(*args, **kwargs)

    client.send_command = counting
    try:
        counts = []
        for _ in range(reps):
            n[0] = 0
            fn()
            counts.append(n[0])
    finally:
        del client.send_command
    return min(counts)


def test_profile_family_py4j_budget(spark, tmp_path):
    """Warm builds of the profile family's SQL-text bundles stay within a
    few dozen py4j round trips (as Column trees they took 405, 288, 189
    and ~1,000-1,300)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from flink_descriptive_stats_spark.sources.tables import load_table
    n = 200
    pq.write_table(pa.table({
        "c_custkey": pa.array(range(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array([i % 25 for i in range(n)], pa.int32()),
        "c_acctbal": [i * 7.25 - 300.0 for i in range(n)],
        "c_mktsegment": [["AUTOMOBILE", "BUILDING"][i % 2]
                         for i in range(n)]}),
        str(tmp_path / "customer.parquet"))
    ts = [dt.datetime(2024, 1, 1) + dt.timedelta(minutes=7 * i)
          for i in range(n)]
    pq.write_table(pa.table({"ts": ts, "user_id": list(range(n)),
                             "value": [i / 3.0 for i in range(n)]}),
                   str(tmp_path / "events.parquet"))
    cust = load_table(spark, str(tmp_path), "customer")
    ev = load_table(spark, str(tmp_path), "events")
    prof = profile(cust)
    prof.collect()

    def windowed():
        return windowed_profile_multi(ev, value_cols=["value", "user_id"],
                                      window="6 hours", watermark="1 hour")

    budget = {
        "jb_report": (lambda: jb_report(prof).collect(), 25),
        "complete_row_count": (
            lambda: complete_row_count(cust).collect(), 20),
        "topk_tokens": (lambda: topk_tokens(cust), 50),
        "_topk_plan": (
            lambda: _topk_plan(cust, string_columns(cust), 20), 50),
        "windowed_profile_multi": (windowed, 200),
    }
    for name, (fn, bound) in budget.items():
        fn()                                    # warm
        calls = _py4j_calls(spark, fn)
        assert calls <= bound, (name, calls)
