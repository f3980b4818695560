"""functions/memo.py: repeat aggregate bundles over the same immutable
input hit the memo; different inputs or tags miss."""

from pyspark.sql import functions as F

from flink_descriptive_stats_spark.functions import memo


def test_agg_row_memoized_hits_and_misses(spark):
    df = spark.createDataFrame([(1.0,), (2.0,), (3.0,)], "x double")
    a = memo.agg_row_memoized(df, [F.avg("x").alias("m")], ("t1",))
    b = memo.agg_row_memoized(df, [F.avg("x").alias("m")], ("t1",))
    assert a is b                      # same plan + tag -> cached row
    c = memo.agg_row_memoized(df, [F.max("x").alias("m")], ("t2",))
    assert c is not a and c["m"] == 3.0
    other = spark.createDataFrame([(9.0,)], "x double")
    d = memo.agg_row_memoized(other, [F.avg("x").alias("m")], ("t1",))
    assert d["m"] == 9.0               # different input -> different row


def test_cluster_memo_reuse(spark):
    from flink_descriptive_stats_spark.operators import dedup
    df = spark.createDataFrame(
        [(0, "a b c d e"), (1, "a b c d e"), (2, "unrelated text here")],
        "doc_id long, text string")
    a = dedup.neardup_clusters(df)
    b = dedup.neardup_clusters(df)
    assert a is b                      # checkpointed labels reused
    rows = sorted(map(tuple, b.collect()))
    assert rows == [(0, 0), (1, 0), (2, 2)]


def _write_parquet(path, **cols):
    import pyarrow as pa
    import pyarrow.parquet as pq
    pq.write_table(pa.table(cols), str(path))


def _profile_x(df):
    from flink_descriptive_stats_spark.operators.profile import profile
    r = next(r for r in profile(df).collect() if r["column"] == "x")
    return r["row_count"], r["mean"]


def test_rewritten_file_is_not_served_stale(spark, tmp_path):
    from flink_descriptive_stats_spark.functions.sig import sig6_py
    from flink_descriptive_stats_spark.sources.tables import load_table
    path = tmp_path / "t.parquet"
    _write_parquet(path, x=[1, 2, 3])
    assert _profile_x(load_table(spark, str(tmp_path), "t")) == (
        3, sig6_py(2.0))
    _write_parquet(path, x=[1, 2, 3, 4, 5])     # same path, new contents
    assert _profile_x(load_table(spark, str(tmp_path), "t")) == (
        5, sig6_py(3.0))


def test_rewritten_file_is_a_topk_miss(spark, tmp_path):
    from flink_descriptive_stats_spark.operators.topk import topk_tokens
    from flink_descriptive_stats_spark.sources.tables import load_table

    def top(df):
        return sorted((r["kind"], r["token"], r["cnt"])
                      for r in topk_tokens(df, k=1).collect())

    path = tmp_path / "t.parquet"
    _write_parquet(path, s=["a", "a", "b"])
    assert top(load_table(spark, str(tmp_path), "t")) == [
        ("pattern", "a", 3), ("value", "a", 2)]
    sc = spark.sparkContext
    sc.setJobGroup("topk-repeat", "top-K of an unchanged file")
    try:
        again = top(load_table(spark, str(tmp_path), "t"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)   # leave no group
    assert sc.statusTracker().getJobIdsForGroup("topk-repeat") == []
    assert again == [("pattern", "a", 3), ("value", "a", 2)]
    _write_parquet(path, s=["b", "b", "b", "a"])  # same path, new contents
    assert top(load_table(spark, str(tmp_path), "t")) == [
        ("pattern", "a", 4), ("value", "b", 3)]


def test_rewritten_file_schema_is_not_served_stale(spark, tmp_path):
    from flink_descriptive_stats_spark.sources.tables import load_table
    path = tmp_path / "t.parquet"
    _write_parquet(path, x=[1, 2, 3])
    assert load_table(spark, str(tmp_path), "t").columns == ["x"]
    _write_parquet(path, x=[1, 2, 3], y=["a", "b", "c"])
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["x", "y"]
    assert sorted(map(tuple, df.collect())) == [
        (1, "a"), (2, "b"), (3, "c")]


def test_non_local_input_runs_uncached():
    assert memo.files_identity(["hdfs://nn/warehouse/t.parquet"]) is None
    assert memo.files_identity(["/no/such/file.parquet"]) is None
    owner = type("Owner", (), {})()
    cache = memo.Memo(4)
    builds = []
    for _ in range(2):
        cache.get(owner, None, lambda: builds.append(1))
    assert len(builds) == 2


def test_memo_lru_bound_and_list_copy():
    owner = type("Owner", (), {})()
    cache = memo.Memo(2)
    a = cache.get(owner, "a", lambda: [1])
    a.append(99)                       # caller mutation stays local
    assert cache.get(owner, "a", lambda: [2]) == [1]
    cache.get(owner, "b", lambda: [3])
    cache.get(owner, "a", lambda: [4])  # touch: "b" is now least recent
    cache.get(owner, "c", lambda: [5])
    assert cache.peek(owner, "a") == [1]
    assert cache.peek(owner, "b") is None
    other = type("Owner", (), {})()
    assert cache.peek(other, "a") is None


def test_memo_threads_at_bound():
    import sys
    import threading
    owner = type("Owner", (), {})()
    cache = memo.Memo(8)
    errors, wrong = [], []

    def build(k):
        return [k, k * k]

    def hammer(seed):
        try:
            for i in range(3000):
                k = (seed * 7 + i) % 24     # overlapping keys, 3x the bound
                got = cache.get(owner, k, lambda: build(k))
                if got != build(k):
                    wrong.append((k, got))
                if i % 5 == 0:
                    peeked = cache.peek(owner, k)
                    if peeked is not None and peeked != build(k):
                        wrong.append((k, peeked))
        except Exception as e:          # noqa: BLE001 — any raise fails
            errors.append(e)

    threads = [threading.Thread(target=hammer, args=(s,)) for s in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)         # switch threads mid-operation
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == [] and wrong == []
    assert len(cache._data) <= cache.maxsize
