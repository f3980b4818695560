"""Structured Streaming windowed profile == batch windowed profile over the
same data (SURVEY.md §5.5) — the algebraic aggregate bundle is incremental
by construction, so streaming state must reproduce the batch result exactly.
"""

import os

import pytest
from pyspark.sql import functions as F

from flink_descriptive_stats_spark.sources.tables import (
    load_table, stream_table)
from flink_descriptive_stats_spark.streaming.profile_stream import (
    windowed_profile)

SF_DIR = "/root/testdata/sf0.001"
# readStream needs a *directory* source; expose the single parquet file
# through a gitignored scratch dir via symlink.
STREAM_DIR = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scratch", "stream_events")


def _events_stream(spark):
    """Streaming events source; schema + timestamp normalization derived
    from the parquet footer (stream_table), not hard-coded — fixture
    re-encodings of the ts physical unit hit sources/tables.py, not here."""
    return stream_table(spark, STREAM_DIR, "events")


@pytest.fixture(scope="module", autouse=True)
def stream_dir():
    import os
    os.makedirs(STREAM_DIR, exist_ok=True)
    link = f"{STREAM_DIR}/events.parquet"
    if not os.path.exists(link):
        os.symlink(f"{SF_DIR}/events.parquet", link)
    return STREAM_DIR


def test_streaming_equals_batch(spark):
    stream = _events_stream(spark)
    assert stream.isStreaming

    prof_stream = windowed_profile(stream, window="12 hours",
                                   watermark="1 hour")
    query = (prof_stream.writeStream.format("memory")
             .queryName("win_profile").outputMode("complete").start())
    try:
        query.processAllAvailable()
        got = spark.table("win_profile").collect()
    finally:
        query.stop()

    batch = windowed_profile(load_table(spark, SF_DIR, "events"),
                             window="12 hours").collect()
    key = lambda r: r["window_start"]
    got_d = {key(r): r.asDict() for r in got}
    want_d = {key(r): r.asDict() for r in batch}
    assert set(got_d) == set(want_d)
    for k in want_d:
        assert got_d[k] == want_d[k], f"window {k}"


def test_streaming_grouped_by_type(spark):
    """Windowed profile with an extra grouping key (per event_type) — the
    streaming analogue of the per-column fan-out, one state store."""
    stream = _events_stream(spark)
    prof = windowed_profile(stream, window="1 day", watermark="1 hour",
                            extra_keys=["event_type"])
    query = (prof.writeStream.format("memory")
             .queryName("win_profile_typed").outputMode("complete").start())
    try:
        query.processAllAvailable()
        got = spark.table("win_profile_typed").collect()
    finally:
        query.stop()
    assert len(got) > 0
    types = {r["event_type"] for r in got}
    assert len(types) >= 3  # click/view/error...
    batch = windowed_profile(load_table(spark, SF_DIR, "events"),
                             window="1 day",
                             extra_keys=["event_type"]).collect()
    assert len(got) == len(batch)


def test_streaming_dedup(spark, tmp_path_factory):
    """Streaming exact dedup drops every duplicate the batch operator
    would; state key is the same content md5."""
    from flink_descriptive_stats_spark.streaming.pipeline_stream import (
        streaming_exact_dedup)
    src = str(tmp_path_factory.mktemp("dedup_src"))
    docs = load_table(spark, SF_DIR, "documents")
    dup = docs.unionByName(
        docs.withColumn("doc_id", F.col("doc_id") + 1_000_000))
    dup.write.mode("overwrite").parquet(src)
    n_unique = docs.select("text").distinct().count()

    stream = spark.readStream.schema(docs.schema).parquet(src)
    deduped = streaming_exact_dedup(stream)
    query = (deduped.writeStream.format("memory")
             .queryName("dedup_stream").outputMode("append").start())
    try:
        query.processAllAvailable()
        got = spark.table("dedup_stream").count()
    finally:
        query.stop()
    assert got == n_unique


def test_streaming_windowed_topk_equals_batch(spark):
    """Streaming per-window token counts + post-materialization ranking ==
    batch ranking over the same data."""
    from flink_descriptive_stats_spark.streaming.pipeline_stream import (
        rank_topk, windowed_token_counts)
    stream = _events_stream(spark)
    counts = windowed_token_counts(stream, window="1 day", watermark="1 hour")
    query = (counts.writeStream.format("memory")
             .queryName("win_counts").outputMode("complete").start())
    try:
        query.processAllAvailable()
        got = sorted(map(tuple,
                         rank_topk(spark.table("win_counts")).collect()))
    finally:
        query.stop()
    batch = rank_topk(windowed_token_counts(
        load_table(spark, SF_DIR, "events"), window="1 day",
        watermark=None)).collect()
    assert got == sorted(map(tuple, batch))
    assert len(got) > 0


def test_streaming_sessionize_subset_of_batch(spark):
    """Streaming sessionize (session_window + watermark, append mode — the
    only mode session windows support): every emitted (finalized) session
    must match a batch session exactly; sessions past the final watermark
    are withheld, so subset not equality."""
    from flink_descriptive_stats_spark.streaming.pipeline_stream import (
        sessionize)
    stream = _events_stream(spark)
    sess = sessionize(stream, watermark="1 hour")
    query = (sess.writeStream.format("memory")
             .queryName("sessions_stream").outputMode("append").start())
    try:
        query.processAllAvailable()
        got = {tuple(r) for r in spark.table("sessions_stream").collect()}
    finally:
        query.stop()
    batch = {tuple(r) for r in
             sessionize(load_table(spark, SF_DIR, "events")).collect()}
    assert len(got) > 0
    assert got <= batch


def test_session_window_batch(spark):
    """Session windows (gap-based) in batch mode — plan sanity + row count
    bounded by events."""
    ev = load_table(spark, SF_DIR, "events")
    prof = windowed_profile(ev.where(F.col("user_id") == 1),
                            session_gap="30 minutes")
    rows = prof.collect()
    assert 0 < len(rows) <= ev.where(F.col("user_id") == 1).count()
    for r in rows:
        assert r["window_end"] > r["window_start"]


def test_stateful_running_profile(spark, tmp_path):
    """applyInPandasWithState running profile: after N micro-batches the
    latest emission per key equals the batch groupBy profile of all data.
    The input is split into 3 files + maxFilesPerTrigger=1 so the
    cross-micro-batch state merge actually runs."""
    import numpy as np
    from flink_descriptive_stats_spark.streaming.stateful import (
        running_profile)

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = load_table(spark, SF_DIR, "events").select("event_type", "value")
    chunks = str(tmp_path / "chunks")
    ev.repartition(3).write.parquet(chunks)

    stream = (spark.readStream.schema(ev.schema)
              .option("maxFilesPerTrigger", 1).parquet(chunks))
    query = (running_profile(stream).writeStream.format("memory")
             .queryName("running_profile").outputMode("update").start())
    try:
        query.processAllAvailable()
        got = spark.table("running_profile").collect()
    finally:
        query.stop()

    # update mode appends one row per key per micro-batch; the final state
    # is the row with the largest n (n is monotone per key)
    latest = {}
    for r in got:
        if r["event_type"] not in latest or r["n"] > latest[r["event_type"]]["n"]:
            latest[r["event_type"]] = r

    batch = {r["event_type"]: r for r in ev.groupBy("event_type").agg(
        F.count("value").alias("n"), F.avg("value").alias("mean"),
        F.var_pop("value").alias("var_pop"),
        F.min("value").alias("min"), F.max("value").alias("max")).collect()}
    assert set(latest) == set(batch)
    for k, b in batch.items():
        g = latest[k]
        assert g["n"] == b["n"] and g["min"] == b["min"] and g["max"] == b["max"]
        assert np.isclose(g["mean"], b["mean"], rtol=1e-12)
        assert np.isclose(g["var_pop"], b["var_pop"], rtol=1e-9)


def test_merge_moments_property():
    """Pure-python property test: merging per-chunk moment bundles in any
    split equals numpy over the concatenation (the invariant the stateful
    running profile rests on)."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from flink_descriptive_stats_spark.streaming.stateful import (
        batch_moments, merge_moments)

    @settings(max_examples=200, deadline=None)
    @given(st.lists(st.floats(min_value=-1e6, max_value=1e6,
                              allow_nan=False), min_size=1, max_size=60),
           st.integers(min_value=1, max_value=5))
    def check(xs, n_chunks):
        arr = np.array(xs, dtype=np.float64)
        chunks = np.array_split(arr, n_chunks)
        acc = (0, 0.0, 0.0, float("inf"), float("-inf"))
        for c in chunks:
            acc = merge_moments(acc, batch_moments(c))
        n, mean, m2, mn, mx = acc
        assert n == arr.size and mn == arr.min() and mx == arr.max()
        assert np.isclose(mean, arr.mean(), rtol=1e-9, atol=1e-9)
        assert np.isclose(m2 / n, arr.var(), rtol=1e-6, atol=1e-6)

    check()


def test_streaming_topk_foreachbatch_end_to_end(spark, tmp_path):
    """North-star: the full streaming top-K pipeline — readStream ->
    windowed counts -> foreachBatch(rank -> parquet sink) — converges to
    the batch ranking of the same data."""
    from flink_descriptive_stats_spark.streaming.pipeline_stream import (
        rank_topk, start_windowed_topk, windowed_token_counts)
    sink = str(tmp_path / "topk_sink")
    stream = _events_stream(spark)
    query = start_windowed_topk(stream, sink, window="1 day",
                                watermark="1 hour")
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    got = sorted(map(tuple, spark.read.parquet(sink).collect()))
    batch = rank_topk(windowed_token_counts(
        load_table(spark, SF_DIR, "events"), window="1 day",
        watermark=None)).collect()
    assert got == sorted(map(tuple, batch))
    assert len(got) > 0


def test_streaming_windowed_distinct_approx(spark):
    """exact distinct is rejected on streams (unbounded per-window key
    state); the HLL path runs under readStream + watermark and lands
    within the sketch's error bound of the exact batch answer."""
    from flink_descriptive_stats_spark.streaming.profile_stream import (
        windowed_distinct)
    stream = _events_stream(spark)
    got_df = windowed_distinct(stream, window="1 day", watermark="1 hour",
                               exact=False)
    query = (got_df.writeStream.format("memory").queryName("win_distinct")
             .outputMode("complete").start())
    try:
        query.processAllAvailable()
        got = {r["window_start"]: r["distinct_keys"]
               for r in spark.table("win_distinct").collect()}
    finally:
        query.stop()
    exact = {r["window_start"]: r["distinct_keys"]
             for r in windowed_distinct(load_table(spark, SF_DIR, "events"),
                                        window="1 day").collect()}
    assert set(got) == set(exact) and len(got) > 0
    for w, n in exact.items():
        assert abs(got[w] - n) <= max(2, 0.1 * n), (w, got[w], n)


def test_streaming_global_topk_sketch_equals_batch(spark, tmp_path):
    """Cross-window global top-K via count-min merge: after N micro-batches
    (3 files, maxFilesPerTrigger=1, so the cross-batch grid merge actually
    runs) the sink equals the batch countmin_topk over all data EXACTLY —
    the grid is a commutative monoid, so the merged sketch is identical to
    the one-shot sketch."""
    from flink_descriptive_stats_spark.operators.sketch import countmin_topk
    from flink_descriptive_stats_spark.streaming.pipeline_stream import (
        start_global_topk_sketch)
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    chunks = str(tmp_path / "chunks")
    docs.repartition(3).write.parquet(chunks)
    sink = str(tmp_path / "topk_sink")

    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1).parquet(chunks))
    query = start_global_topk_sketch(stream, sink, text_col="text", k=20)
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    got = sorted(map(tuple, spark.read.parquet(sink).collect()))
    batch = sorted(map(tuple, countmin_topk(docs, "text", k=20).collect()))
    assert got == batch
    assert len(got) == 20


def test_streaming_global_topk_sketch_bounded_collect(spark, tmp_path):
    """The candidate path is distributed (VERDICT r4 item #2): pruning
    runs in Spark and the driver collects at most max_candidates rows per
    epoch, even when the stream vocabulary is far larger than the cap. With
    the cap above k the sink still ranks the true heavy hitters (candidates
    are ranked by the merged grid's estimate each epoch)."""
    from flink_descriptive_stats_spark.operators.sketch import countmin_topk
    from flink_descriptive_stats_spark.streaming.pipeline_stream import (
        start_global_topk_sketch)
    # synthetic corpus: 20 heavy hitters (~90 occurrences each) + ~1800
    # one-off filler tokens — the fixture documents vocab (31 tokens) is
    # too small for a candidate cap to ever bind
    docs = spark.range(600).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.concat(F.lit("hot"), (F.col("id") % 20).cast("string")),
            F.concat(F.lit("hot"), (F.col("id") % 20).cast("string")),
            F.concat(F.lit("hot"), (F.col("id") % 20).cast("string")),
            F.concat(F.lit("ua"), F.col("id").cast("string")),
            F.concat(F.lit("ub"), F.col("id").cast("string")),
            F.concat(F.lit("uc"), F.col("id").cast("string"))).alias("text"))
    cap = 40
    chunks = str(tmp_path / "chunks")
    docs.repartition(3).write.parquet(chunks)
    sink = str(tmp_path / "topk_sink")
    sizes: list[int] = []
    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1).parquet(chunks))
    query = start_global_topk_sketch(stream, sink, text_col="text", k=20,
                                     max_candidates=cap,
                                     _collect_probe=sizes.append)
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    assert len(sizes) >= 3                    # one probe per folded epoch
    assert all(s <= cap for s in sizes), sizes
    got = {r["token"] for r in spark.read.parquet(sink).collect()}
    assert len(got) == 20
    batch = {r["token"]
             for r in countmin_topk(docs, "text", k=20).collect()}
    # the heavy hitters appear in every epoch, so ranking the bounded
    # candidate set by merged-grid estimate recovers them exactly
    assert got == batch, (got, batch)


def test_streaming_global_topk_sketch_restart_durable(spark, tmp_path):
    """state_path + checkpoint_path make the sketch merge survive a query
    restart: fold two files, stop, add a third file, start a NEW query
    (fresh closure, same state + checkpoint) — the checkpoint skips files
    1-2, the state reload restores their counts, and the final sink equals
    batch countmin_topk over all three. Without the reload the restarted
    grid would hold only file 3."""
    from flink_descriptive_stats_spark.operators.sketch import countmin_topk
    from flink_descriptive_stats_spark.streaming.pipeline_stream import (
        start_global_topk_sketch)
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    chunks = str(tmp_path / "chunks")
    docs.where(F.col("doc_id") % 3 != 2).repartition(2).write.parquet(chunks)
    sink, state = str(tmp_path / "sink"), str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (spark.readStream.schema(docs.schema)
                  .option("maxFilesPerTrigger", 1).parquet(chunks))
        q = start_global_topk_sketch(stream, sink, text_col="text", k=20,
                                     state_path=state, checkpoint_path=ckpt)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run()                                     # files 1-2 folded, state saved
    (docs.where(F.col("doc_id") % 3 == 2).repartition(1)
     .write.mode("append").parquet(chunks))   # a third file lands
    run()                                     # restart: ckpt skips 1-2
    got = sorted(map(tuple, spark.read.parquet(sink).collect()))
    batch = sorted(map(tuple, countmin_topk(docs, "text", k=20).collect()))
    assert got == batch


def test_streaming_throughput_and_bounded_state(spark, tmp_path):
    """BASELINE.md streaming target, measured (VERDICT r4 item #4): an
    in-event-time-order file replay of sf0.01 events through the two
    stateful operators completes with every row processed, sustained
    throughput above a conservative floor, and — the actual scale claim —
    state bounded by the watermark: the profile holds ~open-windows rows
    and the dedup holds only the keys inside its 1-hour horizon, both
    orders of magnitude below the input row count. tools/stream_bench.py
    runs the same harness at sf0.1 for the recorded numbers."""
    from tools.stream_bench import run_stream_bench
    res = run_stream_bench(spark, "/root/testdata/sf0.01",
                           str(tmp_path), n_files=4, files_per_trigger=2)
    for op in ("windowed_profile", "exact_dedup", "constraint_monitor",
               "sessionize"):
        m = res[op]
        assert m["rows"] == 10000, m          # every replayed row processed
        assert m["n_epochs"] >= 2, m          # the cross-epoch merge ran
        assert m["rows_per_sec"] and m["rows_per_sec"] > 500, m
    # state bounded by watermark, not by input volume (the constraint
    # monitor holds NO store-managed state at all — O(rules) driver totals)
    for op in ("windowed_profile", "exact_dedup", "constraint_monitor"):
        assert res[op]["state_rows_peak"] < 1000, res[op]
    # sessionize state = OPEN sessions: the sparse fixture yields ~9.5k
    # total sessions; the watermark must have evicted a large share by
    # the peak (full retention would show ~9.5k rows)
    assert res["sessionize"]["state_rows_peak"] < 6500, res["sessionize"]
    assert res["exact_dedup"]["state_rows_final"] < 200, res


def test_streaming_multi_profile_equals_batch(spark):
    """windowed_profile_multi (all numeric columns, one agg) is streaming-
    safe: readStream result == batch result over the same data."""
    from flink_descriptive_stats_spark.streaming.profile_stream import (
        windowed_profile_multi)
    stream = _events_stream(spark)
    got_df = windowed_profile_multi(stream, window="1 day",
                                    watermark="1 hour")
    query = (got_df.writeStream.format("memory").queryName("multi_prof")
             .outputMode("complete").start())
    try:
        query.processAllAvailable()
        got = sorted(map(tuple, spark.table("multi_prof").collect()))
    finally:
        query.stop()
    batch = windowed_profile_multi(load_table(spark, SF_DIR, "events"),
                                   window="1 day")
    assert got == sorted(map(tuple, batch.collect()))
    assert len(got) > 0


def test_streaming_constraint_monitor_equals_batch(spark, tmp_path):
    """Running constraint totals after N micro-batches == batch
    check_constraints over all data (violation counts are sums — a
    commutative monoid), and a restart with state+checkpoint is lossless."""
    from flink_descriptive_stats_spark.operators.quality import (
        check_constraints)
    from flink_descriptive_stats_spark.streaming.pipeline_stream import (
        start_constraint_monitor)
    rules = [("not_null", "value"), ("in_range", "value", 0.0, 50.0),
             ("in_set", "event_type", ("view", "click", "purchase"))]
    ev = load_table(spark, SF_DIR, "events").select("event_id",
                                                    "event_type", "value")
    chunks = str(tmp_path / "chunks")
    ev.repartition(3).write.parquet(chunks)
    sink = str(tmp_path / "cc_sink")
    state = str(tmp_path / "cc_state")
    ckpt = str(tmp_path / "cc_ckpt")

    stream = (spark.readStream.schema(ev.schema)
              .option("maxFilesPerTrigger", 1).parquet(chunks))
    q = start_constraint_monitor(stream, rules, sink, state_path=state,
                                 checkpoint_path=ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(map(tuple, spark.read.parquet(sink).collect()))
    batch = sorted(map(tuple, check_constraints(ev, rules).collect()))
    assert got == batch
    # non-vacuous on the fixture: at least one rule fails
    assert any(not t[-1] for t in got)

    # restart durability: new data lands, a FRESH closure (totals start
    # from the snapshot) folds only the new file, and the report equals
    # batch over old+new
    more = ev.limit(500).withColumn("value", F.col("value") + 100.0)
    more.coalesce(1).write.mode("append").parquet(chunks)
    stream2 = (spark.readStream.schema(ev.schema)
               .option("maxFilesPerTrigger", 1).parquet(chunks))
    q2 = start_constraint_monitor(stream2, rules, sink, state_path=state,
                                  checkpoint_path=ckpt)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    got2 = sorted(map(tuple, spark.read.parquet(sink).collect()))
    batch2 = sorted(map(tuple, check_constraints(
        ev.unionAll(more), rules).collect()))
    assert got2 == batch2


def test_streaming_constraint_monitor_rejects_unique(spark):
    from flink_descriptive_stats_spark.streaming.pipeline_stream import (
        start_constraint_monitor)
    with pytest.raises(ValueError, match="not streamable"):
        start_constraint_monitor(
            _events_stream(spark), [("unique", "event_id")], "/tmp/x")


def test_session_summary_semantics(spark):
    """bounce = single-event session; sessions split on gaps > 30 min."""
    import datetime as dt
    from flink_descriptive_stats_spark.streaming.pipeline_stream import (
        session_summary)
    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    rows = [
        (1, t0), (1, t0 + dt.timedelta(minutes=10)),     # session A (2 ev)
        (1, t0 + dt.timedelta(hours=2)),                 # session B (bounce)
        (2, t0),                                         # session C (bounce)
    ]
    df = spark.createDataFrame(rows, "user_id bigint, ts timestamp")
    r = session_summary(df).collect()[0]
    assert r["n_sessions"] == 3 and r["n_users"] == 2
    assert r["max_events"] == 2
    assert abs(float(r["bounce_rate"].replace("e", "E")) - 2 / 3) < 1e-5
    # session A duration = 10 min span + 30 min gap tail = 2400 s
    # bounces = 0 + 30 min = 1800 s; avg = (2400 + 1800 + 1800) / 3 = 2000
    assert abs(float(r["avg_duration_s"].replace("e", "E")) - 2000.0) < 1e-2


def test_streaming_drift_monitor_equals_batch(spark, tmp_path):
    """Running drift report after N micro-batches == batch js_drift /
    psi_drift of the reference vs everything replayed (bucket counts are
    a sum monoid), including across a restart."""
    from flink_descriptive_stats_spark.operators.extras import (
        js_drift, psi_drift)
    from flink_descriptive_stats_spark.streaming.pipeline_stream import (
        start_drift_monitor)
    ev = load_table(spark, SF_DIR, "events").select("event_id", "value")
    ref = ev.where(F.col("event_id") % 2 == 0)
    live = ev.where(F.col("event_id") % 2 == 1)
    chunks = str(tmp_path / "chunks")
    live.repartition(3).write.parquet(chunks)
    sink = str(tmp_path / "drift_sink")
    state = str(tmp_path / "drift_state")
    ckpt = str(tmp_path / "drift_ckpt")

    stream = (spark.readStream.schema(live.schema)
              .option("maxFilesPerTrigger", 1).parquet(chunks))
    q = start_drift_monitor(stream, ref, "value", sink, bins=8,
                            state_path=state, checkpoint_path=ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["bucket"]: r for r in spark.read.parquet(sink).collect()}
    want_jsd = {r["bucket"]: r for r in
                js_drift(ref, live, "value", bins=8).collect()}
    want_psi = {r["bucket"]: r for r in
                psi_drift(ref, live, "value", bins=8).collect()}
    assert set(got) == set(want_jsd)
    for b in want_jsd:
        assert got[b]["n_live"] == want_jsd[b]["n_b"]
        assert got[b]["jsd_term"] == want_jsd[b]["jsd_term"]
        assert got[b]["psi_term"] == want_psi[b]["psi_term"]

    # restart with more data: fresh closure resumes from the snapshot
    more = live.limit(300).withColumn("value", F.col("value") + 60.0)
    more.coalesce(1).write.mode("append").parquet(chunks)
    stream2 = (spark.readStream.schema(live.schema)
               .option("maxFilesPerTrigger", 1).parquet(chunks))
    q2 = start_drift_monitor(stream2, ref, "value", sink, bins=8,
                             state_path=state, checkpoint_path=ckpt)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    got2 = {r["bucket"]: r for r in spark.read.parquet(sink).collect()}
    want2 = {r["bucket"]: r for r in
             js_drift(ref, live.unionAll(more), "value", bins=8).collect()}
    assert set(got2) == set(want2)
    for b in want2:
        assert got2[b]["jsd_term"] == want2[b]["jsd_term"]
    # the +60 shift pushed rows past the reference max -> overflow bucket
    assert got2[8]["n_live"] > 0


def test_streaming_profile_monitor_equals_batch(spark, tmp_path):
    """The streaming corpus profile folds per-epoch moment bundles with
    the same Pébay merge as the batch incremental API — after N
    micro-batches the sink equals finalize(profile_state(all data)),
    sig6 rendering included, and a restart resumes losslessly."""
    from flink_descriptive_stats_spark.operators import moments as mo
    from flink_descriptive_stats_spark.streaming.pipeline_stream import (
        start_profile_monitor)
    cols = ["value", "user_id"]
    ev = load_table(spark, SF_DIR, "events").select("event_id", "user_id",
                                                    "value")
    chunks = str(tmp_path / "chunks")
    ev.repartition(3).write.parquet(chunks)
    sink = str(tmp_path / "pm_sink")
    state = str(tmp_path / "pm_state")
    ckpt = str(tmp_path / "pm_ckpt")

    stream = (spark.readStream.schema(ev.schema)
              .option("maxFilesPerTrigger", 1).parquet(chunks))
    q = start_profile_monitor(stream, cols, sink, state_path=state,
                              checkpoint_path=ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(map(tuple, spark.read.parquet(sink).collect()))
    want = sorted(map(tuple, mo.finalize_profile_state(
        mo.profile_state(ev, cols)).collect()))
    assert got == want

    # restart: new shifted data arrives; fresh closure resumes from state
    more = ev.limit(400).withColumn("value", F.col("value") * 3.0)
    more.coalesce(1).write.mode("append").parquet(chunks)
    stream2 = (spark.readStream.schema(ev.schema)
               .option("maxFilesPerTrigger", 1).parquet(chunks))
    q2 = start_profile_monitor(stream2, cols, sink, state_path=state,
                               checkpoint_path=ckpt)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    got2 = sorted(map(tuple, spark.read.parquet(sink).collect()))
    want2 = sorted(map(tuple, mo.finalize_profile_state(
        mo.profile_state(ev.unionAll(more), cols)).collect()))
    assert got2 == want2


def test_streaming_windowed_quantiles_approx(spark):
    """windowed percentiles under readStream + watermark via the GK
    approx_percentile path (bounded mergeable state); each window's
    p25/p50/p75 lands within the sketch tolerance of the exact batch
    answer, and the exact path stays the oracle-gated batch shape."""
    from flink_descriptive_stats_spark.streaming.profile_stream import (
        windowed_quantiles)

    def f(x):
        return float(x.replace("e", "E"))

    stream = _events_stream(spark)
    got_df = windowed_quantiles(stream, window="1 day", watermark="1 hour",
                                exact=False)
    query = (got_df.writeStream.format("memory").queryName("win_q")
             .outputMode("complete").start())
    try:
        query.processAllAvailable()
        got = {r["window_start"]: r for r in
               spark.table("win_q").collect()}
    finally:
        query.stop()
    exact = {r["window_start"]: r for r in
             windowed_quantiles(load_table(spark, SF_DIR, "events"),
                                window="1 day").collect()}
    assert set(got) == set(exact) and len(got) > 0
    # thin windows diverge by construction (exact percentile INTERPOLATES
    # between order stats, GK returns an actual element — on a 5-row
    # window those differ by half an element gap); compare where the
    # estimator is meaningful
    fat = {w for w, ex in exact.items() if ex["n_rows"] >= 50}
    assert fat, "fixture has no fat windows"
    for w in fat:
        ex = exact[w]
        spread = f(ex["q_75"]) - f(ex["q_25"]) or 1.0
        for q in ("q_25", "q_50", "q_75"):
            assert abs(f(got[w][q]) - f(ex[q])) <= 0.25 * spread, \
                (w, q, got[w][q], ex[q])


def test_streaming_canonical_dedup(spark, tmp_path_factory):
    """canonical=True suppresses formatting variants the exact key keeps:
    a micro-batch stream of raw/styled copies emits one row per canonical
    group, matching batch canonical_dedup's group count."""
    import os
    d = tmp_path_factory.mktemp("canon_stream")
    rows = [(1, "Hello,  World!"), (2, "hello world"), (3, "HELLO WORLD."),
            (4, "goodbye world"), (5, "goodbye world")]
    (spark.createDataFrame(rows, "doc_id bigint, text string")
     .coalesce(1).write.mode("overwrite").parquet(str(d / "docs")))
    stream = (spark.readStream.schema("doc_id bigint, text string")
              .parquet(str(d / "docs")))
    from flink_descriptive_stats_spark.streaming.pipeline_stream import (
        streaming_exact_dedup)
    out = streaming_exact_dedup(stream, canonical=True)
    q = (out.writeStream.format("memory").queryName("canon_dedup")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        kept = spark.table("canon_dedup").collect()
    finally:
        q.stop()
    # 2 canonical groups -> 2 survivors; exact dedup would keep 4
    assert len(kept) == 2
    texts = {r["text"].lower().strip(" .!,") .replace(",", "")
             for r in kept}
    assert len(texts) == 2


def test_streaming_ingest_dedup_monitor_equals_batch(spark, tmp_path):
    """After N micro-batches, (dup_of_old + internal_dup) and novel per
    source equal the ONE-SHOT incremental_dedup_report over the
    concatenated ingest — epoch attribution shifts counts between the
    two dup columns but their sum and the novel count are invariants."""
    import os
    from flink_descriptive_stats_spark.operators.dedup import (
        incremental_dedup_report)
    from flink_descriptive_stats_spark.streaming.pipeline_stream import (
        start_ingest_dedup_monitor)
    docs = load_table(spark, SF_DIR, "documents")
    old = docs.where(F.col("doc_id") % 3 != 0)
    new = docs.where(F.col("doc_id") % 3 == 0)
    src = str(tmp_path / "ingest")
    new.repartition(3).write.parquet(src)  # 3 files -> 3 micro-batches
    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    sink = str(tmp_path / "sink")
    state = str(tmp_path / "state")
    q = start_ingest_dedup_monitor(
        stream, old, sink_path=sink, state_path=state,
        checkpoint_path=str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["source"]: r for r in spark.read.parquet(sink).collect()}
    want = {r["source"]: r for r in
            incremental_dedup_report(old, new).collect()}
    assert set(got) == set(want)
    for s in want:
        g, w = got[s], want[s]
        assert g["n_new"] == w["n_new"], s
        assert g["n_novel"] == w["n_novel"], s
        assert (g["n_dup_of_old"] + g["n_internal_dup"]
                == w["n_dup_of_old"] + w["n_internal_dup"]), s
    # state holds one hash per distinct content seen (old + novel new)
    n_hashes = spark.read.parquet(
        *(os.path.join(state, "hashes", d)
          for d in os.listdir(os.path.join(state, "hashes")))).count()
    exact = (old.select("text").union(new.select("text"))
             .where(F.col("text").isNotNull()).distinct().count())
    assert n_hashes == exact


def test_streaming_ingest_dedup_monitor_restart_no_double_count(
        spark, tmp_path):
    """Re-running the monitor over the SAME ingest with the same state
    (fresh checkpoint — the worst case: every epoch replays) must leave
    the totals unchanged: the epoch watermark no-ops replays and the
    per-epoch hash append overwrites its own directory."""
    from flink_descriptive_stats_spark.streaming.pipeline_stream import (
        start_ingest_dedup_monitor)
    docs = load_table(spark, SF_DIR, "documents")
    old = docs.where(F.col("doc_id") % 3 != 0)
    new = docs.where(F.col("doc_id") % 3 == 0)
    src = str(tmp_path / "ingest")
    new.repartition(2).write.parquet(src)
    sink = str(tmp_path / "sink")
    state = str(tmp_path / "state")

    def run(ckpt):
        stream = (spark.readStream.schema(docs.schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = start_ingest_dedup_monitor(
            stream, old, sink_path=sink, state_path=state,
            checkpoint_path=str(tmp_path / ckpt))
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return sorted(map(tuple, spark.read.parquet(sink).collect()))

    first = run("ckpt1")
    second = run("ckpt2")          # full replay against live state
    assert first == second
