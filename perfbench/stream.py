"""``stream_profile``: the moment aggregates as incremental streaming epochs.

The sf0.1 ``events`` table (100k rows over 30 days) is cut by event time
into segments, and each segment into time-ordered parquet files with
increasing modification times. A seeded share of each file's last 50
minutes of events moves to the next file: out-of-order rows that stay
inside the one-hour watermark, so none may be dropped.

One drain is one streaming query over one segment: ``stream_table`` with
``maxFilesPerTrigger=1`` feeds ``windowed_profile_multi`` over ``value``
and ``user_id`` (6-hour windows, 1-hour watermark), written in append mode
to a memory sink (the emitted windows are the result the oracle checks),
and drained with ``processAllAvailable()``. The work is in the streaming
layer: state store, micro-batch planning, write-ahead log and offset
commits.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pandas as pd

from perfbench import check, datagen, trace

SF = 0.1
WARM_SF = 0.01
SEGMENTS = 8
FILES_PER_SEGMENT = 4
WARM_FILES = 10
TRACE_SEGMENTS = 2
MIN_DRAINS = 2
VALUE_COLS = ["value", "user_id"]
WINDOW_HOURS = 6
WATERMARK = "1 hour"

#: progress ``durationMs`` keys reported per epoch in the traced run
DURATIONS = {"addBatch": "streaming.add_batch_s",
             "queryPlanning": "streaming.query_planning_s",
             "getBatch": "streaming.get_batch_s",
             "latestOffset": "streaming.latest_offset_s",
             "walCommit": "streaming.wal_commit_s",
             "commitOffsets": "streaming.commit_offsets_s"}


def _write_files(tables, directory: str, mtime0: float) -> list[str]:
    paths = []
    for i, tab in enumerate(tables):
        p = os.path.join(directory, f"part-{i:04d}.parquet")
        datagen.write(tab, p)
        # the file source picks files up oldest first
        os.utime(p, (mtime0 + i, mtime0 + i))
        paths.append(p)
    return paths


def make_inputs(work: str, seed: int, seconds: float) -> dict:
    rng = np.random.default_rng([seed, 2])
    events = datagen.make_table("events", SF)
    bounds = np.linspace(0, events.num_rows, SEGMENTS + 1).astype(int)
    mtime0 = time.time() - 86_400
    segments = []
    for s in range(SEGMENTS):
        seg = events.slice(bounds[s], bounds[s + 1] - bounds[s])
        files = datagen.stream_files(seg, rng, FILES_PER_SEGMENT)
        d = os.path.join(work, "stream", f"seg{s}")
        segments.append({"dir": d, "rows": seg.num_rows,
                         "files": _write_files(files, d, mtime0)})
    warm_tab = datagen.make_table("events", WARM_SF)
    d = os.path.join(work, "stream", "warm")
    warm = {"dir": d, "rows": warm_tab.num_rows, "files": _write_files(
        datagen.stream_files(warm_tab, rng, WARM_FILES), d, mtime0)}
    return {"segments": segments, "warm": warm,
            "input_rows": events.num_rows,
            "input_bytes": sum(os.path.getsize(p) for s in segments
                               for p in s["files"])}


class Drain:
    def __init__(self, segment: dict, name: str):
        self.segment, self.name = segment, name
        self.wall = 0.0
        self.progress: list[dict] = []
        self.run_id: str | None = None
        self.error: str | None = None
        self.results: tuple | None = None

    def data_epochs(self) -> list[dict]:
        return [p for p in self.progress if p["numInputRows"] > 0]


def drain(spark, segment: dict, name: str, work: str,
          tr: trace.Tracer, traced: bool) -> Drain:
    """One streaming query over one segment, drained to the end."""
    from flink_descriptive_stats_spark.sources.tables import stream_table
    from flink_descriptive_stats_spark.streaming.profile_stream import (
        windowed_profile_multi)
    sc = spark.sparkContext if traced else None
    d = Drain(segment, name)
    try:
        t0 = time.perf_counter()
        with tr.span("drain", name):
            with tr.span("sources.stream_table", name, sc):
                df = stream_table(spark, segment["dir"], "events",
                                  maxFilesPerTrigger=1)
            with tr.span("streaming.windowed_profile_multi", name):
                prof = windowed_profile_multi(
                    df, value_cols=VALUE_COLS,
                    window=f"{WINDOW_HOURS} hours", watermark=WATERMARK)
            with tr.span("streaming.start", name):
                q = (prof.writeStream.format("memory").queryName(name)
                     .outputMode("append")
                     .option("checkpointLocation",
                             os.path.join(work, "checkpoints", name))
                     .start())
            try:
                with tr.span("streaming.process_all_available", name):
                    q.processAllAvailable()
                d.wall = time.perf_counter() - t0
                d.progress = [p for p in q.recentProgress if p is not None]
                d.run_id = str(q.runId)
            finally:
                q.stop()
        emitted = spark.table(name)
        d.results = (emitted.columns, emitted.collect())
        spark.catalog.dropTempView(name)
    except Exception as e:  # a failed drain is counted, not fatal
        d.error = f"{type(e).__name__}: {e}"[:400]
    return d


def clients() -> int:
    return 1


def warm_up(spark, inputs: dict, work: str) -> list[Drain]:
    """One drain of the warm-up files: the request shape, once."""
    return [drain(spark, inputs["warm"], "warm", work,
                  trace.Tracer(False), False)]


def measure(spark, inputs: dict, seconds: float, work: str) -> dict:
    """Untraced drains of consecutive segments until ``seconds`` passed
    (at least ``MIN_DRAINS``)."""
    drains: list[Drain] = []
    t0 = time.perf_counter()
    for i, seg in enumerate(inputs["segments"]):
        if (len(drains) >= MIN_DRAINS
                and time.perf_counter() - t0 >= seconds):
            break
        drains.append(drain(spark, seg, f"seg{i}", work,
                            trace.Tracer(False), False))
    ok = [d for d in drains if d.error is None]
    rows = sum(p["numInputRows"] for d in ok for p in d.data_epochs())
    wall = sum(d.wall for d in ok)
    lat = [p["durationMs"]["triggerExecution"] / 1000.0
           for d in ok for p in d.data_epochs()]
    return {
        "outcomes": drains,
        "metrics": {
            "throughput_per_s": rows / wall if wall else 0.0,
            "latency_p50_s": statistics.median(lat) if lat else 0.0,
        },
        "detail": {
            "drains": len(drains), "rows": rows, "drain_wall_s": wall,
            "rows_per_s": rows / wall if wall else None,
            "epoch_latency_p50_s": statistics.median(lat) if lat else None,
            "epoch_samples": len(lat),
            "drain_walls_s": [d.wall for d in ok],
            "epoch_latencies_s": lat,
        },
    }


def measure_traced(spark, inputs: dict, seconds: float, work: str) -> dict:
    """Traced drains of the first segments (fixed work, so counts repeat
    exactly), then the same segments untraced for the tracing overhead."""
    segs = inputs["segments"][:TRACE_SEGMENTS]
    tr = trace.Tracer(True)
    traced = [drain(spark, s, f"traced{i}", work, tr, True)
              for i, s in enumerate(segs)]
    untraced = [drain(spark, s, f"untraced{i}", work, trace.Tracer(False),
                      False) for i, s in enumerate(segs)]
    sc = spark.sparkContext
    trace.wait_for_listener(sc)
    ok = [d for d in traced if d.error is None]
    epochs = [p for d in ok for p in d.data_epochs()]
    states = [so for d in ok for p in d.progress
              for so in p.get("stateOperators") or []]
    counts = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
    for d in ok:
        for k, v in trace.spark_counts(sc, d.run_id).items():
            counts[k] += v
    per_epoch = lambda v: v / len(epochs) if epochs else 0.0
    m = {
        key: statistics.median(p["durationMs"].get(dur, 0) / 1000.0
                               for p in epochs) if epochs else 0.0
        for dur, key in DURATIONS.items()}
    m.update({
        "sources.stream_table_s": tr.median_self("sources.stream_table"),
        "streaming.epochs": len(epochs),
        "streaming.rows_per_epoch": statistics.median(
            p["numInputRows"] for p in epochs) if epochs else 0,
        "streaming.state_rows_peak": max(
            (so["numRowsTotal"] for so in states), default=0),
        "streaming.state_bytes_peak": max(
            (so["memoryUsedBytes"] for so in states), default=0),
        "streaming.rows_dropped_by_watermark": sum(
            so.get("numRowsDroppedByWatermark", 0) for so in states),
        "spark.jobs_per_request": per_epoch(counts["jobs"]),
        "spark.stages_per_request": per_epoch(counts["stages"]),
        "spark.tasks_per_request": per_epoch(counts["tasks"]),
        "spark.failed_tasks": counts["failed_tasks"],
        "trace.overhead_s": (sum(d.wall for d in traced)
                             - sum(d.wall for d in untraced)),
    })
    return {"outcomes": traced + untraced, "metrics": m, "spans": tr.spans,
            "detail": {"drains": len(traced), "epochs": len(epochs)}}


def _check_drain(oracle: check.Oracle, d: Drain) -> list[str]:
    if d.error is not None:
        return [d.error]
    bad = []
    dropped = sum(so.get("numRowsDroppedByWatermark", 0)
                  for p in d.progress for so in p.get("stateOperators") or [])
    if dropped:
        bad.append(f"{dropped} rows dropped by the watermark")
    cols, rows = d.results
    got = check.rows_frame(cols, rows)
    for c in VALUE_COLS:
        want = oracle.windows(d.segment["files"], c, WINDOW_HOURS)
        mine = got[got["column"] == c].drop(columns=["column"])
        starts = pd.to_datetime(mine["window_start"])
        # every window but the last one or two closes inside the drain
        if len(mine) < len(want) - 2:
            bad.append(f"{c}: {len(mine)} windows emitted of {len(want)}")
        want = want[pd.to_datetime(want["window_start"]).isin(starts)]
        bad += [f"{c}: {p}" for p in check.compare(mine, want)]
    return bad


def verify(oracle: check.Oracle, drains: list[Drain]) -> dict:
    failed, problems = 0, []
    for d, bad in zip(drains, oracle.map(
            lambda d: _check_drain(oracle, d), drains)):
        if bad:
            failed += 1
            problems.append(f"drain {d.name}: " + "; ".join(bad[:3]))
    return {"checked": len(drains), "failed": failed, "problems": problems}


def negative_control(oracle: check.Oracle, warm: list[Drain]) -> bool:
    """The checker must count one tampered window as failed (and pass the
    untampered drain)."""
    d = warm[-1]
    if _check_drain(oracle, d):
        return False
    cols, rows = d.results
    tampered = check.tamper(check.rows_frame(cols, rows))
    d2 = Drain(d.segment, d.name)
    d2.progress = d.progress
    d2.results = (list(tampered.columns),
                  list(tampered.itertuples(index=False, name=None)))
    return bool(_check_drain(oracle, d2))
