"""Per-query job-timeline profiler (optimization round instrumentation).

Runs the named queries() entries once at $SPARK_GRAFT_SF_DIR with the Spark
event log enabled, then parses the log to report, per query:

- number of Spark jobs the query ran
- wall time of each job (submission -> completion)
- total job time vs query wall time (the difference is driver-side work:
  planning, py4j round trips, Python post-processing, serial gaps)
- the serial gap structure (time between consecutive jobs)

Usage: python tools/profile_queries.py q1,q2,... [sf_dir]
       python tools/profile_queries.py slowest30          # from latest bench
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = sys.argv[2] if len(sys.argv) > 2 else os.environ.get(
    "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
EVDIR = "/tmp/spark-events-profile"


def pick_queries(arg: str, qs: dict) -> list[str]:
    if arg.startswith("slowest"):
        n = int(arg[len("slowest"):] or "30")
        import glob
        files = sorted(glob.glob(f"{ROOT}/.benchmarks/bench_*_sf0.1.json"))
        snap = json.load(open(files[-1]))
        times = {k: v for k, v in snap["queries"].items()
                 if v >= 0 and k in qs}
        return [k for k, _ in sorted(times.items(),
                                     key=lambda kv: -kv[1])[:n]]
    return [q for q in arg.split(",") if q in qs]


def _event_lines(app_id: str):
    """Yield event-log JSON lines for the app — handles both the single
    file layout and Spark 4's rolling eventlog_v2_<appid>/ directory."""
    path = os.path.join(EVDIR, app_id)
    if not os.path.exists(path):
        cands = [p for p in os.listdir(EVDIR)
                 if app_id in p]
        path = os.path.join(EVDIR, cands[0])
    def _open_lines(fp: str):
        # Spark 4 compresses rolling event logs (events_*.zstd) — shell out
        # to the zstd binary (no python-zstandard in this env)
        if fp.endswith(".zstd"):
            import subprocess
            out = subprocess.run(["zstd", "-dc", fp], capture_output=True,
                                 check=True).stdout
            yield from out.decode("utf-8", "replace").splitlines()
        else:
            with open(fp) as fh:
                yield from fh

    if os.path.isdir(path):
        parts = sorted(p for p in os.listdir(path)
                       if p.startswith("events_"))
        for p in parts:
            yield from _open_lines(os.path.join(path, p))
    else:
        yield from _open_lines(path)


def main() -> None:
    os.makedirs(EVDIR, exist_ok=True)
    import __spark_entry__ as entrymod
    from pyspark.sql import SparkSession
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (SparkSession.builder.master(f"local[{cpus}]")
             .appName("profile")
             .config("spark.sql.shuffle.partitions", cpus)
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.codegen.maxFields", "500")
             .config("spark.sql.codegen.cache.maxEntries", "5000")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.sql.execution.arrow.maxRecordsPerBatch", "131072")
             .config("spark.driver.memory", "8g")
             .config("spark.ui.enabled", "false")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", EVDIR)
             .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    app_id = spark.sparkContext.applicationId

    qs = entrymod.queries()
    names = pick_queries(sys.argv[1], qs)
    entrymod.materialize_media_fixtures(spark, SF_DIR)

    # warmup pass at sf0.001 so JIT/codegen cost doesn't pollute
    warm = "/root/testdata/sf0.001"
    for name in names:
        try:
            qs[name](spark, warm).collect()
        except Exception as e:
            print(f"warmup {name} FAILED: {e}", file=sys.stderr)

    from flink_descriptive_stats_spark.functions.memo import clear_all_memos
    clear_all_memos()

    spans = {}   # name -> (t0_ms, t1_ms)
    for name in names:
        spark.sparkContext.setJobGroup(name, name)
        t0 = time.time()
        try:
            qs[name](spark, SF_DIR).collect()
        except Exception as e:
            print(f"{name} FAILED: {e}", file=sys.stderr)
        spans[name] = (t0 * 1000, time.time() * 1000)
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    spark.stop()
    time.sleep(1)

    # parse the event log: jobs with group property == query name
    jobs = []   # (group, job_id, t_submit, t_complete)
    pending = {}
    for line in _event_lines(app_id):
        if True:
            try:
                ev = json.loads(line)
            except ValueError:
                continue
            if ev.get("Event") == "SparkListenerJobStart":
                grp = (ev.get("Properties") or {}).get(
                    "spark.jobGroup.id", "")
                pending[ev["Job ID"]] = (grp, ev["Submission Time"])
            elif ev.get("Event") == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in pending:
                    grp, t0 = pending.pop(jid)
                    jobs.append((grp, jid, t0, ev["Completion Time"]))

    for name in names:
        t0, t1 = spans[name]
        wall = (t1 - t0) / 1000
        # group match, plus group-LESS jobs submitted inside this query's
        # wall span: queries run serially here, so any unattributed job in
        # the span belongs to this query (thread-pool jobs predating the
        # inheritable_thread_target fix in overlap.py carried no group)
        qjobs = sorted([j for j in jobs
                        if j[0] == name or (not j[0] and t0 <= j[2] < t1)],
                       key=lambda j: j[2])
        jt = sum((c - s) for _, _, s, c in qjobs) / 1000
        # serial gap: time not covered by any job interval (flatten union)
        ivs = sorted((s, c) for _, _, s, c in qjobs)
        covered = 0.0
        cur_s, cur_e = None, None
        for s, c in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, c
            else:
                cur_e = max(cur_e, c)
        if cur_e is not None:
            covered += cur_e - cur_s
        covered /= 1000
        print(f"\n=== {name}: wall={wall:.2f}s n_jobs={len(qjobs)} "
              f"sum_job={jt:.2f}s covered={covered:.2f}s "
              f"driver_gap={wall - covered:.2f}s")
        for _, jid, s, c in qjobs:
            print(f"    job {jid}: {(c - s)/1000:.3f}s "
                  f"@+{(s - t0)/1000:.3f}s")


if __name__ == "__main__":
    main()
