"""Benchmark of the profile engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload interactive_profile --seed 1 \\
        --seconds 12 --trace 0

Run from the repository root. The run generates its inputs from the seed
(numpy and pyarrow, before any clock starts), starts the engine with
``session.get_spark(master="local[2]", shuffle_partitions=2)`` and warms it
up (``setup_s``), drives it through the public API for ``--seconds``
seconds, checks every result against the DuckDB oracle, and prints one
JSON object as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``.

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics, from
a traced run of a fixed request list (layers a workload does not use read
0). A line starting ``perfbench-detail`` before the result carries sample
counts, input sizes, per-setup times and the host-speed probe; the same
record, with the spans of a traced run, is written under ``.perfbench_runs``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

def _workload(name: str):
    from perfbench import interactive, stream
    return {"interactive_profile": interactive,
            "stream_profile": stream}[name]


def _run(args, work: str, spec: dict) -> dict:
    from perfbench import check, engine, trace
    wl = _workload(args.workload)
    engine.prepare_env(ROOT, work)
    probe_before = trace.host_speed_s()

    t = time.perf_counter()
    inputs = wl.make_inputs(work, args.seed, args.seconds)
    gen_s = time.perf_counter() - t

    # one setup per run: a cold JVM start plus warm-up takes 20-30 s on a
    # 4-vCPU host, and every run of both workloads must fit the time budget
    # of BENCHMARK.json; a second setup in the same JVM would skip the JVM
    # start and most JIT work, so it would measure something else
    spark = None
    try:
        t0 = time.perf_counter()
        spark = engine.get_spark()
        t1 = time.perf_counter()
        warm = wl.warm_up(spark, inputs, work)
        setup = {"get_spark_s": t1 - t0,
                 "warmup_s": time.perf_counter() - t1}
        measure = wl.measure_traced if args.trace else wl.measure
        res = measure(spark, inputs, args.seconds, work)
    finally:
        engine.shutdown(spark)

    t = time.perf_counter()
    oracle = check.Oracle(work, min(4, len(os.sched_getaffinity(0))))
    try:
        measured = wl.verify(oracle, res["outcomes"])
        control_ok = wl.negative_control(oracle, warm)
    finally:
        oracle.close()
    check_s = time.perf_counter() - t

    if args.trace:
        metrics = dict(res["metrics"], **{
            "session.get_spark_s": setup["get_spark_s"],
            "session.warmup_s": setup["warmup_s"]})
        specs = spec["per_layer"]
    else:
        metrics = dict(res["metrics"],
                       setup_s=setup["get_spark_s"] + setup["warmup_s"])
        specs = spec["end_to_end"]
    attempted = len(res["outcomes"])
    correct = measured["failed"] == 0 and control_ok
    detail = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "master": engine.MASTER,
        "shuffle_partitions": engine.SHUFFLE_PARTITIONS,
        "client_threads": wl.clients(),
        "host_speed_s": {"before": probe_before,
                         "after": trace.host_speed_s()},
        "input_gen_s": gen_s, "input_rows": inputs["input_rows"],
        "input_bytes": inputs["input_bytes"],
        "setup": setup,
        "measure": res["detail"], "check_s": check_s,
        "checked": measured["checked"], "problems": measured["problems"],
        "negative_control_ok": control_ok,
    }
    return {
        "result": {
            "correct": bool(correct), "attempted": attempted,
            "failed": measured["failed"],
            "metrics": {m["name"]: {"value": float(metrics.get(m["name"], 0)),
                                    "unit": m["unit"]} for m in specs},
        },
        "detail": detail,
        "spans": res.get("spans", []),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["interactive_profile", "stream_profile"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    # on SIGTERM, unwind through the finally blocks that stop the JVM and
    # remove the work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    # import the benchmark as the ``perfbench`` package from the checkout
    # root, not its modules as top-level names (``trace`` is a stdlib name)
    sys.path[:] = [ROOT] + [p for p in sys.path
                            if os.path.abspath(p or ".") != HERE]
    try:
        import flink_descriptive_stats_spark as engine_pkg
    except ImportError as e:
        print(f"perfbench: the engine package is missing: {e}",
              file=sys.stderr)
        return 2
    if not os.path.abspath(engine_pkg.__file__).startswith(ROOT + os.sep):
        print("perfbench: the engine package does not come from this "
              "checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    stamp = time.strftime("%Y%m%dT%H%M%S")
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}"
    work = os.path.join(ROOT, ".perfbench_work", f"{tag}-{os.getpid()}")
    try:
        out = _run(args, work, spec)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    runs = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(runs, exist_ok=True)
    with open(os.path.join(runs, f"{tag}.json"), "w") as f:
        json.dump(out, f, default=str)
    print("perfbench-detail " + json.dumps(out["detail"], default=str))
    print(json.dumps(out["result"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
