"""Focused per-query timing: run the named queries twice at sf0.1 (after a
sf0.001 warmup) and print min times next to the latest committed baseline
snapshot. Usage: python tools/time_queries.py q1,q2,... [baseline_snapshot]
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
BASELINE = (sys.argv[2] if len(sys.argv) > 2 else
            sorted(glob.glob(f"{ROOT}/.benchmarks/bench_*_sf0.1.json"))[-1])


def main() -> None:
    names = sys.argv[1].split(",")
    base = json.load(open(BASELINE))["queries"]

    import __spark_entry__ as entrymod
    from flink_descriptive_stats_spark.functions.memo import clear_all_memos
    from flink_descriptive_stats_spark.session import get_spark
    spark = get_spark(app_name="time_queries")
    qs = entrymod.queries()
    entrymod.materialize_media_fixtures(spark, SF_DIR)
    for n in names:
        try:
            qs[n](spark, "/root/testdata/sf0.001").collect()
        except Exception as e:
            print(f"warmup {n} FAILED: {e}", file=sys.stderr)
    spark.sparkContext._jvm.System.gc()
    time.sleep(1)
    times: dict[str, float] = {}
    for _ in range(2):
        clear_all_memos()
        for n in names:
            t0 = time.perf_counter()
            try:
                qs[n](spark, SF_DIR).collect()
                dt = time.perf_counter() - t0
                times[n] = min(times.get(n, 1e9), dt)
            except Exception as e:
                print(f"{n} FAILED: {e}", file=sys.stderr)
                times[n] = -1
    tot_new = tot_old = 0.0
    for n in names:
        old = base.get(n)
        new = times[n]
        if old is not None and old >= 0 and new >= 0:
            tot_new += new
            tot_old += old
        print(f"{n:45s} {old if old is not None else float('nan'):6.2f} "
              f"-> {new:6.2f}")
    print(f"{'TOTAL (common)':45s} {tot_old:6.2f} -> {tot_new:6.2f}")


if __name__ == "__main__":
    main()
