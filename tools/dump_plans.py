"""Dump .explain('formatted') for named queries() entries to
plans/<tag>/<query>_<suffix>.txt (the optimization-round evidence files).

Usage: python tools/dump_plans.py <before|after> q1,q2,... [sf_dir]
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

TAG = os.environ.get("SPARK_GRAFT_PLAN_TAG", "r14")


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2].split(",")
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    outdir = f"{ROOT}/plans/{TAG}"
    os.makedirs(outdir, exist_ok=True)

    import __spark_entry__ as entrymod
    from flink_descriptive_stats_spark.session import get_spark
    spark = get_spark(app_name="dump_plans")
    entrymod.materialize_media_fixtures(spark, sf_dir)
    qs = entrymod.queries()
    for name in names:
        if name not in qs:
            print(f"SKIP {name}: not a query", file=sys.stderr)
            continue
        try:
            df = qs[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
        except Exception as e:
            plan = f"(explain failed: {e})"
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")


if __name__ == "__main__":
    main()
