"""Engine lifecycle for the benchmark: environment, session start, shutdown.

The engine is started only through ``session.get_spark`` at fixed
parallelism: ``local[2]`` (two task threads) and two shuffle partitions.
With at most two client threads, task threads plus client threads never
exceed four, the vCPU count of the host the benchmark was sized on.
Everything Spark, the JVM and Python write goes under the run's work
directory inside the checkout, and the JVM and its Python workers are
stopped and waited for before the benchmark exits.
"""

from __future__ import annotations

import os
import shlex
import signal
import subprocess
import time

TASK_THREADS = 2
MASTER = f"local[{TASK_THREADS}]"
SHUFFLE_PARTITIONS = 2


def prepare_env(root: str, work: str) -> None:
    """Set the process environment before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "spark-local")):
        os.makedirs(d, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    # Spark's Python workers import the engine package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # the engine's own heap knob (default 8g); 2g holds these inputs, and
    # the host's memory is shared
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-java-options", shlex.quote(java_opts),
        "--conf", shlex.quote(
            "spark.sql.warehouse.dir=" + os.path.join(work, "warehouse")),
        # the traced run reads per-request job/stage counts from the status
        # tracker after the run; keep every job and stage of the run
        "--conf", "spark.ui.retainedJobs=100000",
        "--conf", "spark.ui.retainedStages=100000",
        "pyspark-shell"])


def get_spark():
    from flink_descriptive_stats_spark import session
    return session.get_spark(master=MASTER,
                             shuffle_partitions=SHUFFLE_PARTITIONS)


def _children(pid: int) -> list[int]:
    """Descendant pids of ``pid`` (children of any of its threads)."""
    out: list[int] = []
    kids: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids += [int(k) for k in f.read().split()]
    except OSError:
        return out
    for k in kids:
        out.append(k)
        out.extend(_children(k))
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().split(") ")[-1][:1] not in ("Z", "X")
    except OSError:
        return False


def shutdown(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, the JVM behind it and every process the JVM
    started (Python worker daemons), and wait until all of them have
    exited."""
    from pyspark import SparkContext
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is None:
        return
    procs = [proc.pid] + _children(proc.pid) if proc is not None else []
    try:
        gateway.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is None:
        return
    # the JVM exits when the pipe to its stdin closes
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    for pid in procs:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
