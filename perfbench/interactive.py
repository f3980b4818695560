"""``interactive_profile``: many small profile requests from two clients.

Two client threads share one session in a closed loop (a client sends its
next request only after the previous one returned). Each request profiles
one of four sf0.01 tables (region, customer, orders, documents: 5 to 15k
rows with numeric, timestamp and text columns), drawn by the seed as a
shuffled round-robin, so runs of different seeds see the same table mix;
a fresh request reads its own seeded row-sample file. Every fourth request
repeats the file of a request 2 to 16 positions earlier, chosen by the
seed, so ``functions.memo`` can serve its ``profile()``. Requests on these
tables cost about the same, so a run's figures do not hinge on which
tables its dozen requests drew. The scan is small and the time goes to
the driver: expression building over py4j, Catalyst planning and one Spark
job per call.

One request is the reference ProfileJob's whole output, every result
collected: ``load_table``, ``profile``, ``jb_report``, ``topk_tokens``
(every table here has string columns) and ``complete_row_count``.
"""

from __future__ import annotations

import os
import statistics
import threading
import time

import numpy as np

from perfbench import check, datagen, engine, trace

SF = 0.01
WARM_SF = 0.001
CLIENTS = 2
REPEAT_EVERY = 4
REPEAT_MIN, REPEAT_MAX = 2, 16
SAMPLE_FRACTION = 0.9
TRACE_REQUESTS = 12

#: the tables a request can profile
TABLES = ("region", "customer", "orders", "documents")

CALLS = ("sources.load_table", "operators.profile",
         "operators.profile_collect", "report.jb_report",
         "operators.topk_build", "operators.topk_collect",
         "operators.complete_row_count")


class Request:
    """One request: the table it profiles, the file it reads and, for a
    repeat, the index of the request whose file it reads again."""

    def __init__(self, index: int, table: str, path: str, rows: int,
                 repeat_of: int | None = None):
        self.index, self.table, self.path = index, table, path
        self.rows, self.repeat_of = rows, repeat_of


class Outcome:
    def __init__(self, req: Request):
        self.req = req
        self.latency = 0.0
        self.error: str | None = None
        self.results: dict[str, tuple] = {}


def _file(work: str, name: str, table: str) -> str:
    # one directory per file: load_table takes (directory, table name)
    return os.path.join(work, name, f"{table}.parquet")


def make_inputs(work: str, seed: int, seconds: float) -> dict:
    """Warm-up files (the four tables at sf0.001) and the seeded request list,
    longer than a run of ``seconds`` can use."""
    n_requests = int(seconds * 5) + 16
    rng = np.random.default_rng([seed, 1])
    base = {t: datagen.make_table(t, SF) for t in TABLES}
    warm = []
    for t in TABLES:
        tab = datagen.make_table(t, WARM_SF)
        path = _file(work, "warm", t)
        datagen.write(tab, path)
        warm.append(Request(-1 - len(warm), t, path, tab.num_rows))
    reqs: list[Request] = []
    order: list[str] = []
    n_bytes = n_rows = 0
    for i in range(n_requests):
        if i % REPEAT_EVERY == REPEAT_EVERY - 1:
            src = reqs[i - int(rng.integers(REPEAT_MIN,
                                             min(REPEAT_MAX, i) + 1))]
            if src.repeat_of is not None:
                src = reqs[src.repeat_of]
            reqs.append(Request(i, src.table, src.path, src.rows, src.index))
            continue
        if not order:
            order = [TABLES[k]
                     for k in rng.permutation(len(TABLES))]
        t = order.pop()
        tab = datagen.row_sample(base[t], rng, SAMPLE_FRACTION)
        path = _file(work, f"req/{i:04d}", t)
        n_bytes += datagen.write(tab, path)
        n_rows += tab.num_rows
        reqs.append(Request(i, t, path, tab.num_rows))
    return {"warm": warm, "requests": reqs, "input_rows": n_rows,
            "input_bytes": n_bytes}


def run_request(spark, out: Outcome, tr: trace.Tracer, traced: bool) -> None:
    """One profile request through the engine's public API."""
    from flink_descriptive_stats_spark import report
    from flink_descriptive_stats_spark.operators import profile as P
    from flink_descriptive_stats_spark.operators import topk as K
    from flink_descriptive_stats_spark.sources.tables import load_table
    sc = spark.sparkContext if traced else None
    req, res = out.req, out.results
    rid = req.index
    with tr.span("request", rid):
        with tr.span("sources.load_table", rid, sc):
            df = load_table(spark, os.path.dirname(req.path), req.table)
        with tr.span("operators.profile", rid, sc):
            prof = P.profile(df)
        # profile() returns its rows as a local DataFrame; collecting it
        # runs one small job even when the memo served the aggregate
        with tr.span("operators.profile_collect", rid, sc):
            res["profile"] = (prof.columns, prof.collect())
        with tr.span("report.jb_report", rid, sc):
            jb = report.jb_report(prof)
            res["jb_report"] = (jb.columns, jb.collect())
        if K.string_columns(df):
            with tr.span("operators.topk_build", rid, sc):
                top = K.topk_tokens(df)
            with tr.span("operators.topk_collect", rid, sc):
                res["topk"] = (top.columns, top.collect())
        with tr.span("operators.complete_row_count", rid, sc):
            crc = P.complete_row_count(df)
            res["complete_row_count"] = (crc.columns, crc.collect())


def clients() -> int:
    """Client threads: two, fewer if Spark's task threads plus the clients
    would exceed the CPUs this process may use."""
    cpus = len(os.sched_getaffinity(0))
    return max(1, min(CLIENTS, cpus - engine.TASK_THREADS))


def drive(spark, reqs: list[Request], tr: trace.Tracer, traced: bool,
          seconds: float | None = None) -> tuple[list[Outcome], float]:
    """Closed loop: each client takes the next request in order and sends
    it when its previous one returned; with ``seconds``, clients stop
    taking requests once that much time has passed."""
    lock = threading.Lock()
    pending = iter(reqs)
    done: list[Outcome] = []
    t0 = time.perf_counter()

    def client():
        while seconds is None or time.perf_counter() - t0 < seconds:
            with lock:
                req = next(pending, None)
            if req is None:
                return
            out = Outcome(req)
            t = time.perf_counter()
            try:
                run_request(spark, out, tr, traced)
            except Exception as e:  # a failed request is counted, not fatal
                out.error = f"{type(e).__name__}: {e}"[:400]
            out.latency = time.perf_counter() - t
            with lock:
                done.append(out)

    threads = [threading.Thread(target=client, name=f"client-{c}")
               for c in range(clients())]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    return done, time.perf_counter() - t0


def warm_up(spark, inputs: dict, work: str) -> list[Outcome]:
    """Run each request shape (the four tables) once on sf0.001 files."""
    done, _ = drive(spark, inputs["warm"], trace.Tracer(False), False)
    return done


def measure(spark, inputs: dict, seconds: float, work: str) -> dict:
    """The untraced, time-bounded run behind the end-to-end metrics."""
    done, wall = drive(spark, inputs["requests"], trace.Tracer(False),
                       False, seconds)
    ok = [o.latency for o in done if o.error is None]
    return {
        "outcomes": done,
        "metrics": {
            "throughput_per_s": len(done) / wall,
            "latency_p50_s": statistics.median(ok) if ok else 0.0,
        },
        "detail": {
            "requests": len(done),
            "requests_per_s": len(done) / wall,
            "latency_p50_s": statistics.median(ok) if ok else None,
            "latency_samples": len(ok),
            "rows_profiled": sum(o.req.rows for o in done),
            "repeats": sum(o.req.repeat_of is not None for o in done),
            "wall_s": wall,
            "latency_by_table": {t: sorted(o.latency for o in done
                                           if o.req.table == t)
                                 for t in TABLES},
        },
    }


def measure_traced(spark, inputs: dict, seconds: float, work: str) -> dict:
    """The traced run over the first ``TRACE_REQUESTS`` requests (a fixed
    list, so its counts repeat exactly), and the same requests untraced for
    the tracing overhead. Memos are cleared between the two passes so both
    do the same work."""
    from flink_descriptive_stats_spark.functions.memo import clear_all_memos
    reqs = inputs["requests"][:TRACE_REQUESTS]
    tr = trace.Tracer(True)
    traced, traced_wall = drive(spark, reqs, tr, True)
    clear_all_memos()
    untraced, untraced_wall = drive(spark, reqs, trace.Tracer(False), False)
    sc = spark.sparkContext
    trace.wait_for_listener(sc)

    per_call = {c: {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
                for c in CALLS}
    profile_jobs: dict[int, int] = {}
    for s in tr.spans:
        if s["group"] is None:
            continue
        cnt = trace.spark_counts(sc, s["group"])
        s["spark"] = cnt
        for k, v in cnt.items():
            per_call[s["name"]][k] += v
        if s["name"] == "operators.profile":
            profile_jobs[s["request"]] = cnt["jobs"]
    n_req = len(traced)
    by_index = {o.req.index: o for o in traced}
    repeats = [i for i, o in by_index.items() if o.req.repeat_of is not None]
    fresh = [i for i, o in by_index.items() if o.req.repeat_of is None]

    def lat(ids):
        return (statistics.median(by_index[i].latency for i in ids)
                if ids else 0.0)

    def per_req(k, *calls):
        return sum(per_call[c][k] for c in calls) / n_req

    topk = ("operators.topk_build", "operators.topk_collect")
    m = {
        "sources.load_table_s": tr.median_self("sources.load_table"),
        "operators.profile_s": tr.median_self("operators.profile"),
        "operators.profile_jobs": per_req("jobs", "operators.profile"),
        "operators.profile_stages": per_req("stages", "operators.profile"),
        "operators.profile_tasks": per_req("tasks", "operators.profile"),
        "operators.topk_build_s": tr.median_self("operators.topk_build"),
        "operators.topk_collect_s": tr.median_self("operators.topk_collect"),
        "operators.topk_jobs": per_req("jobs", *topk),
        "operators.topk_stages": per_req("stages", *topk),
        "operators.topk_tasks": per_req("tasks", *topk),
        "operators.complete_row_count_s":
            tr.median_self("operators.complete_row_count"),
        "operators.complete_row_count_jobs":
            per_req("jobs", "operators.complete_row_count"),
        "report.jb_report_s": tr.median_self("report.jb_report"),
        "report.jb_report_jobs": per_req("jobs", "report.jb_report"),
        "functions.memo.repeat_hit_ratio":
            (sum(profile_jobs[i] == 0 for i in repeats) / len(repeats)
             if repeats else 0.0),
        "functions.memo.repeat_latency_p50_s": lat(repeats),
        "functions.memo.fresh_latency_p50_s": lat(fresh),
        "spark.jobs_per_request": per_req("jobs", *CALLS),
        "spark.stages_per_request": per_req("stages", *CALLS),
        "spark.tasks_per_request": per_req("tasks", *CALLS),
        "spark.failed_tasks": per_req("failed_tasks", *CALLS) * n_req,
        "trace.overhead_s": traced_wall - untraced_wall,
    }
    return {
        "outcomes": traced + untraced,
        "metrics": m,
        "spans": tr.spans,
        "detail": {"requests": n_req, "traced_wall_s": traced_wall,
                   "untraced_wall_s": untraced_wall,
                   "repeats": len(repeats)},
    }


def verify(oracle: check.Oracle, outcomes: list[Outcome]) -> dict:
    """Compare every request's results with the oracle over its file."""
    # largest files first: the long oracle runs start early in the pool
    files = sorted({(o.req.table, o.req.path) for o in outcomes
                    if o.error is None},
                   key=lambda f: -os.path.getsize(f[1]))
    want = dict(zip(files, oracle.map(lambda f: oracle.table(*f), files)))
    failed, problems = 0, []
    for o in outcomes:
        bad = [o.error] if o.error is not None else []
        if o.error is None:
            for name, frame in want[(o.req.table, o.req.path)].items():
                if name not in o.results:
                    bad.append(f"{name}: no result")
                    continue
                cols, rows = o.results[name]
                bad += [f"{name}: {p}" for p in
                        check.compare(check.rows_frame(cols, rows), frame)]
        if bad:
            failed += 1
            problems.append(f"request {o.req.index} ({o.req.table}): "
                            + "; ".join(bad[:3]))
    return {"checked": len(outcomes), "failed": failed, "problems": problems}


def negative_control(oracle: check.Oracle, warm: list[Outcome]) -> bool:
    """The checker must count one tampered result as failed (and pass the
    untampered result of the same request)."""
    o = next(o for o in warm if o.req.table == "region")
    want = oracle.table(o.req.table, o.req.path)["profile"]
    got = check.rows_frame(*o.results["profile"])
    return (not check.compare(got, want)
            and bool(check.compare(check.tamper(got), want)))
