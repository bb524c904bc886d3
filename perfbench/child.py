"""One fresh benchmark process (started by ``run.py``, never by hand).

Starts a SparkSession with ``get_spark`` (timed: ``setup_s``). In
``setup`` mode that is all. In ``main`` mode it then runs the workload's
first job on the fresh session (``first_job_s``), ``WARMUP_JOBS`` untimed
jobs while the JIT warms up, and then keeps running jobs in a closed loop
(one client, the next job submitted only after the previous one
returned) for ``--seconds`` (at least ``MIN_TIMED_JOBS``), and finally
measures the session's memory footprint after full GCs. Every job's
output is checked; the check is outside the job's time. Each job record
says whether it is ``timed``, i.e. in the window after the warm-up.

With ``--trace 1`` the repo's entry points are wrapped in spans, the
warm jobs alternate traced and untraced (the gap between the two
medians is the tracing overhead), and after each traced job the Spark
status stores are read. The spans are written out when the run ends.

Writes one JSON object to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import time
import traceback
from pathlib import Path

from honors_p1_mapreduce_spark.session import get_spark

from procmem import pss_bytes, session_pids
from spans import StatusCollector, Tracer, attach, instrument, layer_metrics

# code-span layers whose self time a traced run reports ("spark" spans
# are the materialising actions: collect / toArrow)
SELF_LAYERS = ("job", "sources", "operators", "mapreduce", "spark")
# jobs after the first that run untimed while the JIT warms up, per
# workload: a window on the slope measures how far a JVM got down it.
# In 17 (mr_wordcount) and 14 (neardup_dedup) runs on a 4-vCPU host,
# the median over runs of job k's time / its run's window median was,
# from job 1 on, 1.24 1.07 1.01 1.01 for mr_wordcount (Python workers
# do most of its work) and 1.68 1.39 1.37 1.24 1.21 1.13 1.13 1.07 1.05,
# then 0.98-1.02, for neardup_dedup (~44 Spark jobs a call, all JVM)
WARMUP_JOBS = {"mr_wordcount": 3, "neardup_dedup": 8}
# the window runs past --seconds until it has this many jobs (a median of
# three; a traced run needs one traced and one untraced)
MIN_TIMED_JOBS = 3
FOOTPRINT_GCS = 3
FOOTPRINT_SETTLE_S = 0.3


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--context", required=True)
    ap.add_argument("--mode", choices=("setup", "main"), required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(args.context, "rb") as f:
        ctx = pickle.load(f)  # written by run.py for this run
    traced_run = bool(args.trace)
    tracer = Tracer(active=traced_run)
    if args.mode == "setup":
        spark, setup_s = _start(ctx, tracer)
        spark.stop()
        Path(args.out).write_text(json.dumps({"setup_s": setup_s, "jobs": [], "failures": []}))
        return

    from workloads import WORKLOADS  # the engine's operators: main mode only

    workload, info, expected = ctx["workload"], ctx["info"], ctx["expected"]
    run, check = WORKLOADS[workload]
    job_dir = Path(ctx["work"]) / "jobs"
    if traced_run:
        instrument(tracer)
    spark, setup_s = _start(ctx, tracer)
    out: dict = {"setup_s": setup_s, "jobs": [], "failures": [], "layers": []}
    collector = StatusCollector(spark) if traced_run else None

    def one_job(i: int, traced: bool, timed: bool) -> None:
        tracer.active = traced
        tracer.job = i
        group = f"perfbench-{i}"
        if collector:
            collector.begin(group)
        ok, problems = False, []
        t = time.perf_counter()
        try:
            with tracer.span("job", "job") as root:
                raw = run(spark, info, job_dir, tracer)
            dt = time.perf_counter() - t
            problems = check(raw, expected)
            ok = not problems
        except Exception:  # a failed job is counted, and the loop goes on
            dt = time.perf_counter() - t
            problems = [traceback.format_exc(limit=5)]
        spark.catalog.clearCache()  # operators persist frames per call
        if not ok:
            out["failures"].append({"job": i, "problems": problems})
        out["jobs"].append({"job": i, "s": dt, "ok": ok, "traced": traced, "timed": timed})
        if collector and not traced:
            collector.skip()
        elif collector:
            collected = collector.collect(group)
            attach(tracer, root["id"], collected)
            if timed:
                out["layers"].append(
                    {"job": i, **layer_metrics(collected, tracer, root["id"], dt, ctx["cpus"])}
                )

    try:
        one_job(0, traced_run, timed=False)
        out["first_job_s"] = out["jobs"][0]["s"]
        warmup = WARMUP_JOBS[workload]
        for i in range(1, warmup + 1):
            one_job(i, traced_run and i % 2 == 1, timed=False)
        deadline = time.perf_counter() + args.seconds
        i = warmup + 1
        while i <= warmup + MIN_TIMED_JOBS or time.perf_counter() < deadline:
            one_job(i, traced_run and i % 2 == 1, timed=True)
            i += 1
        out["footprint_bytes"] = footprint_after_gc(spark)
    finally:
        spark.stop()

    if traced_run:
        self_s = tracer.self_times()
        spans = [dict(sp, self_s=self_s.get(sp["id"])) for sp in tracer.spans]
        Path(ctx["trace_file"]).parent.mkdir(parents=True, exist_ok=True)
        Path(ctx["trace_file"]).write_text(json.dumps({"workload": workload, "spans": spans}))
        for job in out["layers"]:
            job.update(_self_by_layer(tracer, self_s, job["job"]))
        out["get_spark_span_s"] = next(
            sp["end"] - sp["start"] for sp in tracer.spans if sp["name"] == "session.get_spark"
        )
    Path(args.out).write_text(json.dumps(out))


def _start(ctx: dict, tracer: Tracer):
    """The session under test, and how long ``get_spark`` took."""
    t0 = time.perf_counter()
    with tracer.span("session.get_spark", "session"):
        spark = get_spark(
            app_name="perfbench",
            cpus=ctx["cpus"],
            extra_conf={
                "spark.sql.warehouse.dir": str(Path(ctx["work"]) / "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
    return spark, time.perf_counter() - t0


def footprint_after_gc(spark) -> int:
    """Summed PSS of this process's session (driver Python, JVM, idle
    Python workers) after full JVM GCs: what the engine keeps resident
    between jobs. A full GC lets G1 give back the heap it grew for
    garbage, so the figure follows live data, not GC timing; the first
    GC also queues Spark's context-cleaner work, whose garbage the
    next ones collect."""
    for _ in range(FOOTPRINT_GCS):
        spark.sparkContext._jvm.java.lang.System.gc()
        time.sleep(FOOTPRINT_SETTLE_S)
    return pss_bytes(session_pids(os.getsid(0)))


def _self_by_layer(tracer: Tracer, self_s: dict[int, float], job: int) -> dict[str, float]:
    """One job's span self time summed per code layer."""
    out = {f"self.{layer}_s": 0.0 for layer in SELF_LAYERS}
    for sp in tracer.spans:
        if sp["job"] == job and sp["timed"] and sp["layer"] in SELF_LAYERS:
            out[f"self.{sp['layer']}_s"] += self_s[sp["id"]]
    return out


if __name__ == "__main__":
    main()
