"""Repo benchmark: seeded batch workloads over the engine's public API.

    python3 perfbench/run.py --workload mr_wordcount --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One run:

1. generates the workload's inputs from ``--seed`` (``gen.py``; untimed)
   under ``.perfbench_work/`` and derives their expected outputs;
2. untraced only: starts ``SETUP_SAMPLES - 1`` fresh processes that each
   time ``get_spark`` and stop;
3. starts the measuring process (``child.py``): ``get_spark``, first job,
   untimed JIT warm-up jobs, then timed jobs in a closed loop for
   ``--seconds``, checking every job's output against the generator's
   ground truth;
4. prints one JSON line: with ``--trace 0`` the end-to-end metrics,
   with ``--trace 1`` the per-layer metrics (medians over the traced
   warm jobs) from spans and the Spark status stores.

Every run starts its own processes, so ``setup_s`` (median of the
``SETUP_SAMPLES`` sessions) and ``first_job_s`` are cold costs: JVM
start, Python worker spawn, codegen and JIT. Session pinning:
``get_spark(cpus=<usable cores>)``, a 2 GiB driver heap
(``SPARK_GRAFT_DRIVER_MEM``) and ``SPARK_LOCAL_DIRS`` in the run's work
directory. ``spec.json`` records the sizes, layouts and layer map. The
``failed`` field counts jobs that raised or returned a wrong output;
``correct`` is true only when none did.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True  # leave no caches next to the sources

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import pickle  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import threading  # noqa: E402
import time  # noqa: E402
from pathlib import Path  # noqa: E402

from gen import GENERATORS, generate  # noqa: E402
from procmem import pss_bytes, session_pids  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "honors_p1_mapreduce_spark"
SETUP_SAMPLES = 3
# a run ends well inside the 180 s a benchmark run may take
RUN_DEADLINE_S = 170.0
DRIVER_MEM = "2g"


def metric_units(kind: str) -> dict[str, str]:
    """Metric name -> unit for ``end_to_end`` or ``per_layer``, in order:
    BENCHMARK.json at the checkout root is the one list of metrics."""
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in bench[kind]}


class MemSampler(threading.Thread):
    """Peak summed PSS of one process session, sampled from /proc."""

    def __init__(self, sid: int, every_s: float = 0.1):
        super().__init__(daemon=True)
        self.sid, self.every_s, self.peak = sid, every_s, 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, pss_bytes(session_pids(self.sid)))
            self._stop_evt.wait(self.every_s)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def _reap_session(sid: int, grace_s: float = 5.0) -> None:
    """Wait until a child's session (its JVM and Python workers) has
    ended: first on its own, then after SIGTERM, then SIGKILL. Signals
    go to each process, not the group: the Python worker daemon moves
    to a process group of its own."""
    start = time.monotonic()
    while pids := session_pids(sid):
        waited = time.monotonic() - start
        if waited > grace_s:
            sig = signal.SIGKILL if waited > 2 * grace_s else signal.SIGTERM
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass  # it ended on its own meanwhile
        time.sleep(0.05)


def run_child(args: list[str], env: dict, out: Path, deadline: float,
              sample_mem: bool = False) -> tuple[dict, int]:
    """Run child.py in its own session; return its JSON and peak PSS."""
    proc = subprocess.Popen(
        [sys.executable, str(HERE / "child.py"), *args, "--out", str(out)],
        cwd=env["PERFBENCH_WORK"],
        env=env,
        start_new_session=True,
    )
    sampler = MemSampler(proc.pid) if sample_mem else None
    if sampler:
        sampler.start()
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        if sampler:
            sampler.stop()
        _reap_session(proc.pid)
        proc.wait()
    if code != 0 or not out.exists():
        raise RuntimeError(f"benchmark process {args} ended with {code}")
    return json.loads(out.read_text()), sampler.peak if sampler else 0


def tail_quantile(values: list[float], beyond: int = 10) -> tuple[float, float] | None:
    """The highest percentile with at least ``beyond`` samples above it,
    as (q, value); None when the sample is too small to have one."""
    n = len(values)
    if n < beyond + 1:
        return None
    pct = int((1.0 - beyond / n) * 100)
    return pct / 100, statistics.quantiles(values, n=100, method="inclusive")[pct - 1]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(GENERATORS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.monotonic() + RUN_DEADLINE_S

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"error: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        return _run(args, work, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: Path, deadline: float) -> int:
    info, expected = generate(args.workload, args.seed, work / "input")
    cpus = len(os.sched_getaffinity(0))
    ctx = {
        "workload": args.workload,
        "info": info,
        "expected": expected,
        "work": str(work),
        "cpus": cpus,
        "trace_file": str(ROOT / ".perfbench_out" / f"trace-{args.workload}-seed{args.seed}.json"),
    }
    ctx_path = work / "context.pkl"
    with open(ctx_path, "wb") as f:
        pickle.dump(ctx, f)
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join([str(ROOT), str(HERE)]),
        PYSPARK_PYTHON=sys.executable,
        PYTHONDONTWRITEBYTECODE="1",
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        PERFBENCH_WORK=str(work),
    )
    common = ["--context", str(ctx_path), "--seconds", str(args.seconds)]

    runs = []
    if not args.trace:
        for k in range(SETUP_SAMPLES - 1):
            res, _ = run_child([*common, "--mode", "setup"], env, work / f"setup{k}.json", deadline)
            runs.append(res)
    main_res, peak_mem = run_child(
        [*common, "--mode", "main", "--trace", str(args.trace)],
        env,
        work / "main.json",
        deadline,
        sample_mem=bool(args.trace),
    )
    runs.append(main_res)
    jobs = [j for r in runs for j in r["jobs"]]
    attempted = len(jobs)
    failed = sum(not j["ok"] for j in jobs)
    for fail in main_res["failures"]:
        print(f"job {fail['job']} failed: {fail['problems']}", file=sys.stderr)
    # in a traced run the warm jobs alternate traced and untraced; the
    # traced ones are the per-layer samples
    warm = [
        j["s"] for j in main_res["jobs"]
        if j["timed"] and (j["traced"] or not args.trace)
    ]
    job_s = statistics.median(warm)

    if args.trace:
        values = _layer_metrics(main_res, warm)
        values["mem.peak_pss_mb"] = peak_mem / 1e6
        metrics = {k: {"value": values[k], "unit": u} for k, u in metric_units("per_layer").items()}
    else:
        values = {
            "setup_s": statistics.median(r["setup_s"] for r in runs),
            "first_job_s": main_res["first_job_s"],
            "job_s": job_s,
            "input_mb_per_s": info["input_bytes"] / 1e6 / job_s,
            "footprint_mb": main_res["footprint_bytes"] / 1e6,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in metric_units("end_to_end").items()}
        tail = tail_quantile(warm)
        print(
            f"{args.workload}: {len(warm)} timed jobs, job_s median {job_s:.4f}"
            + (f", p{tail[0] * 100:.0f} {tail[1]:.4f}" if tail else ", too few for a tail")
            + f"; failed_ops_ratio {failed / attempted:.4f} ({failed}/{attempted})"
            + f"; setups {[round(r['setup_s'], 3) for r in runs]}"
            + f"; untimed {[round(j['s'], 3) for j in main_res['jobs'] if not j['timed']]}"
            + f"; timed {[round(s, 3) for s in warm]}",
            file=sys.stderr,
        )
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def _layer_metrics(main_res: dict, warm: list[float]) -> dict[str, float]:
    """Medians over the traced warm jobs, plus the tracing overhead: the
    traced minus the untraced median of the alternating warm jobs."""
    layers = main_res["layers"]
    out = {name: statistics.median(job[name] for job in layers) for name in layers[0]}
    timed = [j for j in main_res["jobs"] if j["timed"]]
    on = [j["s"] for j in timed if j["traced"]]
    off = [j["s"] for j in timed if not j["traced"]]
    tail = tail_quantile(warm)
    out.update(
        {
            "session.get_spark_s": main_res["get_spark_span_s"],
            "trace.overhead_s": statistics.median(on) - statistics.median(off),
            "trace.warm_jobs": float(len(warm)),
            "job_tail_s": tail[1] if tail else max(warm),
        }
    )
    return out


if __name__ == "__main__":
    sys.exit(main())
