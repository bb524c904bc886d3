"""Tracing for the benchmark: in-memory spans plus Spark status-store reads.

Spans are recorded from the benchmark's own code, around its calls into
the repo's public functions (``instrument`` wraps them in place for a
traced run; the engine itself is not changed). After each traced job,
``StatusCollector`` reads Spark's own stores through py4j:

- stage data from ``SparkContext.statusStore()`` (one entry per stage
  attempt of the job's Spark jobs);
- SQL plan-node metrics from ``sharedState().statusStore()``
  (``executionMetrics`` + ``planGraph``), whose values arrive as
  Spark's formatted strings ("1.2 s", "3.8 MiB", "100,000", or
  "total (min, med, max (stageId: taskId))\\n<total> (<min>, <med>,
  <max> (stage s.a: task t))") and are parsed back to numbers.

Both stores are populated with ``spark.ui.enabled=false``. Stages and
SQL executions are attached to the span tree as child spans carrying
their counters; ``self_times`` gives each span's duration minus the
part of it its children cover.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager

# plan-node name prefix -> (layer, role)
_NODE_LAYERS = (
    ("MapInPandas", "mapreduce", "map"),
    ("FlatMapGroupsInPandas", "mapreduce", "reduce"),
    ("Scan ", "sources", "scan"),
    ("Execute InsertIntoHadoopFsRelationCommand", "sources", "write"),
    ("Exchange", "spark", "shuffle"),
    ("Generate", "functions", "generate"),
)

_UNIT = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_MULTI = re.compile(r"^\s*(.+?) \((.+?), (.+?), (.+?) \(stage [\d.]+: task \d+\)\)\s*$")


def _scalar(text: str) -> float:
    text = text.strip()
    num, _, unit = text.partition(" ")
    return float(num.replace(",", "")) * (_UNIT[unit] if unit else 1)


def parse_metric(text: str) -> dict[str, float]:
    """Spark's formatted SQL metric -> {total, min, med, max} in bytes,
    seconds or plain counts. A single-task metric has no breakdown, so
    its min, median and max are its total."""
    if text.startswith("total"):
        m = _MULTI.match(text.split("\n", 1)[1])
        if m is None:
            raise ValueError(f"unparsed metric {text!r}")
        total, lo, med, hi = (_scalar(g) for g in m.groups())
        return {"total": total, "min": lo, "med": med, "max": hi}
    v = _scalar(text)
    return {"total": v, "min": v, "med": v, "max": v}


def node_layer(name: str) -> tuple[str, str] | None:
    for prefix, layer, role in _NODE_LAYERS:
        if name.startswith(prefix):
            return layer, role
    return None


class Tracer:
    """Spans kept in memory: id, name, layer, job, parent, start, end
    (epoch seconds, the clock Spark's stores use) and counters."""

    def __init__(self, active: bool = True):
        self.active = active
        self.spans: list[dict] = []
        self.job: int | None = None
        self._stack: list[int] = []

    def add(self, name, layer, start, end, parent=None, counters=None, timed=True) -> int:
        self.spans.append(
            {
                "id": len(self.spans),
                "name": name,
                "layer": layer,
                "job": self.job,
                "parent": parent,
                "start": start,
                "end": end,
                "timed": timed,
                "counters": counters or {},
            }
        )
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = self.add(name, layer, time.time(), None, parent)
        self._stack.append(sid)
        try:
            yield self.spans[sid]
        finally:
            self.spans[sid]["end"] = time.time()
            self._stack.pop()

    def innermost(self, t: float, root: int) -> int:
        """The deepest code span under ``root`` whose interval holds ``t``."""
        best = root
        for sp in self.spans[root + 1 :]:
            if sp["timed"] and sp["end"] is not None and sp["start"] <= t <= sp["end"]:
                if self._is_under(sp["id"], best):
                    best = sp["id"]
        return best

    def _is_under(self, sid: int, ancestor: int) -> bool:
        while sid is not None:
            if sid == ancestor:
                return True
            sid = self.spans[sid]["parent"]
        return False

    def self_times(self) -> dict[int, float]:
        """Duration minus the union of the children's intervals."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for sp in self.spans:
            if sp["parent"] is not None and sp["timed"]:
                kids.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
        out = {}
        for sp in self.spans:
            if not sp["timed"]:
                continue
            lo, hi = sp["start"], sp["end"]
            covered, cur = 0.0, lo
            for s, e in sorted(kids.get(sp["id"], [])):
                s, e = max(s, cur), min(e, hi)
                if e > s:
                    covered += e - s
                    cur = e
            out[sp["id"]] = (hi - lo) - covered
        return out


def instrument(tracer: Tracer) -> None:
    """Wrap the repo's public entry points in spans, in place, for a
    traced run. The dedup operator imported ``load_table`` by name, so
    the wrapper is installed in its module;
    ``run_job`` imports ``read_text_lines``/``write_tsv`` at call time
    and calls ``map_reduce`` through its module, so those wrap once."""
    import functools

    from honors_p1_mapreduce_spark import mapreduce
    from honors_p1_mapreduce_spark.operators import dedup
    from honors_p1_mapreduce_spark.sources import text

    def wrap(module, attr, name, layer):
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name, layer):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)

    wrap(dedup, "load_table", "sources.load_table", "sources")
    wrap(text, "read_text_lines", "sources.read_text_lines", "sources")
    wrap(text, "write_tsv", "sources.write_tsv", "sources")
    wrap(mapreduce, "map_reduce", "mapreduce.map_reduce", "mapreduce")


def _date_s(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class StatusCollector:
    """Reads one job group's stages and the SQL executions since the
    last read, from the driver's status stores."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._jvm = self.sc._jvm
        self._stages = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._next_exec = 0
        while self._sql.execution(self._next_exec).isDefined():
            self._next_exec += 1

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def skip(self) -> None:
        """Pass over the SQL executions of a job that is not traced."""
        self._jsc.listenerBus().waitUntilEmpty()
        while self._sql.execution(self._next_exec).isDefined():
            self._next_exec += 1

    def collect(self, group: str) -> dict:
        # the status listener runs on its own thread: drain its queue so
        # the job's last stage and SQL updates are in the stores
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        job_ids = sorted(tracker.getJobIdsForGroup(group))
        stage_ids = sorted({s for j in job_ids for s in tracker.getJobInfo(j).stageIds})
        stages = [st for sid in stage_ids for st in self._stage_attempts(sid)]
        executions = []
        while True:
            opt = self._sql.execution(self._next_exec)
            if not opt.isDefined():
                break
            executions.append(self._execution(self._next_exec, opt.get()))
            self._next_exec += 1
        return {"spark_jobs": len(job_ids), "stages": stages, "executions": executions}

    def _stage_attempts(self, sid: int) -> list[dict]:
        jvm = self._jvm
        seq = self._stages.stageData(
            sid, False, jvm.java.util.ArrayList(), False,
            self.sc._gateway.new_array(jvm.double, 0),
        )
        out = []
        it = seq.iterator()
        while it.hasNext():
            s = it.next()
            status = s.status().toString()
            if status == "SKIPPED":
                continue
            spec = s.speculationSummary()
            out.append(
                {
                    "stage": s.stageId(),
                    "attempt": s.attemptId(),
                    "status": status,
                    "scan": self._is_scan(sid),
                    "start": _date_s(s.submissionTime()),
                    "end": _date_s(s.completionTime()),
                    "tasks": s.numCompleteTasks() + s.numFailedTasks() + s.numKilledTasks(),
                    "failed_tasks": s.numFailedTasks(),
                    "speculative_tasks": spec.get().numTasks() if spec.isDefined() else 0,
                    "run_s": s.executorRunTime() / 1e3,
                    "cpu_s": s.executorCpuTime() / 1e9,
                    "gc_s": s.jvmGcTime() / 1e3,
                    "input_bytes": s.inputBytes(),
                    "input_records": s.inputRecords(),
                    "output_bytes": s.outputBytes(),
                    "shuffle_write_bytes": s.shuffleWriteBytes(),
                    "shuffle_records": s.shuffleWriteRecords(),
                    "shuffle_read_bytes": s.shuffleReadBytes(),
                    "fetch_wait_s": s.shuffleFetchWaitTime() / 1e3,
                    "spill_bytes": s.diskBytesSpilled(),
                }
            )
        return out

    def _is_scan(self, sid: int) -> bool:
        """A scan stage reads files: its RDD graph holds a FileScanRDD
        (input bytes alone also count cached-block reads)."""
        stack = [self._stages.operationGraphForStage(sid).rootCluster()]
        while stack:
            cluster = stack.pop()
            nodes = cluster.childNodes().iterator()
            while nodes.hasNext():
                if nodes.next().name() == "FileScanRDD":
                    return True
            clusters = cluster.childClusters().iterator()
            while clusters.hasNext():
                stack.append(clusters.next())
        return False

    def _execution(self, eid: int, data) -> dict:
        values = self._sql.executionMetrics(eid)
        nodes = []
        it = self._sql.planGraph(eid).allNodes().iterator()
        while it.hasNext():
            node = it.next()
            name = node.name()
            mapped = node_layer(name)
            entry = {"name": name, "layer": mapped[0] if mapped else "spark",
                     "role": mapped[1] if mapped else None, "metrics": {}}
            if mapped:  # only the mapped nodes' metrics feed a layer
                ms = node.metrics().iterator()
                while ms.hasNext():
                    m = ms.next()
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        try:
                            entry["metrics"][m.name()] = parse_metric(v.get())
                        except (ValueError, KeyError):
                            pass  # a metric kind no layer reads
            nodes.append(entry)
        return {
            "execution": eid,
            "start": data.submissionTime() / 1e3,
            "end": _date_s(data.completionTime()),
            "nodes": nodes,
        }


def attach(tracer: Tracer, root: int, collected: dict) -> None:
    """Hang the job's stages and SQL executions under the innermost code
    span that was open when each was submitted; plan nodes hang under
    their execution as untimed counter spans."""
    for st in collected["stages"]:
        if st["start"] is None or st["end"] is None:
            continue
        parent = tracer.innermost(st["start"], root)
        counters = {k: v for k, v in st.items() if k not in ("start", "end")}
        tracer.add(f"stage {st['stage']}.{st['attempt']}", "spark",
                   st["start"], st["end"], parent, counters, timed=False)
    for ex in collected["executions"]:
        end = ex["end"] if ex["end"] is not None else ex["start"]
        parent = tracer.innermost(ex["start"], root)
        eid = tracer.add(f"sql {ex['execution']}", "spark", ex["start"], end,
                         parent, timed=False)
        for node in ex["nodes"]:
            if node["metrics"]:
                tracer.add(node["name"], node["layer"], ex["start"], end, eid,
                           node["metrics"], timed=False)


def _node_sum(collected: dict, role: str, metric: str) -> float:
    return sum(
        node["metrics"][metric]["total"]
        for ex in collected["executions"]
        for node in ex["nodes"]
        if node["role"] == role and metric in node["metrics"]
    )


def layer_metrics(collected: dict, tracer: Tracer, root: int, job_s: float, cores: int) -> dict:
    """One traced job's per-layer numbers."""
    stages = collected["stages"]

    def total(key, only=lambda st: True):
        return sum(st[key] for st in stages if only(st))

    def span_s(layer=None, name=None):
        return sum(
            sp["end"] - sp["start"]
            for sp in tracer.spans
            if sp["job"] == tracer.spans[root]["job"] and sp["timed"]
            and sp["id"] != root
            and (layer is None or sp["layer"] == layer)
            and (name is None or sp["name"] == name)
        )

    run_s = total("run_s")
    sent = [
        node["metrics"]["data sent to Python workers"]
        for ex in collected["executions"]
        for node in ex["nodes"]
        if node["role"] == "reduce" and "data sent to Python workers" in node["metrics"]
    ]
    skew = max((m["max"] / m["med"] for m in sent if m["med"] > 0), default=0.0)
    py = ("time to initialize Python workers", "time to run Python workers",
          "data sent to Python workers", "data returned from Python workers")
    mr = {
        name: _node_sum(collected, "map", metric) + _node_sum(collected, "reduce", metric)
        for name, metric in zip(("py_init_s", "py_run_s", "py_bytes_sent", "py_bytes_returned"), py)
    }
    return {
        "sources.load_call_s": span_s(name="sources.load_table") + span_s(name="sources.read_text_lines"),
        "sources.scan_tasks": total("tasks", lambda st: st["scan"]),
        "sources.scan_rows": _node_sum(collected, "scan", "number of output rows"),
        "sources.input_bytes": _node_sum(collected, "scan", "size of files read"),
        "sources.scan_busy_s": total("run_s", lambda st: st["scan"]),
        "sources.write_bytes": _node_sum(collected, "write", "written output"),
        "sources.write_stage_s": total("run_s", lambda st: st["output_bytes"] > 0),
        "functions.tokens": _node_sum(collected, "generate", "number of output rows"),
        "mapreduce.py_init_s": mr["py_init_s"],
        "mapreduce.py_run_s": mr["py_run_s"],
        "mapreduce.py_bytes_sent": mr["py_bytes_sent"],
        "mapreduce.py_bytes_returned": mr["py_bytes_returned"],
        "mapreduce.reduce_skew": skew,
        "operators.call_s": span_s(layer="operators"),
        "operators.spark_jobs": collected["spark_jobs"],
        "spark.shuffle_write_bytes": total("shuffle_write_bytes"),
        "spark.shuffle_read_bytes": total("shuffle_read_bytes"),
        "spark.shuffle_records": total("shuffle_records"),
        "spark.fetch_wait_s": total("fetch_wait_s"),
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": total("cpu_s"),
        "spark.core_busy_ratio": run_s / (job_s * cores),
        "spark.gc_s": total("gc_s"),
        "spark.spill_bytes": total("spill_bytes"),
        "spark.tasks": total("tasks"),
        "spark.failed_tasks": total("failed_tasks"),
        "spark.speculative_tasks": total("speculative_tasks"),
    }
