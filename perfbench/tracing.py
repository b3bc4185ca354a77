"""Outside-in tracing: spans recorded by the benchmark around each call
into a layer, and per-layer metrics read back from Spark's own
monitoring surfaces after the run.

- Every operation runs under its own Spark job group, so the REST
  ``/jobs`` entries (and through them ``/stages`` and ``/sql``) can be
  attributed to the operation that caused them. Job names are JVM call
  sites, so attribution never relies on them.
- Streaming queries run their micro-batches under a job group equal to
  their run id; a ``StreamingQueryListener`` maps run ids to the
  operation that started them and keeps the progress events.
- Spans live in memory and are written out once, when the run ends.

A span's self time is its duration minus the union of its children's
intervals clipped to it, so it is never negative.
"""

from __future__ import annotations

import json
import statistics
import threading
import time
import urllib.request
from dataclasses import asdict, dataclass
from datetime import datetime

LAYERS = ("queries", "pipelines", "operators", "io", "streaming")


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    pass_no: int


def self_time(span: Span, children: list[Span]) -> float:
    """Duration of ``span`` not covered by any child interval."""
    covered = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(c.start, span.start), min(c.end, span.end)) for c in children):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return max(0.0, span.end - span.start) - covered


def _rest_time(value: str) -> float:
    """Spark REST timestamps ('2026-01-01T00:00:00.123GMT') → epoch s."""
    return datetime.strptime(value.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


class Tracer:
    """Span recorder for one traced run of one workload."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[Span] = []
        self.groups: dict[str, int] = {}  # job group -> op span id
        self.progress: dict[str, list[dict]] = {}  # stream run id -> progress events
        self.stream_start: dict[str, float] = {}
        self._lock = threading.Lock()
        self._listener = None

    # -- recording ----------------------------------------------------------

    def start_listener(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                with tracer._lock:
                    tracer.stream_start[str(event.runId)] = _rest_time(event.timestamp.replace("Z", "GMT"))

            def onQueryProgress(self, event):
                p = event.progress
                with tracer._lock:
                    tracer.progress.setdefault(str(p.runId), []).append(json.loads(p.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = Listener()
        self.spark.streams.addListener(self._listener)

    def stop_listener(self) -> None:
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None

    def call(self, name: str, layer: str, pass_no: int, fn):
        """Run ``fn`` under a fresh job group and record its span."""
        sc = self.spark.sparkContext
        span_id = len(self.spans)
        group = f"perfbench-{span_id}"
        self.groups[group] = span_id
        sc.setJobGroup(group, name, interruptOnCancel=False)
        start = time.time()
        try:
            return fn()
        finally:
            end = time.time()
            sc.setJobGroup(None, None)
            self.spans.append(Span(span_id, name, layer, start, end, None, pass_no))

    # -- reading back -------------------------------------------------------

    def _rest(self, path: str):
        sc = self.spark.sparkContext
        url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=60) as r:
            return json.load(r)

    def collect(self, wait_s: float = 1.5) -> dict:
        """Read jobs, stages and SQL executions back from the REST API and
        attach them as child spans. Returns the raw material per op."""
        time.sleep(wait_s)  # the status store and listener bus lag the actions
        jobs = self._rest("jobs")
        stages: dict[int, list[dict]] = {}  # stage id -> attempts that ran
        for st in self._rest("stages"):
            if st.get("status") != "SKIPPED":
                stages.setdefault(st["stageId"], []).append(st)
        sqls = self._rest("sql?details=true&planDescription=false&offset=0&length=1000000")
        with self._lock:
            progress = {k: list(v) for k, v in self.progress.items()}
            starts = dict(self.stream_start)

        ops = {s.id: s for s in self.spans if s.parent is None}
        run_to_op: dict[str, int] = {}
        for run_id, t0 in starts.items():
            for s in ops.values():
                if s.start <= t0 <= s.end:
                    run_to_op[run_id] = s.id
        job_op: dict[int, int] = {}
        job_run: dict[int, str] = {}
        per_op = {i: {"jobs": [], "stages": [], "sql": [], "streams": {}} for i in ops}
        for j in jobs:
            g = j.get("jobGroup")
            op = self.groups.get(g) if g in self.groups else run_to_op.get(g)
            if op is None:
                continue
            job_op[j["jobId"]] = op
            if g in run_to_op:
                job_run[j["jobId"]] = g
            per_op[op]["jobs"].append(j)
            for sid in j.get("stageIds", []):
                per_op[op]["stages"].extend(stages.pop(sid, []))  # a stage counts once

        for run_id, events in progress.items():
            op = run_to_op.get(run_id)
            if op is None:
                continue
            start = starts[run_id]
            end = max(_rest_time(e["timestamp"].replace("Z", "GMT")) + e["durationMs"].get("triggerExecution", 0) / 1000 for e in events)
            span = Span(len(self.spans), f"stream:{run_id}", "streaming", start, end, op, ops[op].pass_no)
            self.spans.append(span)
            per_op[op]["streams"][run_id] = (span, events)

        for q in sqls:
            job_ids = q.get("successJobIds", []) + q.get("failedJobIds", []) + q.get("runningJobIds", [])
            owner = next((job_op[j] for j in job_ids if j in job_op), None)
            if owner is None:
                continue
            run_id = next((job_run[j] for j in job_ids if j in job_run), None)
            start = _rest_time(q["submissionTime"])
            parent = per_op[owner]["streams"][run_id][0].id if run_id in per_op[owner]["streams"] else owner
            self.spans.append(Span(len(self.spans), f"sql:{q['id']}", "sql", start, start + q["duration"] / 1000, parent, ops[owner].pass_no))
            per_op[owner]["sql"].append(q)
        return per_op

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


# -- per-layer metrics --------------------------------------------------------


def _node_metric(nodes: list[dict], node_pred, metric: str) -> float:
    """Sum a SQL node metric (parsed from its display string) over nodes."""
    total = 0.0
    for n in nodes:
        if not node_pred(n["nodeName"]):
            continue
        for m in n.get("metrics", []):
            if m["name"] == metric:
                total += _parse_metric(m["value"])
    return total


_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3}


def _parse_metric(value: str) -> float:
    """Parse a SQL metric display value. Aggregated metrics read
    'total (min, med, max ...)\\nX (a, b, c)': the first number is the total."""
    line = value.split("\n")[-1] if "\n" in value else value
    head = line.split("(")[0].strip().replace(",", "")
    parts = head.split()
    if not parts:
        return 0.0
    try:
        num = float(parts[0])
    except ValueError:
        return 0.0
    return num * _UNITS.get(parts[1], 1.0) if len(parts) > 1 else num


PYTHON_NODES = ("ArrowEvalPython", "MapInPandas", "FlatMapCoGroupsInPandas", "FlatMapGroupsInPandas", "BatchEvalPython", "MapInArrow")


def _is_python(name: str) -> bool:
    return any(name.startswith(p) for p in PYTHON_NODES)


def _is_write(name: str) -> bool:
    return name.startswith("Execute InsertIntoHadoopFsRelationCommand")


def pass_metrics(tracer: Tracer, per_op: dict, pass_no: int, pass_s: float, cores: int, input_rows: int) -> dict[str, float]:
    """Per-layer metrics of one traced pass."""
    m: dict[str, float] = {}
    ops = [s for s in tracer.spans if s.parent is None and s.pass_no == pass_no]
    children: dict[int, list[Span]] = {}
    for s in tracer.spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    jobs = [j for s in ops for j in per_op[s.id]["jobs"]]
    stages = [st for s in ops for st in per_op[s.id]["stages"]]
    sqls = [q for s in ops for q in per_op[s.id]["sql"]]
    nodes = [n for q in sqls for n in q.get("nodes", [])]
    streams = [v for s in ops for v in per_op[s.id]["streams"].values()]

    task_s = sum(st.get("executorRunTime", 0) for st in stages) / 1e3
    m["session.jobs"] = len(jobs)
    m["session.stages"] = len(stages)
    m["session.tasks"] = sum(st.get("numCompleteTasks", 0) for st in stages)
    m["session.task_s"] = task_s
    m["session.cpu_s"] = sum(st.get("executorCpuTime", 0) for st in stages) / 1e9
    m["session.gc_s"] = sum(st.get("jvmGcTime", 0) for st in stages) / 1e3
    m["session.busy_frac"] = task_s / (pass_s * cores) if pass_s > 0 else 0.0

    m["plans.exchanges"] = sum(1 for n in nodes if n["nodeName"] == "Exchange")
    m["plans.broadcasts"] = sum(1 for n in nodes if n["nodeName"] == "BroadcastExchange")

    in_rows = sum(st.get("inputRecords", 0) for st in stages)
    m["io.input_rows"] = in_rows
    m["io.input_bytes"] = sum(st.get("inputBytes", 0) for st in stages)
    m["io.scan_amplification"] = in_rows / input_rows if input_rows else 0.0
    m["io.scan_s"] = _node_metric(nodes, lambda n: n.startswith("Scan"), "scan time")
    m["io.files_written"] = _node_metric(nodes, _is_write, "number of written files")
    m["io.bytes_written"] = _node_metric(nodes, _is_write, "written output")
    m["io.write_s"] = _node_metric(nodes, _is_write, "task commit time") + _node_metric(
        nodes, _is_write, "job commit time"
    )

    m["operators.shuffle_write_bytes"] = sum(st.get("shuffleWriteBytes", 0) for st in stages)
    m["operators.shuffle_read_bytes"] = sum(st.get("shuffleReadBytes", 0) for st in stages)
    m["operators.fetch_wait_s"] = sum(st.get("shuffleFetchWaitTime", 0) for st in stages) / 1e3
    m["operators.spill_bytes"] = sum(st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0) for st in stages)
    m["operators.peak_exec_mem_mb"] = max([st.get("peakExecutionMemory", 0) for st in stages] or [0]) / 2**20

    m["functions.python_run_s"] = _node_metric(nodes, _is_python, "time to run Python workers")
    m["functions.python_start_s"] = _node_metric(nodes, _is_python, "time to start Python workers") + _node_metric(
        nodes, _is_python, "time to initialize Python workers"
    )
    m["functions.python_bytes_sent"] = _node_metric(nodes, _is_python, "data sent to Python workers")
    m["functions.python_bytes_returned"] = _node_metric(nodes, _is_python, "data returned from Python workers")

    events = [e for _, evs in streams for e in evs]
    m["streaming.batches"] = len(events)
    m["streaming.input_rows"] = sum(e.get("numInputRows", 0) for e in events)
    m["streaming.add_batch_s"] = sum(e["durationMs"].get("addBatch", 0) for e in events) / 1e3
    m["streaming.plan_s"] = sum(e["durationMs"].get("queryPlanning", 0) for e in events) / 1e3
    m["streaming.commit_s"] = (
        sum(e["durationMs"].get("commitOffsets", 0) + e["durationMs"].get("walCommit", 0) for e in events) / 1e3
    )
    last = [evs[-1] for _, evs in streams if evs]
    m["streaming.state_rows"] = sum(o.get("numRowsTotal", 0) for e in last for o in e.get("stateOperators", []))
    m["streaming.state_bytes"] = sum(o.get("memoryUsedBytes", 0) for e in last for o in e.get("stateOperators", []))
    m["streaming.dropped_by_watermark"] = sum(
        o.get("numRowsDroppedByWatermark", 0) for e in events for o in e.get("stateOperators", [])
    )

    for layer in LAYERS:
        m[f"{layer}.driver_s"] = 0.0
    for s in ops:
        m[f"{s.layer}.driver_s"] += self_time(s, children.get(s.id, []))
        for span, _ in per_op[s.id]["streams"].values():
            m["streaming.driver_s"] += self_time(span, children.get(span.id, []))
    return m


def median_metrics(samples: list[dict[str, float]]) -> dict[str, float]:
    return {k: statistics.median(s[k] for s in samples) for k in samples[0]} if samples else {}
