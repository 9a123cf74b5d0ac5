"""Traced run: spans kept in memory plus Spark's own per-job records.

The benchmark records spans around its calls into the program (the job, the
registry build, the sink call). After each job it reads the records Spark
already keeps for that job's job group from the REST API at
``sc.uiWebUrl`` (jobs, stages, SQL executions) and turns them into child
spans. Nothing is added inside the program.

Each job's wall is split into disjoint pieces that add up to it:
``eager`` (Spark jobs run while the plan was built), ``build`` (the rest of
the registry build), ``plan`` (action call to first Spark job), ``jobs``
(union of the action's Spark job intervals), ``sink`` (sink call time not
covered by the above), ``between`` (time inside the action's SQL
executions not covered by any of the above: adaptive re-planning between
query stages, result hand-over) and ``residual`` (what no record covers). The pieces
are clipped to the wall so they add up to it; the job's vector error is the
residual plus any measured time that falls outside the wall (the two clocks
disagree), as a share of the wall. It is what the traced run checks.
"""

from __future__ import annotations

import datetime as _dt
import json
import re
import urllib.request
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    job: str  # shared id of all spans of one benchmark job
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return max(0.0, self.end - self.start)


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by ``intervals``, optionally clipped to [lo, hi]."""
    segs = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            segs.append((a, b))
    segs.sort()
    total, cur_a, cur_b = 0.0, None, None
    for a, b in segs:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class Trace:
    """Spans of one run, in memory until :meth:`dump`."""

    def __init__(self):
        self.spans: list[Span] = []

    def add(self, name, start, end, parent, job, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append(Span(sid, name, start, end, parent, job, attrs))
        return sid

    def children(self, sid: int) -> list[Span]:
        return [s for s in self.spans if s.parent == sid]

    def self_time(self, sid: int) -> float:
        s = self.spans[sid]
        kids = [(c.start, c.end) for c in self.children(sid)]
        return s.duration - union_length(kids, s.start, s.end)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                d = asdict(s)
                d["self"] = self.self_time(s.id)
                f.write(json.dumps(d) + "\n")


# ---------------------------------------------------------------------------
# Spark's records
# ---------------------------------------------------------------------------

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
}


def metric_value(text: str) -> float:
    """A SQL metric's total as a number: bytes, seconds or a count.

    Spark renders either ``"1.2 s"`` or ``"total (min, med, max ...)\\n1.2 s
    (...)"``; the total is the first figure of the last line."""
    line = text.strip().splitlines()[-1]
    head = line.split(" (")[0].strip()
    m = re.fullmatch(r"([-\d.,]+)\s*([A-Za-z]*)", head)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    return num * _UNITS.get(m.group(2), 1.0)


def rest_time(s: str | None) -> float | None:
    """``2026-10-17T03:14:43.249GMT`` -> epoch seconds."""
    if not s:
        return None
    t = _dt.datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=_dt.timezone.utc).timestamp()


class SparkRecords:
    """Reads job, stage and SQL-execution records from Spark's REST API."""

    def __init__(self, sc):
        self._sc = sc
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self._last_sql = -1

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def skip_existing(self) -> None:
        ids = [e["id"] for e in self._get("/sql?details=false&offset=0&length=1000000")]
        self._last_sql = max(ids, default=-1)

    def collect(self, group: str) -> dict:
        """Jobs, stage attempts and SQL executions of one job group."""
        self.drain()
        jobs = [j for j in self._get("/jobs") if j.get("jobGroup") == group]
        job_ids = {j["jobId"] for j in jobs}
        stages = []
        for sid in sorted({s for j in jobs for s in j["stageIds"]}):
            stages.extend(self._get(f"/stages/{sid}"))
        execs = []
        new = [e for e in self._get("/sql?details=false&offset=0&length=1000000") if e["id"] > self._last_sql]
        for e in new:
            self._last_sql = max(self._last_sql, e["id"])
            ids = set(e["successJobIds"]) | set(e["failedJobIds"]) | set(e["runningJobIds"])
            if ids & job_ids:
                execs.append(self._get(f"/sql/{e['id']}?details=true&planDescription=true"))
        return {"jobs": jobs, "stages": stages, "executions": execs}


# ---------------------------------------------------------------------------
# Per-job accounting
# ---------------------------------------------------------------------------

PY_METRICS = {
    "time to start Python workers": "python.start_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}

STAGE_SUMS = {
    # layer metric: (stage field, scale)
    "exec.run_s": ("executorRunTime", 1e-3),
    "exec.cpu_s": ("executorCpuTime", 1e-9),
    "exec.gc_s": ("jvmGcTime", 1e-3),
    "exec.deserialize_s": ("executorDeserializeTime", 1e-3),
    "exec.spill_bytes": ("diskBytesSpilled", 1),
    "exchange.write_bytes": ("shuffleWriteBytes", 1),
    "exchange.read_bytes": ("shuffleReadBytes", 1),
    "exchange.records": ("shuffleWriteRecords", 1),
    "exchange.write_s": ("shuffleWriteTime", 1e-9),
    "exchange.fetch_wait_s": ("shuffleFetchWaitTime", 1e-3),
    "sources.input_bytes": ("inputBytes", 1),
    "sources.input_records": ("inputRecords", 1),
    "sources.output_bytes": ("outputBytes", 1),
}

RASTER_KINDS = ("geotiff.minmax_s", "geotiff.histogram_s", "deciles.collect_s")


def _is_write(execution: dict) -> bool:
    return any(n["nodeName"].startswith("Execute Insert") for n in execution["nodes"])


def _raster_kinds(execution: dict) -> list[str]:
    """Which pass of the raster program an execution ran (by its plan)."""
    plan = execution.get("planDescription", "")
    if "n_valid" in plan:
        return ["geotiff.minmax_s"]
    kinds = []
    if "pixel_count" in plan:
        kinds.append("geotiff.histogram_s")
    if "bucket_count" in plan:
        kinds.append("deciles.collect_s")
    return kinds


def _inside(t: float, spans_: list[tuple[int, float, float]]) -> int | None:
    """Id of the first span in ``(id, start, end)`` that contains ``t``."""
    return next((sid for sid, a, b in spans_ if a <= t <= b), None)


def account(trace: Trace, job: str, t0: float, t1: float, t2: float,
            records: dict, builds=(), sinks=(), raster: bool = False) -> dict:
    """Record spans for one job and return its layer numbers.

    ``t0``/``t2``: job start and end; ``t1``: the action call (the end of
    the registry build, or ``t0`` when the job is one program call), all
    epoch seconds. ``builds`` and ``sinks``: ``(name, start, end)`` of the
    timed calls that build a plan and that write an output. Spark jobs
    submitted inside a build call are eager jobs; the others belong to the
    action.
    """
    root = trace.add(job, t0, t2, None, job, kind="job")
    build_spans = [(trace.add(n, a, b, root, job), a, b) for n, a, b in builds]
    sink_spans = [(trace.add(n, a, b, root, job), a, b) for n, a, b in sinks]

    def parent_of(t: float) -> int:
        sid = _inside(t, build_spans)
        if sid is None:
            sid = _inside(t, sink_spans)
        return root if sid is None else sid

    spark_jobs = []
    for j in records["jobs"]:
        a, b = rest_time(j.get("submissionTime")), rest_time(j.get("completionTime"))
        if a is not None and b is not None:
            spark_jobs.append((a, b, j))
    eager_ids = {j["jobId"] for a, _, j in spark_jobs if _inside(a, build_spans) is not None}
    eager = [(a, b) for a, b, j in spark_jobs if j["jobId"] in eager_ids]
    action = [(a, b) for a, b, j in spark_jobs if j["jobId"] not in eager_ids]
    first = min((a for a, _ in action), default=None)
    plan = (t1, first) if first is not None and first > t1 else None
    if plan:
        trace.add("plans.plan", plan[0], plan[1], root, job)

    # SQL executions and Spark jobs as child spans
    exec_span = {}
    action_execs = []
    for e in records["executions"]:
        a = rest_time(e["submissionTime"])
        b = a + e["duration"] / 1000.0
        sid = trace.add("sql.execution", a, b, parent_of(a), job, execution=e["id"])
        ids = e["successJobIds"] + e["failedJobIds"] + e["runningJobIds"]
        for jid in ids:
            exec_span[jid] = sid
        if not (set(ids) & eager_ids):
            action_execs.append((a, b))
    stage_by_id = {}
    for s in records["stages"]:
        stage_by_id.setdefault(s["stageId"], []).append(s)
    for a, b, j in spark_jobs:
        parent = exec_span.get(j["jobId"])
        if parent is None:
            parent = parent_of(a)
        jid = trace.add("spark.job", a, b, parent, job, job_id=j["jobId"])
        for st in j["stageIds"]:
            for att in stage_by_id.get(st, []):
                sa, sb = rest_time(att.get("submissionTime")), rest_time(att.get("completionTime"))
                if sa is not None and sb is not None:
                    trace.add("spark.stage", sa, sb, jid, job, stage=st)

    # Disjoint pieces of the wall, each the time a new source of records
    # covers beyond the earlier ones, all clipped to [t0, t2]. Every piece
    # is measured: the benchmark's clock around its calls, Spark's job and
    # SQL-execution intervals. What none of them covers is the residual.
    wall = t2 - t0
    pieces = (
        ("eager", eager),
        ("build", [(a, b) for _, a, b in builds]),
        ("plan", [plan] if plan else []),
        ("jobs", action),
        ("sink", [(a, b) for _, a, b in sinks]),
        ("between", action_execs),
    )
    covered: list[tuple[float, float]] = []
    vector = {}
    for key, intervals in pieces:
        before = union_length(covered, t0, t2)
        covered += intervals
        vector[key] = union_length(covered, t0, t2) - before
    inside = union_length(covered, t0, t2)
    residual = max(0.0, wall - inside)
    vector["residual"] = residual
    # The check that can fail: the measured pieces must explain the wall.
    # Unexplained time (the residual) and measured time outside the wall
    # (clocks that disagree) both count against it.
    outside = union_length(covered) - inside
    error = (residual + outside) / wall if wall > 0 else 0.0

    ran = [s for s in records["stages"] if s["status"] != "SKIPPED"]
    m = {k: 0.0 for k in STAGE_SUMS}
    for k, (fld, scale) in STAGE_SUMS.items():
        m[k] = sum(s.get(fld, 0) for s in ran) * scale
    m["exec.peak_memory_bytes"] = max((s.get("peakExecutionMemory", 0) for s in ran), default=0)
    m["plans.jobs"] = len(records["jobs"])
    m["plans.stages"] = len(ran)
    m["plans.tasks"] = sum(s.get("numCompleteTasks", 0) + s.get("numFailedTasks", 0) for s in ran)
    for k in list(PY_METRICS.values()) + list(RASTER_KINDS) + [
        "sources.scan_s", "sources.metadata_s", "sources.sink_s",
        "plans.broadcast_joins", "plans.sort_merge_joins",
    ]:
        m[k] = 0.0
    for e in records["executions"]:
        dur = e["duration"] / 1000.0
        if _is_write(e):
            m["sources.sink_s"] += dur
        if raster:
            for k in _raster_kinds(e):
                m[k] += dur
        for n in e["nodes"]:
            name = n["nodeName"]
            if name.startswith("BroadcastHashJoin") or name.startswith("BroadcastNestedLoopJoin"):
                m["plans.broadcast_joins"] += 1
            elif name.startswith("SortMergeJoin"):
                m["plans.sort_merge_joins"] += 1
            for met in n["metrics"]:
                key = PY_METRICS.get(met["name"])
                if key:
                    m[key] += metric_value(met["value"])
                elif name.startswith("Scan") and met["name"] == "scan time":
                    m["sources.scan_s"] += metric_value(met["value"])
                elif name.startswith("Scan") and met["name"] == "metadata time":
                    m["sources.metadata_s"] += metric_value(met["value"])
    m["registry.build_s"] = vector["build"]
    m["registry.eager_jobs"] = len(eager_ids)
    m["registry.eager_s"] = vector["eager"]
    m["plans.plan_s"] = vector["plan"]
    m["plans.between_jobs_s"] = vector["between"]
    m["driver.residual_s"] = residual
    return {"wall": wall, "vector": vector, "error": error, "layers": m}
