"""Spark event-log parsing and layer attribution for the benchmark trace.

The traced run turns on Spark's own event log (uncompressed, one JSON
object per line).  This module reads it back after the session stops and
attributes every stage to a layer of ``nerzo_spark``:

1. operator scope: a stage that ran a Python UDF (its ``MapInPandas`` or
   other Python node reported rows or Python time) goes to the module that
   defines that UDF, e.g. ``_nerzo_extract_link`` -> ``operators.extract_link``;
2. call site: otherwise the ``nerzo_spark`` module of the job's
   ``callSite.short`` (``collect at .../nerzo_spark/pipeline/kg.py:556`` ->
   ``pipeline.kg``).  A job without a call site of its own takes the one of
   another job of its SQL execution (AQE sub-jobs).  PySpark leaves the
   jobs of ``count``, ``localCheckpoint`` and writes untagged; the traced
   run tags them (``driver_trace.eager_call_sites``);
3. job group: otherwise the benchmark span (job group) the job ran under.

Wall time of an operation is split over layers on a timeline: an instant in
which stages run is shared among their layers; an instant inside a job but
between its stages goes to the job's layer; an instant in which no job runs
goes to the ``nerzo_spark`` module the driver's stack was sampled in
(``driver_trace.StackSampler``).  What is left (the driver outside
``nerzo_spark``, e.g. in PySpark result handling called by the benchmark)
is unattributed.
"""

from __future__ import annotations

import json
import os
import re
from collections import defaultdict
from dataclasses import dataclass, field

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_RUN = "time to run Python workers"
ROWS = "number of output rows"
PYTHON_NODES = ("MapInPandas", "MapInArrow", "FlatMapGroupsInPandas",
                "ArrowEvalPython", "BatchEvalPython", "FlatMapCoGroupsInPandas")

_CALLSITE_RE = re.compile(r"nerzo_spark/([\w/]+)\.py:\d+")
_DEF_RE = re.compile(r"^\s*def (\w+)\(", re.M)
_UDF_NAME_RE = re.compile(r"^\w+ (\w+)\(")
# file-source write target and scan locations in a physical plan description
_WRITE_RE = re.compile(r"Arguments: file:([^,\s]+)")
_SCAN_RE = re.compile(r"Location: \w+ \[file:([^\],\s]+)")


def module_of_path(path: str) -> str | None:
    """``.../nerzo_spark/pipeline/kg.py:556`` -> ``pipeline.kg``."""
    m = _CALLSITE_RE.search(path or "")
    return m.group(1).replace("/", ".") if m else None


def udf_index(package_dir: str) -> dict[str, str]:
    """Function name -> defining module, for names defined in exactly one
    module of the package (UDF names are read off the physical plan)."""
    seen: dict[str, set[str]] = defaultdict(set)
    for dirpath, _, files in os.walk(package_dir):
        for f in files:
            if not f.endswith(".py"):
                continue
            p = os.path.join(dirpath, f)
            rel = os.path.relpath(p, package_dir)[:-3].replace(os.sep, ".")
            with open(p, encoding="utf-8") as fh:
                for name in _DEF_RE.findall(fh.read()):
                    seen[name].add(rel)
    return {k: next(iter(v)) for k, v in seen.items() if len(v) == 1}


@dataclass
class Stage:
    stage_id: int
    attempt: int
    job_id: int
    group: str | None
    description: str | None
    submit_ms: float = 0.0
    complete_ms: float = 0.0
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_bytes: float = 0.0
    shuffle_read_bytes: float = 0.0
    # accumulator id -> summed task updates
    accums: dict[int, float] = field(default_factory=dict)
    layer: str | None = None
    py_sent: float = 0.0
    py_returned: float = 0.0
    py_run_ms: float = 0.0
    udf_rows: float = 0.0

    @property
    def wall_ms(self) -> float:
        return max(self.complete_ms - self.submit_ms, 0.0)


@dataclass
class Job:
    job_id: int
    group: str | None
    description: str | None
    callsite: str | None
    exec_id: str | None
    submit_ms: float
    complete_ms: float = 0.0
    layer: str | None = None


@dataclass
class Trace:
    jobs: dict[int, Job]
    stages: dict[tuple[int, int], Stage]
    # accumulator id -> (python node's UDF name, metric name)
    py_metrics: dict[int, tuple[str, str]]
    # SQL execution id -> names of the directories it writes / scans
    writes: dict[str, set[str]] = field(default_factory=dict)
    scans: dict[str, set[str]] = field(default_factory=dict)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _walk_plan(node: dict, out: dict[int, tuple[str, str]]) -> None:
    name = node.get("nodeName", "")
    if name in PYTHON_NODES:
        m = _UDF_NAME_RE.match(node.get("simpleString", ""))
        udf = m.group(1) if m else name
        for metric in node.get("metrics", []):
            out[int(metric["accumulatorId"])] = (udf, metric["name"])
    for child in node.get("children", []):
        _walk_plan(child, out)


def read_events(path: str) -> list[dict]:
    events = []
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            line = line.strip()
            if line:
                events.append(json.loads(line))
    return events


def parse(events: list[dict]) -> Trace:
    jobs: dict[int, Job] = {}
    stages: dict[tuple[int, int], Stage] = {}
    stage_job: dict[int, int] = {}
    py_metrics: dict[int, tuple[str, str]] = {}
    writes: dict[str, set[str]] = {}
    scans: dict[str, set[str]] = {}
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = Job(
                job_id=ev["Job ID"],
                group=props.get("spark.jobGroup.id"),
                description=props.get("spark.job.description"),
                callsite=props.get("callSite.short"),
                exec_id=props.get("spark.sql.execution.root.id")
                or props.get("spark.sql.execution.id"),
                submit_ms=_num(ev.get("Submission Time")),
            )
            jobs[job.job_id] = job
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = job.job_id
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].complete_ms = _num(ev.get("Completion Time"))
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            props = ev.get("Properties") or {}
            sid, att = info["Stage ID"], info.get("Stage Attempt ID", 0)
            stages[(sid, att)] = Stage(
                stage_id=sid, attempt=att, job_id=stage_job.get(sid, -1),
                group=props.get("spark.jobGroup.id"),
                description=props.get("spark.job.description"),
                submit_ms=_num(info.get("Submission Time")),
            )
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = stages.get((info["Stage ID"], info.get("Stage Attempt ID", 0)))
            if st is not None:
                st.submit_ms = _num(info.get("Submission Time")) or st.submit_ms
                st.complete_ms = _num(info.get("Completion Time"))
        elif kind == "SparkListenerTaskEnd":
            st = stages.get((ev["Stage ID"], ev.get("Stage Attempt ID", 0)))
            if st is None:
                continue
            tm = ev.get("Task Metrics") or {}
            st.run_ms += _num(tm.get("Executor Run Time"))
            st.cpu_ns += _num(tm.get("Executor CPU Time"))
            st.gc_ms += _num(tm.get("JVM GC Time"))
            sw = tm.get("Shuffle Write Metrics") or {}
            st.shuffle_write_bytes += _num(sw.get("Shuffle Bytes Written"))
            sr = tm.get("Shuffle Read Metrics") or {}
            st.shuffle_read_bytes += _num(sr.get("Local Bytes Read")) + _num(
                sr.get("Remote Bytes Read"))
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Metadata") == "sql" or not str(acc.get("Name", "")).startswith(
                        "internal."):
                    aid = int(acc["ID"])
                    st.accums[aid] = st.accums.get(aid, 0.0) + _num(acc.get("Update"))
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"):
            plan = ev.get("sparkPlanInfo")
            if plan:
                _walk_plan(plan, py_metrics)
            text = ev.get("physicalPlanDescription") or ""
            eid = str(ev.get("rootExecutionId", ev.get("executionId")))
            writes.setdefault(eid, set()).update(
                os.path.basename(p.rstrip("/")) for p in _WRITE_RE.findall(text))
            scans.setdefault(eid, set()).update(
                os.path.basename(p.rstrip("/")) for p in _SCAN_RE.findall(text))
    # jobs stay open if the log was cut; close them at their last stage
    for job in jobs.values():
        if not job.complete_ms:
            ends = [s.complete_ms for s in stages.values() if s.job_id == job.job_id]
            job.complete_ms = max(ends, default=job.submit_ms)
    return Trace(jobs=jobs, stages=stages, py_metrics=py_metrics, writes=writes,
                 scans=scans)


def attribute(trace: Trace, udf_modules: dict[str, str]) -> None:
    """Set ``layer`` on every job and stage by the module's three rules, and
    fill each stage's Python boundary metrics."""
    exec_callsite: dict[str, str] = {}
    for job in sorted(trace.jobs.values(), key=lambda j: j.job_id):
        if job.callsite and job.exec_id is not None:
            exec_callsite.setdefault(job.exec_id, job.callsite)
    for job in trace.jobs.values():
        job.callsite = job.callsite or exec_callsite.get(job.exec_id or "")
        job.layer = module_of_path(job.callsite) or job.group
    for st in trace.stages.values():
        per_udf: dict[str, list[float]] = defaultdict(lambda: [0.0, 0.0, 0.0, 0.0])
        for aid, val in st.accums.items():
            hit = trace.py_metrics.get(aid)
            if hit is None:
                continue
            udf, metric = hit
            slot = {PY_SENT: 0, PY_RETURNED: 1, PY_RUN: 2, ROWS: 3}.get(metric)
            if slot is not None:
                per_udf[udf][slot] += val
        ran = {u: v for u, v in per_udf.items() if v[2] > 0 or v[3] > 0 or v[0] > 0}
        for v in ran.values():
            st.py_sent += v[0]
            st.py_returned += v[1]
            st.py_run_ms += v[2]
        udf_layer = None
        if ran:
            udf = max(ran, key=lambda u: (ran[u][2], ran[u][0], u))
            udf_layer = udf_modules.get(udf)
            st.udf_rows = ran[udf][3]
        job = trace.jobs.get(st.job_id)
        st.layer = udf_layer or (job.layer if job else st.group)


def split_wall(trace: Trace, t0: float, t1: float,
               driver: list[tuple[float, float, str]]) -> tuple[dict[str, float], float]:
    """Attribute the wall time of [t0, t1] (ms) to layers.

    Returns ({layer: seconds}, unattributed seconds).  ``driver`` holds the
    (start, end, module) intervals of the driver's sampled stack; they
    count only where no stage or job runs."""
    intervals: list[tuple[float, float, int, str]] = []  # (start, end, prio, layer)
    for st in trace.stages.values():
        if st.complete_ms > t0 and st.submit_ms < t1 and st.layer:
            intervals.append((max(st.submit_ms, t0), min(st.complete_ms, t1), 0, st.layer))
    for job in trace.jobs.values():
        if job.complete_ms > t0 and job.submit_ms < t1 and job.layer:
            intervals.append((max(job.submit_ms, t0), min(job.complete_ms, t1), 1, job.layer))
    for s, e, layer in driver:
        if e > t0 and s < t1:
            intervals.append((max(s, t0), min(e, t1), 2, layer))
    cuts = sorted({t0, t1, *(i[0] for i in intervals), *(i[1] for i in intervals)})
    out: dict[str, float] = defaultdict(float)
    unattributed = 0.0
    for a, b in zip(cuts, cuts[1:]):
        if b <= a:
            continue
        live = [i for i in intervals if i[0] <= a and i[1] >= b]
        if not live:
            unattributed += (b - a) / 1000.0
            continue
        prio = min(i[2] for i in live)
        layers = [i[3] for i in live if i[2] == prio]
        for layer in layers:
            out[layer] += (b - a) / 1000.0 / len(layers)
    return dict(out), unattributed


def stages_for(trace: Trace, description_prefix: str) -> list[Stage]:
    return [s for s in trace.stages.values()
            if (s.description or "").startswith(description_prefix)]


def load(path: str, package_dir: str) -> Trace:
    trace = parse(read_events(path))
    attribute(trace, udf_index(package_dir))
    return trace
