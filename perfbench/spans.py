"""Spans and per-layer metrics for the benchmark's traced runs.

The benchmark records spans around its calls into the engine (run,
workload, pass, query, build, action) in memory with :class:`Tracer`.
Spark's own event log (plain JSON lines: ``spark.eventLog.compress=false``,
``spark.eventLog.rolling.enabled=false``) then supplies the spans below a
query: every job carries the description
``<workload>:<query>:<pass>:<phase>`` the benchmark set with
``SparkContext.setJobDescription``, so :func:`spark_spans` attaches it to
that query's ``build`` or ``action`` span, and each stage to its job.  The
action span also gets a ``catalyst`` child from the action call to its
first job: analysis, optimisation, physical planning and code generation.
(For the ``noop`` write that ``force_execute`` runs, Spark posts
``SQLExecutionStart`` before it plans the query, so that event would miss
the planning; its time is kept on the span as ``sql_start``.)

A span's self time is its duration minus the part of it that its
children cover (:func:`self_time`).  :func:`query_layers` turns one
query's span subtree into the layer counters; :func:`summarize` reduces
them to the per-layer metrics of ``BENCHMARK.json`` (per-query median over
passes, summed over queries).
"""

from __future__ import annotations

import json
import statistics
import time
from dataclasses import dataclass, field

MB = 1e6
PHASES = ("build", "action", "check")


@dataclass
class Span:
    id: str
    name: str
    start: float  # epoch seconds
    end: float
    parent: str | None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start

    def to_json(self) -> dict:
        return {"id": self.id, "name": self.name, "start": round(self.start, 6),
                "end": round(self.end, 6), "parent": self.parent,
                **({"attrs": self.attrs} if self.attrs else {})}


class Tracer:
    """In-memory span recorder; spans are written out once, at the end."""

    def __init__(self) -> None:
        self.spans: dict[str, Span] = {}

    def add(self, span_id: str, name: str, start: float, end: float,
            parent: str | None, **attrs) -> Span:
        span = Span(span_id, name, start, end, parent, dict(attrs))
        self.spans[span_id] = span
        return span

    def open(self, span_id: str, name: str, parent: str | None, **attrs) -> Span:
        """Start a span now; close it with :meth:`close`."""
        return self.add(span_id, name, time.time(), float("nan"), parent, **attrs)

    def close(self, span: Span) -> Span:
        span.end = time.time()
        return span


def label(workload: str, query: str, pass_no: int, phase: str) -> str:
    """The Spark job description for one phase of one query in one pass."""
    return f"{workload}:{query}:{pass_no}:{phase}"


def query_span_id(workload: str, pass_no: int, query: str) -> str:
    return f"{workload}/pass{pass_no}/{query}"


def parse_label(desc: str | None) -> tuple[str, str, int, str] | None:
    """Inverse of :func:`label`; ``None`` for jobs the benchmark did not label."""
    if not desc:
        return None
    parts = desc.rsplit(":", 3)
    if len(parts) != 4 or parts[3] not in PHASES or not parts[2].isdigit():
        return None
    return parts[0], parts[1], int(parts[2]), parts[3]


def read_event_log(path: str) -> list[dict]:
    with open(path, encoding="utf-8") as fh:
        return [json.loads(line) for line in fh if line.strip()]


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by ``intervals`` (overlaps counted once)."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """Duration of ``span`` minus the time its children cover inside it."""
    clipped = [(max(c.start, span.start), min(c.end, span.end)) for c in children]
    return span.dur - union_length([(s, e) for s, e in clipped if e > s])


def _stage_counters() -> dict:
    return {"tasks": 0, "failed_tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
            "shuffle_write_b": 0, "shuffle_read_b": 0, "fetch_wait_ms": 0,
            "spill_disk_b": 0, "spill_mem_b": 0, "input_b": 0, "input_rows": 0,
            "py_sent_b": 0, "py_returned_b": 0, "first_launch": None,
            "task_run_ms": []}


def _add_task(c: dict, ev: dict) -> None:
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    c["tasks"] += 1
    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
        c["failed_tasks"] += 1
    launch = info.get("Launch Time")
    if launch is not None and (c["first_launch"] is None or launch < c["first_launch"]):
        c["first_launch"] = launch
    run_ms = m.get("Executor Run Time", 0)
    c["run_ms"] += run_ms
    c["task_run_ms"].append(run_ms)
    c["cpu_ns"] += m.get("Executor CPU Time", 0)
    c["gc_ms"] += m.get("JVM GC Time", 0)
    c["spill_disk_b"] += m.get("Disk Bytes Spilled", 0)
    c["spill_mem_b"] += m.get("Memory Bytes Spilled", 0)
    sw = m.get("Shuffle Write Metrics") or {}
    c["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    c["shuffle_read_b"] += sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)
    c["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
    im = m.get("Input Metrics") or {}
    c["input_b"] += im.get("Bytes Read", 0)
    c["input_rows"] += im.get("Records Read", 0)
    for acc in info.get("Accumulables", []):
        name = acc.get("Name")
        if name == "data sent to Python workers":
            c["py_sent_b"] += int(acc.get("Update", 0))
        elif name == "data returned from Python workers":
            c["py_returned_b"] += int(acc.get("Update", 0))


def spark_spans(events: list[dict], tracer: Tracer) -> list[str]:
    """Add job, stage and catalyst spans from an event log under the
    benchmark's query spans.  Returns the labels of jobs whose query span
    is missing (should be empty)."""
    jobs: dict[int, dict] = {}
    stages: dict[tuple[int, int], dict] = {}
    counters: dict[tuple[int, int], dict] = {}
    sql_starts: dict[str, float] = {}
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description")
            jobs[ev["Job ID"]] = {"label": desc, "start": ev["Submission Time"] / 1e3,
                                  "end": None, "stage_ids": ev.get("Stage IDs", [])}
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            key = (si["Stage ID"], si.get("Stage Attempt ID", 0))
            stages[key] = {"start": si["Submission Time"] / 1e3,
                           "end": si["Completion Time"] / 1e3}
        elif kind == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
            _add_task(counters.setdefault(key, _stage_counters()), ev)
        elif kind.endswith("SQLExecutionStart"):
            desc = ev.get("description")
            if parse_label(desc) and desc not in sql_starts:
                sql_starts[desc] = ev["time"] / 1e3

    orphans: list[str] = []
    job_of_stage: dict[int, int] = {}
    for job_id, job in sorted(jobs.items()):
        parsed = parse_label(job["label"])
        if parsed is None or job["end"] is None:
            continue
        w, q, p, phase = parsed
        parent = f"{query_span_id(w, p, q)}/{phase}"
        if parent not in tracer.spans:
            orphans.append(job["label"])
            continue
        tracer.add(f"job{job_id}", f"job {job_id}", job["start"], job["end"], parent)
        for sid in job["stage_ids"]:
            job_of_stage.setdefault(sid, job_id)
    for (sid, attempt), st in sorted(stages.items()):
        job_id = job_of_stage.get(sid)
        if job_id is None:
            continue
        c = counters.get((sid, attempt), _stage_counters())
        wait = 0.0 if c["first_launch"] is None else max(0.0, c["first_launch"] / 1e3 - st["start"])
        attrs = {k: v for k, v in c.items() if k != "first_launch"}
        tracer.add(f"stage{sid}.{attempt}", f"stage {sid}", st["start"], st["end"],
                   f"job{job_id}", task_wait_s=wait, **attrs)
    first_job: dict[str, float] = {}
    for span in tracer.spans.values():
        if span.name.startswith("job") and span.parent.endswith("/action"):
            first_job[span.parent] = min(span.start, first_job.get(span.parent, span.start))
    for span in list(tracer.spans.values()):
        if span.name != "action":
            continue
        w, p, q = span.parent.split("/")
        sql_start = sql_starts.get(label(w, q, int(p[len("pass"):]), "action"))
        end = min(first_job.get(span.id, span.end), span.end)
        tracer.add(f"{span.id}/catalyst", "catalyst", span.start, max(span.start, end),
                   span.id, sql_start=sql_start)
    return orphans


def children_of(tracer: Tracer) -> dict[str, list[Span]]:
    out: dict[str, list[Span]] = {}
    for span in tracer.spans.values():
        if span.parent is not None:
            out.setdefault(span.parent, []).append(span)
    return out


def query_layers(query_id: str, tracer: Tracer, kids: dict[str, list[Span]],
                 cores: int) -> dict:
    """Layer counters of one query in one pass, from its span subtree."""
    build = tracer.spans[f"{query_id}/build"]
    action = tracer.spans[f"{query_id}/action"]
    build_jobs = [s for s in kids.get(build.id, []) if s.name.startswith("job")]
    action_kids = kids.get(action.id, [])
    action_jobs = [s for s in action_kids if s.name.startswith("job")]
    catalyst = [s for s in action_kids if s.name == "catalyst"]
    stage_spans = [st for j in build_jobs + action_jobs for st in kids.get(j.id, [])]

    def total(key: str) -> float:
        return sum(st.attrs.get(key, 0) for st in stage_spans)

    jobs_s = union_length([(j.start, j.end) for j in build_jobs + action_jobs])
    return {
        "query.wall_s": build.dur + action.dur,
        "queries.build_s": build.dur,
        "queries.build_jobs": len(build_jobs),
        "queries.build_jobs_s": union_length([(j.start, j.end) for j in build_jobs]),
        "queries.build_driver_s": self_time(build, build_jobs),
        "queries.persisted_mb": build.attrs.get("persisted_b", 0) / MB,
        "action.wall_s": action.dur,
        "action.catalyst_s": sum(s.dur for s in catalyst),
        "action.jobs": len(action_jobs),
        "action.jobs_s": union_length([(j.start, j.end) for j in action_jobs]),
        "action.driver_s": self_time(action, action_kids),
        "exec.jobs_s": jobs_s,
        "exec.stages": len(stage_spans),
        "exec.tasks": total("tasks"),
        "exec.failed_tasks": total("failed_tasks"),
        "exec.run_s": total("run_ms") / 1e3,
        "exec.cpu_s": total("cpu_ns") / 1e9,
        "exec.gc_s": total("gc_ms") / 1e3,
        "exec.task_wait_s": total("task_wait_s"),
        "exec.core_util": total("run_ms") / 1e3 / (cores * jobs_s) if jobs_s else 0.0,
        "shuffle.write_mb": total("shuffle_write_b") / MB,
        "shuffle.read_mb": total("shuffle_read_b") / MB,
        "shuffle.fetch_wait_s": total("fetch_wait_ms") / 1e3,
        "shuffle.spill_mb": total("spill_disk_b") / MB,
        "shuffle.spill_mem_mb": total("spill_mem_b") / MB,
        "sources.input_mb": total("input_b") / MB,
        "sources.input_rows": total("input_rows"),
        "python.sent_mb": total("py_sent_b") / MB,
        "python.returned_mb": total("py_returned_b") / MB,
        "_stragglers": [
            max(st.attrs["task_run_ms"]) / statistics.median(st.attrs["task_run_ms"])
            for st in stage_spans
            if len(st.attrs.get("task_run_ms", [])) >= cores
            and statistics.median(st.attrs["task_run_ms"]) > 0
        ],
    }


def median_layers(layers: list[dict]) -> dict[str, float]:
    """Per-key median of one query's layer counters over its passes."""
    return {key: statistics.median(d[key] for d in layers)
            for key in layers[0] if not key.startswith("_")}


def summarize(per_query: dict[str, list[dict]], cores: int) -> dict[str, float]:
    """Per-layer metrics of one workload: for each query the median over
    its traced passes, summed over queries.  ``exec.core_util`` is the
    workload's executor run time over ``cores`` x job time, and
    ``exec.straggler_ratio`` the median over stages with at least
    ``cores`` tasks of max / median task run time."""
    out: dict[str, float] = {}
    stragglers: list[float] = []
    for layers in per_query.values():
        for key, value in median_layers(layers).items():
            out[key] = out.get(key, 0.0) + value
        for d in layers:
            stragglers.extend(d["_stragglers"])
    run_s, jobs_s = out.get("exec.run_s", 0.0), out.get("exec.jobs_s", 0.0)
    out["exec.core_util"] = run_s / (cores * jobs_s) if jobs_s else 0.0
    out["exec.straggler_ratio"] = statistics.median(stragglers) if stragglers else 1.0
    return out
