"""Tests of the benchmark's trace parser against a captured event log.

The fixture (``capture_fixture.py``) is one traced pass of ``tpch_q3`` (no
eager jobs) and ``ann_pq_topk`` (eager training jobs in its build) at
sf0.001.  Run with ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os

import pytest

from spans import (
    Span,
    Tracer,
    children_of,
    parse_label,
    query_layers,
    query_span_id,
    read_event_log,
    self_time,
    spark_spans,
    summarize,
    union_length,
)

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")


@pytest.fixture(scope="module")
def traced():
    with open(os.path.join(FIXTURES, "spans.json"), encoding="utf-8") as fh:
        meta = json.load(fh)
    tracer = Tracer()
    for s in meta["spans"]:
        tracer.add(s["id"], s["name"], s["start"], s["end"], s["parent"], **s.get("attrs", {}))
    events = read_event_log(os.path.join(FIXTURES, "eventlog.jsonl"))
    orphans = spark_spans(events, tracer)
    return meta, tracer, events, orphans


def _qid(meta, query):
    return query_span_id(meta["workload"], 0, query)


def test_every_labelled_job_has_a_query_span(traced):
    meta, tracer, events, orphans = traced
    assert orphans == []
    labelled = [e for e in events if e["Event"] == "SparkListenerJobStart"
                and parse_label((e.get("Properties") or {}).get("spark.job.description"))]
    jobs = [s for s in tracer.spans.values() if s.name.startswith("job")]
    assert len(jobs) == len(labelled) > 0


def test_build_and_action_sum_to_query_wall(traced):
    meta, tracer, _, _ = traced
    for q in meta["queries"]:
        query = tracer.spans[_qid(meta, q)]
        build = tracer.spans[f"{query.id}/build"]
        action = tracer.spans[f"{query.id}/action"]
        assert build.dur + action.dur == pytest.approx(query.dur, rel=0.05)
        assert query.start <= build.start <= build.end <= action.start <= action.end <= query.end


def test_jobs_attributed_to_phase_by_description(traced):
    meta, tracer, events, _ = traced
    described = {
        f"job{e['Job ID']}": parse_label(e["Properties"].get("spark.job.description"))
        for e in events if e["Event"] == "SparkListenerJobStart"
    }
    for span in tracer.spans.values():
        if span.name.startswith("job"):
            _, query, _, phase = described[span.id]
            assert span.parent == f"{_qid(meta, query)}/{phase}"
    kids = children_of(tracer)
    tpch = query_layers(_qid(meta, "tpch_q3"), tracer, kids, meta["cores"])
    pq = query_layers(_qid(meta, "ann_pq_topk"), tracer, kids, meta["cores"])
    assert tpch["queries.build_jobs"] == 0 and tpch["action.jobs"] > 0
    assert pq["queries.build_jobs"] > 0 and pq["action.jobs"] > 0
    assert pq["queries.build_jobs_s"] > 0
    assert pq["python.sent_mb"] > 0 and tpch["python.sent_mb"] == 0


def test_stages_nest_under_their_jobs(traced):
    _, tracer, events, _ = traced
    labelled_stage_ids = {
        sid for e in events if e["Event"] == "SparkListenerJobStart"
        and parse_label((e.get("Properties") or {}).get("spark.job.description"))
        for sid in e["Stage IDs"]}
    completed = [e for e in events if e["Event"] == "SparkListenerStageCompleted"
                 and e["Stage Info"]["Stage ID"] in labelled_stage_ids]
    stages = [s for s in tracer.spans.values() if s.name.startswith("stage")]
    assert len(stages) == len(completed) > 0
    for st in stages:
        job = tracer.spans[st.parent]
        assert job.name.startswith("job")
        assert job.start <= st.start + 1e-3 and st.end <= job.end + 1e-3


def test_self_time_subtracts_children(traced):
    meta, tracer, _, _ = traced
    kids = children_of(tracer)
    for q in meta["queries"]:
        for phase in ("build", "action"):
            span = tracer.spans[f"{_qid(meta, q)}/{phase}"]
            children = kids.get(span.id, [])
            covered = union_length([(max(c.start, span.start), min(c.end, span.end))
                                    for c in children])
            assert self_time(span, children) == pytest.approx(span.dur - covered)
            assert 0 <= self_time(span, children) <= span.dur + 1e-9
    layers = query_layers(_qid(meta, "ann_pq_topk"), tracer, kids, meta["cores"])
    assert layers["queries.build_driver_s"] == pytest.approx(
        layers["queries.build_s"] - layers["queries.build_jobs_s"])


def test_self_time_counts_overlapping_children_once():
    parent = Span("p", "p", 0.0, 10.0, None)
    kids = [Span("a", "a", 1.0, 4.0, "p"), Span("b", "b", 3.0, 6.0, "p"),
            Span("c", "c", 9.0, 12.0, "p")]
    assert self_time(parent, kids) == pytest.approx(10.0 - 5.0 - 1.0)
    assert union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert union_length([]) == 0.0


def test_summarize_takes_per_query_medians_and_sums():
    def layers(wall, run_s, jobs_s, task_ms):
        return {"query.wall_s": wall, "exec.run_s": run_s, "exec.jobs_s": jobs_s,
                "exec.core_util": 0.0, "_stragglers": [max(task_ms) / min(task_ms)]}

    per_query = {"a": [layers(1.0, 2.0, 1.0, [1, 2]), layers(3.0, 2.0, 1.0, [1, 1]),
                       layers(2.0, 2.0, 1.0, [1, 1])],
                 "b": [layers(5.0, 4.0, 2.0, [1, 3])]}
    out = summarize(per_query, cores=4)
    assert out["query.wall_s"] == pytest.approx(2.0 + 5.0)
    assert out["exec.core_util"] == pytest.approx(6.0 / (4 * 3.0))
    assert out["exec.straggler_ratio"] == pytest.approx(1.5)


@pytest.mark.parametrize("desc, parsed", [
    ("tpch_sf0.1:tpch_q3:2:build", ("tpch_sf0.1", "tpch_q3", 2, "build")),
    ("w:q:0:action", ("w", "q", 0, "action")),
    (None, None),
    ("createOrReplaceTempView at NativeMethodAccessorImpl.java:0", None),
    ("w:q:x:build", None),
])
def test_parse_label(desc, parsed):
    assert parse_label(desc) == parsed
