"""Capture the event-log fixture that ``tests/test_spans.py`` parses.

Runs one traced pass of two queries (``tpch_q3``: no eager jobs;
``ann_pq_topk``: eager training jobs in its build) at sf0.001 and writes
``tests/fixtures/eventlog.jsonl`` (the events the parser reads from
Spark's event log, without plan text, call sites and memory snapshots) and
``tests/fixtures/spans.json`` (the benchmark's own spans for that pass).

    python3 perfbench/capture_fixture.py
"""

from __future__ import annotations

import json
import os
import sys

import run
from spans import read_event_log
from workloads import Workload

FIXTURES = os.path.join(run.HERE, "tests", "fixtures")
QUERIES = ("tpch_q3", "ann_pq_topk")
DROP = {"sparkPlanInfo", "physicalPlanDescription", "details", "Details",
        "RDD Info", "Task Executor Metrics", "Spark Properties", "System Properties",
        "Classpath Entries", "Hadoop Properties", "JVM Information", "Metrics Properties",
        "modifiedConfigs", "Executor Info", "Stage Infos", "Stage Name", "User"}
#: Event kinds the parser reads; the rest are left out of the fixture.
KEEP = ("SparkListenerJobStart", "SparkListenerJobEnd", "SparkListenerStageCompleted",
        "SparkListenerTaskEnd", "SQLExecutionStart", "SparkListenerApplicationStart")


def trim(ev: dict) -> dict:
    out = {k: v for k, v in ev.items() if k not in DROP}
    if "Properties" in out:
        desc = (out["Properties"] or {}).get("spark.job.description")
        out["Properties"] = {"spark.job.description": desc} if desc else {}
    if "Task Info" in out:
        info = dict(out["Task Info"])
        info["Accumulables"] = [a for a in info.get("Accumulables", [])
                                if "Python workers" in a.get("Name", "")]
        out["Task Info"] = info
    if "Stage Info" in out:
        out["Stage Info"] = {k: v for k, v in out["Stage Info"].items()
                             if k not in DROP and k != "Accumulables"}
    return out


def main() -> int:
    settings = run.machine_settings()
    os.environ.update(settings)
    for d in (run.WORK, settings["TMPDIR"], settings["SPARK_LOCAL_DIRS"]):
        os.makedirs(d, exist_ok=True)
    sys.path.insert(0, run.ROOT)
    workload = Workload("fixture", 0.001, QUERIES)
    data_dir, _ = run.generate_inputs(workload.sf)
    bench = run.Bench(workload, 0, data_dir, int(settings["SPARK_GRAFT_CPUS"]))
    try:
        bench.setup(traced=True)
        bench.run_pass(0)
    finally:
        bench.shutdown()
    if bench.failures:
        print(bench.failures, file=sys.stderr)
        return 1
    events = read_event_log(os.path.join(run.WORK, "eventlog", bench.setups[-1]["app_id"]))
    os.makedirs(FIXTURES, exist_ok=True)
    with open(os.path.join(FIXTURES, "eventlog.jsonl"), "w", encoding="utf-8") as fh:
        for ev in events:
            if ev["Event"].endswith(KEEP):
                fh.write(json.dumps(trim(ev), separators=(",", ":")) + "\n")
    with open(os.path.join(FIXTURES, "spans.json"), "w", encoding="utf-8") as fh:
        json.dump({"cores": bench.cores, "workload": workload.name, "queries": list(QUERIES),
                   "spans": [s.to_json() for s in bench.tracer.spans.values()]}, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
