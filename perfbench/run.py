"""Benchmark: closed-loop query passes over seeded inputs, one JSON line out.

    python3 perfbench/run.py --workload tpch_sf0.1 --seed 1 --seconds 6 --trace 0

Run from the repository root.  One run:

1. pins the machine settings (cores, driver memory, local dirs, worker
   ``PYTHONPATH``) and writes the workload's inputs (``datagen.py``, in a
   child process, before any timing), which must match the row counts and
   content hashes in ``inputs.json``;
2. imports the engine and sets it up (``session.benchmark_session``, which
   launches the JVM, then ``session.register_tables``): ``setup_s``;
3. runs one cold pass, checking every query's result against its DuckDB
   oracle (``testing.compare_to_oracle``) off the clock;
4. runs ``WARMUP_PASSES`` untimed passes, then ``PASSES`` timed passes.

A pass runs every query of the workload once, in an order shuffled by
``--seed``, each as a build (``REGISTRY[q].fn``) and an action
(``session.force_execute``).  The inputs do not depend on the seed.  With
``--trace 1`` the timed passes are ``TRACE_PASSES`` untraced ones, then a
second set-up in the warm JVM whose session writes Spark's event log, one
warm-up pass and ``TRACE_PASSES`` traced ones; the per-layer metrics come
from the traced passes.  The last stdout line is ``{"correct",
"attempted", "failed", "metrics"}``; the full run record (settings, input
hashes, per-query walls, failures, spans) is written under
``perfbench/work/runs/``.  One run at a time per checkout: each run
replaces ``perfbench/work/data``.
"""

from __future__ import annotations

import argparse
import ctypes
import gc
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
PACKAGE = "datafusion_parallelism_spark"

#: Timed passes per run (per half of a traced run: ``TRACE_PASSES``).
#: Pass walls still fall for a few passes after the cold one (JIT), so
#: runs compare like with like only when they time the same number of
#: passes: ``--seconds`` does not add passes, the record only states
#: whether the timed passes lasted that long (``reached_seconds``).
PASSES = 3
TRACE_PASSES = 2
#: Untimed passes between the cold pass and the timed ones.
WARMUP_PASSES = 1

sys.path.insert(0, HERE)

from spans import (  # noqa: E402
    Tracer,
    children_of,
    label,
    median_layers,
    query_layers,
    query_span_id,
    read_event_log,
    spark_spans,
    summarize,
)
from workloads import WORKLOADS  # noqa: E402


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def machine_settings() -> dict[str, str]:
    """Environment the engine runs under, sized to the machine it runs on."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo", encoding="ascii") as fh:
        mem_kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    # A quarter of RAM, between 2 and 8 GB: the session default (24g)
    # assumes a much larger machine.
    driver_gb = max(2, min(8, mem_kb // (4 * 1024 * 1024)))
    tmp = os.path.join(WORK, "tmp")
    return {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "local"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def generate_inputs(sf: float) -> tuple[str, dict]:
    """Write the inputs at scale ``sf`` (dropping any earlier run's) and
    return their directory and per-table row counts and hashes."""
    data_dir = os.path.join(WORK, "data", f"sf{sf}")
    shutil.rmtree(os.path.join(WORK, "data"), ignore_errors=True)
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "datagen.py"), data_dir, "--sf", str(sf)],
        check=True, capture_output=True, text=True, timeout=120,
    )
    return data_dir, json.loads(out.stdout.strip().splitlines()[-1])


def expected_inputs(sf: float) -> dict | None:
    """Row counts and content hashes the inputs at ``sf`` must have."""
    with open(os.path.join(HERE, "inputs.json"), encoding="utf-8") as fh:
        return json.load(fh).get(f"sf{sf}")


def proc_mb(pid: int | str, field: str = "VmHWM") -> float:
    """A memory field of ``/proc/<pid>/status`` in MB."""
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no {field} for {pid}")


def cpu_ticks() -> list[int]:
    """Machine-wide CPU time counters (user, nice, system, idle, iowait,
    irq, softirq, steal) from ``/proc/stat``."""
    with open("/proc/stat", encoding="ascii") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def reset_hwm(pid: int | str) -> None:
    with open(f"/proc/{pid}/clear_refs", "w", encoding="ascii") as fh:
        fh.write("5")


def release_python_memory() -> None:
    """Collect garbage and hand freed heap pages back to the OS, so this
    process's resident size tracks live memory rather than what earlier
    queries (and the oracle checks) left in the allocator."""
    gc.collect()
    try:
        ctypes.CDLL("libc.so.6").malloc_trim(0)
    except (OSError, AttributeError):  # not glibc
        pass


class Bench:
    """One workload run: sessions, passes and the spans around them."""

    def __init__(self, workload, seed: int, data_dir: str, cores: int) -> None:
        from datafusion_parallelism_spark import session
        from datafusion_parallelism_spark.queries import REGISTRY
        from datafusion_parallelism_spark.testing import compare_to_oracle

        self.session, self.registry, self.compare = session, REGISTRY, compare_to_oracle
        self.w, self.seed, self.data_dir, self.cores = workload, seed, data_dir, cores
        self.tracer = Tracer()
        self.spark = None
        self.setups: list[dict] = []
        self.passes: list[dict] = []
        self.failures: list[dict] = []
        self.attempted = 0

    def setup(self, traced: bool, t0: float | None = None) -> None:
        """(Re)create the session and register every table, timed from
        ``t0`` (the engine's import, for the first set-up) or from now."""
        if self.spark is not None:
            self.spark.stop()
        extra = {
            # Keep the periodic full driver GC out of timed passes; the
            # harness calls System.gc() between passes instead.
            "spark.cleaner.periodicGC.interval": "30min",
            "spark.ui.showConsoleProgress": "false",
        }
        if traced:
            log_dir = os.path.join(WORK, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            extra.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        tc = time.time()
        t0 = tc if t0 is None else t0
        spark = self.session.benchmark_session(
            self.data_dir, app_name=f"perfbench-{self.w.name}", extra_conf=extra)
        t1 = time.time()
        self.session.register_tables(spark, self.data_dir)
        t2 = time.time()
        self.spark = spark
        self.setups.append({"import_s": tc - t0, "create_s": t1 - tc,
                            "register_s": t2 - t1, "setup_s": t2 - t0,
                            "traced": traced, "app_id": spark.sparkContext.applicationId})

    def order(self, pass_no: int) -> list[str]:
        queries = list(self.w.queries)
        random.Random(f"{self.seed}:{pass_no}").shuffle(queries)
        return queries

    def run_pass(self, pass_no: int, check: bool = False) -> dict:
        """Run every query once (build + action); returns the pass record."""
        sc = self.spark.sparkContext
        wl = self.w.name
        pass_id = f"{wl}/pass{pass_no}"
        pass_span = self.tracer.open(pass_id, f"pass {pass_no}", wl)
        walls: dict[str, float] = {}
        for q in self.order(pass_no):
            self.attempted += 1
            qid = query_span_id(wl, pass_no, q)
            try:
                sc.setJobDescription(label(wl, q, pass_no, "build"))
                t0 = time.time()
                df = self.registry[q].fn(self.spark, self.data_dir)
                t1 = time.time()
                sc.setJobDescription(label(wl, q, pass_no, "action"))
                ta = time.time()
                self.session.force_execute(df)
                t2 = time.time()
            except Exception as exc:  # noqa: BLE001 - a failed query is a result
                self.failures.append({"pass": pass_no, "query": q, "error": repr(exc)[:2000]})
                sc.setJobDescription(None)
                self.session.release_persisted(self.spark)
                continue
            self.tracer.add(qid, q, t0, t2, pass_id)
            self.tracer.add(f"{qid}/build", "build", t0, t1, qid,
                            persisted_b=self.persisted_bytes())
            self.tracer.add(f"{qid}/action", "action", ta, t2, qid)
            walls[q] = (t1 - t0) + (t2 - ta)
            if check:
                self.check(pass_no, q, df)
            sc.setJobDescription(None)
            self.session.release_persisted(self.spark)
            del df
            release_python_memory()
        self.tracer.close(pass_span)
        self.spark._jvm.System.gc()
        record = {"pass": pass_no, "walls": walls, "span_s": pass_span.dur,
                  "wall_s": sum(walls.values()) if len(walls) == len(self.w.queries) else None}
        self.passes.append(record)
        return record

    def check(self, pass_no: int, q: str, df) -> None:
        """Compare one query's result with its DuckDB oracle, off the clock."""
        sc = self.spark.sparkContext
        sc.setJobDescription(label(self.w.name, q, pass_no, "check"))
        t0 = time.time()
        try:
            ok, detail = self.compare(self.spark, df, self.registry[q].oracle, self.data_dir)
        except Exception as exc:  # noqa: BLE001 - a failed check is a result
            ok, detail = False, repr(exc)[:2000]
        self.tracer.add(f"{query_span_id(self.w.name, pass_no, q)}/check", "check",
                        t0, time.time(), f"{self.w.name}/pass{pass_no}", ok=ok)
        if not ok:
            self.failures.append({"pass": pass_no, "query": q, "error": f"oracle: {detail}"})

    def persisted_bytes(self) -> int:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos)

    def timed_passes(self, count: int) -> list[dict]:
        first = len(self.passes)
        return [self.run_pass(first + i) for i in range(count)]

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = gateway.proc
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        # The gateway JVM exits when its stdin closes.
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def query_medians(passes: list[dict], queries) -> dict[str, float]:
    """Each query's median wall over ``passes`` (NaN if it never succeeded)."""
    out = {}
    for q in queries:
        ts = [p["walls"][q] for p in passes if q in p["walls"]]
        out[q] = statistics.median(ts) if ts else math.nan
    return out


def pass_wall(passes: list[dict], queries) -> float:
    """Wall of one pass: the sum over queries of their median walls."""
    return sum(query_medians(passes, queries).values())


def query_geomean(passes: list[dict], queries) -> float:
    meds = list(query_medians(passes, queries).values())
    return math.exp(sum(math.log(t) for t in meds) / len(meds))


def versions(spark) -> dict:
    import duckdb
    import pyspark

    return {"python": sys.version.split()[0], "pyspark": pyspark.__version__,
            "java": spark._jvm.System.getProperty("java.version"),
            "duckdb": duckdb.__version__}


def traced_layers(bench: Bench, traced: list[dict]) -> tuple[dict, dict, list[str]]:
    """Per-layer metrics and per-query breakdown from the traced passes."""
    app_id = bench.setups[-1]["app_id"]
    orphans = spark_spans(read_event_log(os.path.join(WORK, "eventlog", app_id)),
                          bench.tracer)
    kids = children_of(bench.tracer)
    per_query: dict[str, list[dict]] = {}
    for rec in traced:
        for q in rec["walls"]:
            qid = query_span_id(bench.w.name, rec["pass"], q)
            per_query.setdefault(q, []).append(
                query_layers(qid, bench.tracer, kids, bench.cores))
    return summarize(per_query, bench.cores), per_query, orphans


E2E = ("wall_s", "s"), ("query_geomean_s", "s"), ("cold_wall_s", "s"), \
      ("setup_s", "s"), ("python_rss_mb", "MB")
LAYERS = (
    ("session.import_s", "s"), ("session.create_s", "s"), ("session.register_s", "s"),
    ("queries.build_s", "s"), ("queries.build_driver_s", "s"),
    ("queries.build_jobs", "count"), ("queries.persisted_mb", "MB"),
    ("action.wall_s", "s"), ("action.catalyst_s", "s"), ("action.driver_s", "s"),
    ("action.jobs", "count"), ("action.jobs_s", "s"),
    ("exec.stages", "count"), ("exec.tasks", "count"), ("exec.run_s", "s"),
    ("exec.cpu_s", "s"), ("exec.gc_s", "s"), ("exec.task_wait_s", "s"),
    ("exec.core_util", "ratio"), ("exec.straggler_ratio", "ratio"),
    ("shuffle.write_mb", "MB"), ("shuffle.read_mb", "MB"),
    ("sources.input_mb", "MB"), ("sources.input_rows", "count"),
    ("python.sent_mb", "MB"), ("python.returned_mb", "MB"),
    ("trace.overhead", "ratio"),
)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Closed-loop engine benchmark.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "session.py")):
        return fail(f"engine package {PACKAGE}/ not found under {ROOT}; "
                    "run from a full checkout of the repository")
    settings = machine_settings()
    os.environ.update(settings)
    for d in (WORK, settings["TMPDIR"], settings["SPARK_LOCAL_DIRS"]):
        os.makedirs(d, exist_ok=True)

    workload = WORKLOADS[args.workload]
    cores = int(settings["SPARK_GRAFT_CPUS"])
    data_dir, inputs = generate_inputs(workload.sf)
    if inputs != expected_inputs(workload.sf):
        return fail(f"inputs at sf{workload.sf} differ from inputs.json: {inputs}")

    # setup_s starts here: the engine's import, the JVM launch and the
    # first session and table registration, as a one-shot job pays them.
    t_import = time.time()
    sys.path.insert(0, ROOT)
    import datafusion_parallelism_spark as pkg

    if os.path.dirname(os.path.abspath(pkg.__file__)) != os.path.join(ROOT, PACKAGE):
        return fail(f"imported {pkg.__file__}, not the checkout's {PACKAGE}")
    bench = Bench(workload, args.seed, data_dir, cores)
    tracer = bench.tracer
    run_span = tracer.open("run", "run", None, seed=args.seed, trace=args.trace)
    wl_span = tracer.open(workload.name, workload.name, "run")
    try:
        bench.setup(traced=False, t0=t_import)
        jvm = bench.jvm_pid()
        ver = versions(bench.spark)
        bench.run_pass(0, check=True)
        cold = bench.passes[0]
        memory = {"jvm_hwm_cold_mb": proc_mb(jvm), "py_hwm_cold_mb": proc_mb("self")}
        for _ in range(WARMUP_PASSES):
            bench.run_pass(len(bench.passes))
        reset_hwm(jvm)
        reset_hwm("self")
        ticks = cpu_ticks()
        plain = bench.timed_passes(TRACE_PASSES if args.trace else PASSES)
        ticks = [b - a for a, b in zip(ticks, cpu_ticks())]
        # Time the hypervisor gave this machine's CPUs to other guests while
        # the timed passes ran: a high share marks a run on a busy host.
        steal_share = ticks[7] / max(1, sum(ticks))
        heap = bench.spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        memory.update({"jvm_hwm_mb": proc_mb(jvm), "py_hwm_mb": proc_mb("self"),
                       "jvm_rss_after_gc_mb": proc_mb(jvm, "VmRSS"),
                       "py_rss_mb": proc_mb("self", "VmRSS"),
                       "heap_after_gc_mb": heap.getHeapMemoryUsage().getUsed() / 2**20})
        traced = []
        if args.trace:
            # A second session, in the warm JVM, writes the event log.
            bench.setup(traced=True)
            bench.run_pass(len(bench.passes))  # warm-up of the traced session
            traced = bench.timed_passes(TRACE_PASSES)
    finally:
        bench.shutdown()
    tracer.close(wl_span)
    tracer.close(run_span)

    cold_setup = bench.setups[0]
    timed_s = sum(p["span_s"] for p in plain + traced)
    record = {
        "workload": workload.name, "queries": list(workload.queries), "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "cores": cores,
        "settings": settings, "versions": ver,
        "inputs": {"dir": os.path.relpath(data_dir, ROOT), "sf": workload.sf,
                   "tables": inputs},
        "setups": bench.setups, "passes": bench.passes, "failures": bench.failures,
        "attempted": bench.attempted, "memory": memory, "steal_share": steal_share,
        "timed_s": timed_s, "reached_seconds": timed_s >= args.seconds,
        "query_medians_s": query_medians(plain, workload.queries),
        "failed_frac": len(bench.failures) / max(1, bench.attempted),
    }
    if args.trace:
        layers, per_query, orphans = traced_layers(bench, traced)
        for part in ("import_s", "create_s", "register_s"):
            layers[f"session.{part}"] = cold_setup[part]
        plain_wall = pass_wall(plain, workload.queries)
        traced_wall = pass_wall(traced, workload.queries)
        layers["trace.overhead"] = traced_wall / plain_wall - 1
        sums = [abs(d["queries.build_s"] + d["action.wall_s"] - d["query.wall_s"])
                / d["query.wall_s"] for qs in per_query.values() for d in qs]
        record.update({
            "per_query": {q: median_layers(qs) | {"passes": len(qs)}
                          for q, qs in per_query.items()},
            "layer_sum_max_error": max(sums) if sums else None,
            "orphan_jobs": orphans,
            "untraced_wall_s": plain_wall, "traced_wall_s": traced_wall,
        })
        metrics = {name: {"value": layers[name], "unit": unit} for name, unit in LAYERS}
    else:
        values = {
            "wall_s": pass_wall(plain, workload.queries),
            "query_geomean_s": query_geomean(plain, workload.queries),
            "cold_wall_s": cold["wall_s"] if cold["wall_s"] is not None else math.nan,
            "setup_s": cold_setup["setup_s"],
            "python_rss_mb": memory["py_hwm_mb"],
        }
        metrics = {name: {"value": values[name], "unit": unit} for name, unit in E2E}
    record["metrics"] = metrics
    record["spans"] = [s.to_json() for s in tracer.spans.values()]

    runs = os.path.join(WORK, "runs")
    os.makedirs(runs, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    with open(os.path.join(runs, f"{workload.name}-seed{args.seed}-trace{args.trace}-{stamp}.json"),
              "w", encoding="utf-8") as fh:
        json.dump(record, fh, indent=1, default=str)

    failed = len(bench.failures)
    print(json.dumps({"correct": failed == 0, "attempted": bench.attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
