"""The benchmark's named workloads.

Each workload is a query list run in a closed loop (one client, one query
at a time, the next submitted only after the previous one returns) over
the inputs ``datagen.py`` writes at the workload's scale factor (the same
rows in every run).  The run's seed shuffles the query order of every
pass.
Why each workload was chosen is stated in ``BENCHMARK.json`` and
``README.md``.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    queries: tuple[str, ...]


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="tpch_sf0.1",
            sf=0.1,
            queries=("tpch_q1", "tpch_q3", "tpch_q6", "tpch_q21"),
        ),
        Workload(
            name="vecgraph_sf0.02",
            sf=0.02,
            queries=("ann_bruteforce_topk", "vec_kmeans_clusters", "graph_pagerank"),
        ),
    )
}
