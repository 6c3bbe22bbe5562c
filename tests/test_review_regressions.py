"""Regression tests for review findings (round 1): exact ns→µs truncation,
merge NULL-key handling, salted-join type validation, CC non-convergence."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from datafusion_parallelism_spark.operators.graph import connected_components
from datafusion_parallelism_spark.operators.merge import merge_upsert
from datafusion_parallelism_spark.operators.skew import salted_join
from datafusion_parallelism_spark.sources.parquet import read_parquet


def test_ns_timestamps_truncate_exactly(spark, tmp_path):
    """ns values just above a µs boundary must truncate DOWN to it — the
    old double-division path moved ~12% of values to the wrong µs."""
    # 2024-era epoch nanos with awkward sub-µs residues (ulp of a double
    # here is 256 ns, so naive long→double→/1000 rounds wrongly).
    base = 1_704_067_200_000_000_000  # 2024-01-01T00:00:00 in ns
    nanos = [
        base + 999,
        base + 1_001,
        base + 123_456_789,
        base + 987_654_321_999,
        -1_500,  # pre-epoch: floor(-1500/1000) = -2 µs, NOT div's -1
        -999_999_999,
    ]
    path = os.path.join(str(tmp_path), "ns.parquet")
    pq.write_table(
        pa.table({"ts": pa.array(nanos, type=pa.timestamp("ns")), "i": list(range(len(nanos)))}),
        path,
    )
    df = read_parquet(spark, path).select("i", F.unix_micros("ts").alias("us"))
    got = {r.i: r.us for r in df.collect()}
    # Python // floors toward -inf — the exact contract for both signs.
    assert got == {i: n // 1000 for i, n in enumerate(nanos)}


def test_merge_null_key_source_rows_fail_loud(spark):
    """NULL merge keys signal upstream CDC corruption — merge_upsert must
    raise, not silently drop or emit all-NULL rows."""
    target = spark.createDataFrame([(1, "a")], schema="k long, v string")
    source = spark.createDataFrame([(None, "bad"), (2, "b")], schema="k long, v string")
    with pytest.raises(ValueError, match="NULL in merge key"):
        merge_upsert(target, source, on="k")
    # clean source still works
    ok = merge_upsert(target, source.filter("k IS NOT NULL"), on="k")
    assert sorted((r.k, r.v) for r in ok.collect()) == [(1, "a"), (2, "b")]


def test_salted_join_rejects_unsupported_types(spark):
    big = spark.createDataFrame([(1, 1)], schema="k long, bv long")
    small = spark.createDataFrame([(1, 2)], schema="sk long, sv long")
    for how in ("full", "right", "left_semi", "left_anti"):
        with pytest.raises(ValueError):
            salted_join(big, small, [("k", "sk")], how=how)


def test_connected_components_raises_on_non_convergence(spark):
    # Pointer jumping compresses ~4x reach per iteration (operators/graph.py),
    # so a short chain now converges even at max_iter=2; a 400-node path is
    # far beyond 2 iterations' reach and must still raise rather than return
    # non-minimal labels.
    # The raise must come from the driver after a successful job, not from
    # a kernel task that fails (and is retried) before the driver sees a
    # wrapped exception: no job of the call may end FAILED.
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(399)], schema="u long, v long"
    )
    sc = spark.sparkContext
    group = "cc-non-convergence"
    sc.setJobGroup(group, "connected_components max_iter=2")
    try:
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(chain, max_iter=2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    assert jobs
    assert all(tracker.getJobInfo(j).status != "FAILED" for j in jobs), [
        (j, tracker.getJobInfo(j).status) for j in jobs
    ]
    # and converges fine with enough iterations (log-diameter budget)
    out = connected_components(chain, max_iter=15)
    assert {r.cluster for r in out.collect()} == {0}
