"""ANN quality: recall@k of the approximate variants against the
brute-force ground truth (the contract an ANN index actually makes —
exactness is checked separately by each query's own oracle)."""


import numpy as np
import pytest
from pyspark.sql import functions as F

from datafusion_parallelism_spark.queries import REGISTRY


def _topk_sets(spark, sf_dir, name):
    out = {}
    for r in REGISTRY[name].fn(spark, sf_dir).collect():
        out.setdefault(r.query_id, set()).add(r.neighbor_id)
    return out


def _recall(truth, approx):
    return sum(len(truth[q] & approx.get(q, set())) / len(truth[q]) for q in truth) / len(truth)


def test_ann_recall_floors(spark, sf_dir_oracle):
    truth = _topk_sets(spark, sf_dir_oracle, "ann_bruteforce_topk")
    lsh = _recall(truth, _topk_sets(spark, sf_dir_oracle, "ann_lsh_topk"))
    ivf = _recall(truth, _topk_sets(spark, sf_dir_oracle, "ann_ivf_topk"))
    # Deterministic data → deterministic recall (measured 0.54 / 0.78);
    # floors catch regressions in bucketing/probing logic.
    assert lsh >= 0.50, f"multi-probe LSH recall@5 regressed: {lsh}"
    assert ivf >= 0.70, f"IVF recall@5 regressed: {ivf}"


def test_pq_codes_properties(spark, sf_dir_oracle):
    """Structural + quality invariants of the trained codebook: every code
    array has exactly M entries in [0, K); reconstruction error is
    positive (Lloyd centroids are member MEANS, never an exact member of
    this non-degenerate corpus); and the corpus-mean error beats the
    untrained sampled codebook's measured 0.113 by a wide margin (the
    training actually trained — measured 0.030)."""
    from datafusion_parallelism_spark.queries.llm import _PQ_K, _PQ_M

    rows = REGISTRY["vec_pq_codes"].fn(spark, sf_dir_oracle).collect()
    assert rows
    for r in rows:
        assert len(r.codes) == _PQ_M
        assert all(0 <= c < _PQ_K for c in r.codes)
        assert r.recon_err > 0
    mean_err = sum(r.recon_err for r in rows) / len(rows)
    assert mean_err < 0.05, f"trained codebook regressed: mean err {mean_err}"


def test_pq_adc_recall_floor(spark, sf_dir_oracle):
    """ADC over the 32×64 Lloyd-trained codebook vs exact cosine ground
    truth (unit-normalized, so squared-L2 ADC ranks by the same metric).
    Measured 0.74 on the deterministic fixture (0.66 before training);
    the floor pins it to catch LUT/code-join/training regressions, not to
    certify production recall."""
    truth = _topk_sets(spark, sf_dir_oracle, "ann_bruteforce_topk")
    approx = {}
    for r in REGISTRY["ann_pq_topk"].fn(spark, sf_dir_oracle).collect():
        approx.setdefault(r.qid, set()).add(r.vid)
    rec = _recall(truth, approx)
    assert rec >= _PQ_RECALL_FLOOR, f"PQ-ADC recall@5 regressed: {rec}"


def test_ivfpq_recall_floor(spark, sf_dir_oracle):
    """IVF-PQ compounds cell-pruning miss (IVF alone 0.78) with
    quantization noise (flat PQ alone 0.74): measured 0.60 — below either
    component, exactly as the composition predicts; the floor pins the
    cell-join/ADC plumbing."""
    truth = _topk_sets(spark, sf_dir_oracle, "ann_bruteforce_topk")
    approx = {}
    for r in REGISTRY["ann_ivfpq_topk"].fn(spark, sf_dir_oracle).collect():
        approx.setdefault(r.qid, set()).add(r.vid)
    rec = _recall(truth, approx)
    assert rec >= 0.55, f"IVF-PQ recall@5 regressed: {rec}"


#: measured on the deterministic sf0.01 fixture; update only with evidence.
_PQ_RECALL_FLOOR = 0.70


def _rows_set(df):
    return {
        tuple(tuple(v) if isinstance(v, list) else v for v in r)
        for r in df.collect()
    }


def test_pq_arrow_kernel_matches_join_formulation(spark, sf_dir_oracle):
    """Round-11 contract: the one-task trainer must emit the identical
    codebook as the broadcast-join Lloyd loop (_pq_trained_anchors), and
    the Arrow assignment kernel the identical (vec_id, j, code, dmin) rows
    as the broadcast-join + min(struct) argmin (_pq_codes)."""
    from datafusion_parallelism_spark.queries import llm
    from datafusion_parallelism_spark.session import load

    vecs = load(spark, sf_dir_oracle, "embeddings")
    subv, anch, arrays = llm._pq_model(spark, vecs)
    ref_anch = llm._pq_trained_anchors(spark, subv, llm._pq_seed(subv))
    assert _rows_set(anch) == _rows_set(ref_anch)
    codes = llm._pq_assign_arrow(subv, *arrays, include_coords=False)
    ref_codes = llm._pq_codes(llm._pq_dists_from(subv, ref_anch))
    assert _rows_set(codes) == _rows_set(ref_codes)


def test_km_arrow_kernel_matches_join_formulation(spark, sf_dir_oracle):
    """Same contract for k-means: the trained centroids equal the join +
    double-groupBy Lloyd loop's (_km_centroids), and the Arrow kernel's
    assignment (incl. the HALF_UP round-before-argmin replica) equals
    _km_assign's."""
    from datafusion_parallelism_spark.queries import llm

    dims, (cids, cent) = llm._km_model(spark, sf_dir_oracle)
    ref_cent = llm._km_centroids(spark, dims)
    got = {
        (int(cid), i + 1, float(cent[k, i]))
        for k, cid in enumerate(cids)
        for i in range(cent.shape[1])
    }
    assert got == _rows_set(ref_cent)
    fast = REGISTRY["vec_kmeans_clusters"].fn(spark, sf_dir_oracle)
    ref = llm._km_assign(dims, ref_cent).select(
        "vec_id", F.col("cid").alias("cluster_id"), "d2"
    )
    assert _rows_set(fast) == _rows_set(ref)


def test_pq_assign_kernel_matches_reference_with_fewer_vectors_than_k(spark):
    """k_eff < K: a corpus of fewer than _PQ_K vectors yields a codebook
    of only k_eff anchors per subspace; the kernel's anchor arrays must
    not pad it with phantom anchors (aid 0 at the origin).  The codebook
    here is the first 4 vectors' subvectors, so the other vectors'
    subvectors (squared norm ~1/M) are often nearer the origin than to
    any real anchor and a phantom would win their argmin."""
    from datafusion_parallelism_spark.queries import llm

    rng = np.random.default_rng(7)
    vecs = spark.createDataFrame(
        [
            (100 + i, [float(x) for x in rng.normal(size=2 * llm._PQ_M)])
            for i in range(llm._PQ_K // 4)
        ],
        schema="vec_id long, embedding array<float>",
    )
    subv = llm._pq_subv(vecs, spark)
    anch = subv.filter(F.col("vec_id") < 104).select(
        "j",
        F.col("vec_id").alias("aid"),
        F.col("e1").alias("a1"),
        F.col("e2").alias("a2"),
    )
    arrays = llm._pq_anchor_arrays(anch.collect())
    codes = llm._pq_assign_arrow(subv, *arrays, include_coords=False)
    ref = llm._pq_codes(llm._pq_dists_from(subv, anch))
    assert _rows_set(codes) == _rows_set(ref)


def test_km_assign_kernel_rejects_vector_split_across_partitions(spark):
    """A dims table whose vec_id partitioning was lost — here vector 2's
    second row sits in another partition, and so does vector 3's, so the
    first partition still holds a multiple of D rows — must fail loudly
    instead of reshaping rows of different vectors into one."""
    from datafusion_parallelism_spark.queries import llm

    part_a = [(1, 1, 0.6), (1, 2, 0.8), (2, 1, 1.0), (3, 1, 0.0)]
    part_b = [(2, 2, 0.0), (3, 2, 1.0)]
    rdd = spark.sparkContext.parallelize([part_a, part_b], 2).flatMap(
        lambda rows: rows
    )
    dims = spark.createDataFrame(rdd, schema="vec_id long, i int, x double")
    cids = np.array([1, 3], dtype=np.int64)
    cent = np.array([[0.6, 0.8], [0.0, 1.0]])
    with pytest.raises(Exception, match="exactly 2 rows"):
        llm._km_assign_arrow(dims, cids, cent).collect()


def test_round_half_up_matches_spark_round(spark):
    """The kernels' rounding replica must agree with Spark's ROUND on the
    decimal-boundary doubles where the exact binary value and the
    shortest decimal repr round differently (2.675 is 2.67499999...)."""
    from datafusion_parallelism_spark.queries.llm import _round_half_up

    xs = [2.675, 1.005, 0.285]
    got = [float(v) for v in _round_half_up(np.array(xs), 2)]
    df = spark.createDataFrame([(x,) for x in xs], schema="x double")
    want = [r[0] for r in df.select(F.round("x", 2)).collect()]
    assert got == want == [2.68, 1.01, 0.29]


@pytest.mark.parametrize("gate", ["pq_train", "km_train"])
def test_training_gate_zero_runs_distributed_trainer_on_empty_corpus(
    spark, tmp_path, monkeypatch, gate
):
    """A training-gate ceiling of 0 always selects the distributed
    trainer — also on an empty corpus (bound 0), where ``bound <=
    ceiling`` alone would still train in one task."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datafusion_parallelism_spark.queries import llm

    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([], pa.int64()),
                "embedding": pa.array([], pa.list_(pa.float32())),
            }
        ),
        tmp_path / "embeddings.parquet",
    )
    local = {"pq_train": "_pq_train_local", "km_train": "_km_train_local"}[gate]
    called = []
    real = getattr(llm, local)
    monkeypatch.setattr(
        llm, local, lambda *a, **k: called.append(local) or real(*a, **k)
    )
    conf = {
        "pq_train": "spark.graft.pq_local_train_max",
        "km_train": "spark.graft.km_local_train_max",
    }[gate]
    prev = spark.conf.get(conf, None)
    spark.conf.set(conf, "0")
    try:
        name = {"pq_train": "vec_pq_codes", "km_train": "vec_kmeans_clusters"}
        assert REGISTRY[name[gate]].fn(spark, str(tmp_path)).collect() == []
    finally:
        if prev is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, prev)
    assert called == []


def test_pq_distributed_training_matches_local(spark, sf_dir_oracle):
    """The one-task trainer (default below the gate) and the distributed
    per-iteration trainer (spark.graft.pq_local_train_max=0) must produce
    the identical codebook, hence identical codes."""
    name = "vec_pq_codes"
    local = _rows_set(REGISTRY[name].fn(spark, sf_dir_oracle))
    prev = spark.conf.get("spark.graft.pq_local_train_max", None)
    spark.conf.set("spark.graft.pq_local_train_max", "0")
    try:
        dist = _rows_set(REGISTRY[name].fn(spark, sf_dir_oracle))
    finally:
        if prev is None:
            spark.conf.unset("spark.graft.pq_local_train_max")
        else:
            spark.conf.set("spark.graft.pq_local_train_max", prev)
    assert local == dist


def test_km_distributed_training_matches_local(spark, sf_dir_oracle):
    name = "vec_kmeans_clusters"
    local = _rows_set(REGISTRY[name].fn(spark, sf_dir_oracle))
    prev = spark.conf.get("spark.graft.km_local_train_max", None)
    spark.conf.set("spark.graft.km_local_train_max", "0")
    try:
        dist = _rows_set(REGISTRY[name].fn(spark, sf_dir_oracle))
    finally:
        if prev is None:
            spark.conf.unset("spark.graft.km_local_train_max")
        else:
            spark.conf.set("spark.graft.km_local_train_max", prev)
    assert local == dist
