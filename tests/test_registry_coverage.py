"""Meta-guard: every oracle-bearing registry query must be exercised by a
local oracle test, so a green local suite predicts a green driver gate
(a query slipping through the per-family name filters is a test bug)."""

from datafusion_parallelism_spark.queries import REGISTRY

#: prefix → test file that sweeps it with compare_to_oracle
COVERED_PREFIXES = (
    "tpch_",      # tests/test_tpch_queries.py
    "join_",      # tests/test_join_queries.py
    "window_", "rollup_", "cube_", "grouping_", "setop_", "events_",
    "agg_", "scalar_", "merge_", "mix_",  # tests/test_analytics_queries.py
    "text_", "dedup_", "ann_", "corpus_", "vec_",  # tests/test_llm_queries.py
    "stream_",    # tests/test_streaming_queries.py
    "source_",    # tests/test_io_roundtrip.py
    "graph_",     # tests/test_graph_operators.py
)
#: individually tested elsewhere
EXPLICIT = {
    "mm_assets_summary",        # tests/test_multimodal.py
    "mm_audio_wav_features",    # tests/test_multimodal.py (real WAV codec)
    "mm_image_bmp_stats",       # tests/test_multimodal.py (real BMP codec)
    "mm_resize_images",         # tests/test_multimodal.py (checksum oracle)
    "mm_image_features",        # tests/test_multimodal.py (migrated r4: real codecs)
    "mm_frame_sample",          # tests/test_multimodal.py (migrated r4: VID0 codec)
    "mm_audio_features",        # tests/test_multimodal.py (migrated r4: WAV sawtooth)
    "events_asof_last_click",   # tests/test_asof_join.py (also events_ sweep)
    "events_interval_first6h",  # tests/test_interval_join.py (also events_ sweep)
}


def test_every_oracle_query_is_locally_tested():
    uncovered = [
        n
        for n, spec in REGISTRY.items()
        if spec.oracle is not None
        and not n.startswith(COVERED_PREFIXES)
        and n not in EXPLICIT
    ]
    assert not uncovered, (
        f"queries with oracles but no local oracle test: {uncovered} — "
        "add their prefix to a sweep or an explicit test"
    )


def test_conf_inventory_is_the_reviewed_set():
    """Every ``spark.graft.*`` conf and ``SPARK_GRAFT_*`` env var the
    package mentions.  A conf that only brings back a superseded
    formulation for an A/B run is a second code path to keep alive; a new
    knob must be added here on purpose.  Surviving confs: the five
    single-task kernel gates (plans/shaping.KERNEL_GATES); env vars:
    deployment only."""
    import pathlib
    import re

    import datafusion_parallelism_spark

    root = pathlib.Path(datafusion_parallelism_spark.__file__).parent
    text = "\n".join(p.read_text() for p in sorted(root.rglob("*.py")))
    confs = set(re.findall(r"spark\.graft\.([a-z0-9_]+)", text))
    env = set(re.findall(r"SPARK_GRAFT_([A-Z0-9_]+)", text))
    assert confs == {
        "pagerank_local_max_edges",
        "cc_local_max_edges",
        "tri_local_max_edges",
        "pq_local_train_max",
        "km_local_train_max",
    }, confs
    assert env == {"SF_DIR", "CPUS", "DRIVER_MEM"}, env
