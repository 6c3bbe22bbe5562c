"""Shared-key pair counting: the inverted-index self-joins that count, for
each pair of items, how many keys they share.

The dedup scorers (shingles, winnowing fingerprints) and the co-purchase
graph (orders) all join an (item, key) index with itself on the key and
count each (a < b) pair's rows.  The cost is Σ df(key)² pair rows, so one
policy decides how these joins scale, and this module is its only owner:

1. drop hot keys (``drop_hot_keys``) — a key in df items alone emits df²
   pairs; the df count is a window over the key partitioning the join
   needs anyway, so the cap costs zero extra exchanges;
2. self-join on the key with ``a.item < b.item`` (each unordered pair
   once, no self-pairs) — ``shared_key_pair_counts``;
3. route the pair rows through a pair-keyed exchange BELOW the count
   aggregate (``_stream_pairs``);
4. choose that exchange's width (``data_ahead_width`` or the session
   width).

Callers own the index: its repartition on the key (the width of which is
``_pair_parallelism``) and any checkpoint between the cap and the join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _pair_parallelism(spark: SparkSession) -> int:
    """Width for the blocked pair self-joins' explicit key repartitions:
    max(cores, session shuffle width).  defaultParallelism alone (the
    pre-round-10 choice) is a FIXED 32 on any corpus — at the x256
    replica the session's data-proportional width is 128, and pinning
    the index to 32 starved the join stages to a quarter of the
    intended parallelism with 4x the per-task aggregate state.  The
    session conf scales with input bytes (session.auto_shuffle_partitions)
    and AQE coalesces any excess at small factors; the cores floor keeps
    the historical fan-out guarantee (shingle explode ~50x the input
    bytes the conf was sized from)."""
    return max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions")),
    )


#: Pair-stream exchange width as a multiple of the session width (see
#: _stream_pairs).
_PAIR_WIDTH_FACTOR = 4


def data_ahead_width(spark: SparkSession) -> int:
    """The 4× pair-exchange width: _PAIR_WIDTH_FACTOR × _pair_parallelism
    (see _stream_pairs for which streams use it and why)."""
    return _PAIR_WIDTH_FACTOR * _pair_parallelism(spark)


def drop_hot_keys(index: DataFrame, key: str, max_df: int) -> DataFrame:
    """``index`` without the rows whose ``key`` occurs in more than
    ``max_df`` rows.  The count is a window over ``key``: when the caller
    has already repartitioned the index on ``key`` for the self-join, the
    window rides that partitioning and the cap adds no exchange.  Measured
    as the cheapest cap formulation on the co-purchase baskets (+0.2 s at
    sf0.1 vs +0.6 s for a groupBy-sizes + broadcast-anti variant, whose
    extra aggregation pass costs more than the window's in-partition
    sort)."""
    return (
        index.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy(key)))
        .filter(F.col("df") <= max_df)
        .drop("df")
    )


def shared_key_pair_counts(
    index: DataFrame,
    key: str,
    item: str,
    width: int | None = None,
    names: tuple[str, str, str] = ("doc_a", "doc_b", "c"),
) -> DataFrame:
    """(a, b, count) for every pair of ``item`` values with a < b that
    share at least one ``key`` in ``index``, count = number of shared
    keys (``index`` holds distinct (item, key) rows).  ``names`` names
    the three output columns.  The pairs stream through a pair-keyed
    exchange of ``width`` partitions below the count (``width=None``: the
    session width) — see _stream_pairs."""
    x, y, n = names
    a, b = index.alias("a"), index.alias("b")
    pairs = a.join(
        b,
        (F.col(f"a.{key}") == F.col(f"b.{key}"))
        & (F.col(f"a.{item}") < F.col(f"b.{item}")),
    ).select(F.col(f"a.{item}").alias(x), F.col(f"b.{item}").alias(y))
    return _stream_pairs(pairs, width).groupBy(x, y).agg(F.count(F.lit(1)).alias(n))


def _stream_pairs(pairs: DataFrame, width: int | None = None) -> DataFrame:
    """Route a Σ df(key)² candidate-pair stream (pair columns first)
    through a pair-keyed exchange BEFORE its count aggregate (round 10).
    A plain groupBy plans a map-side partial aggregate in the join stage,
    and the x256 stage counters showed what that costs: a pair sharing n
    keys lands in ~n DIFFERENT key partitions, so on dedup_winnow_spans
    the partial agg only combined 2.0G pair rows to 793M (2.5x) while its
    per-task hash map exceeded the task's memory share and fell back to
    sort-based aggregation — 90.5 GB of memory spill, re-sorting the
    entire pair stream (the r9 ledger's #2 item, attributed to the pair
    stage, not the fingerprint window); 28.6 GB on dedup_ngram_jaccard's
    pair stage alone.  Co-purchase pairs repeat once per SHARED ORDER,
    usually 1-2 times across different order partitions, so the partial
    aggregate combined ~nothing there either (the 10.4 GB x256 spill in
    the triangle setup stage, docs/spill_ledger_r10.jsonl).  With the
    exchange below the aggregate, the join stage hash-routes pair rows
    straight to the shuffle (no sort, no map) and each reduce task counts
    only its own pairs — bounded state at any corpus size.

    Width.  ``data_ahead_width`` (_PAIR_WIDTH_FACTOR × session width,
    r10) is used by three streams: dedup_ngram_jaccard,
    dedup_containment and dedup_winnow_hot_spans.  A column-only
    repartition inherits spark.sql.shuffle.partitions, which is sized
    from INPUT bytes — but the pair stream is Σ df², superlinear in
    input, so the reduce-side count aggregate's hash map grows per-task
    with scale (dedup_containment x64 ledger: 35 tasks, 30 GB aggregate
    peak ≈ 0.9 GB/task, 46 GB memory-spill under 32-concurrent-task pool
    contention).  AQE can coalesce an oversized exchange but can never
    SPLIT an undersized one, so the width must start data-ahead; the ×4
    buys one decade of pair-volume growth and costs only smaller tasks
    where the stream is small.  ``width=None`` (the session width, a
    column-only repartition) is what the other two streams use:
    dedup_winnow_spans and co-purchase edges (graph_triangle_counts).
    Moving them to the 4× width is a plan change that needs its own
    paired x64/x256 A/B.  An explicit width plans a REPARTITION_BY_NUM
    shuffle, which AQE's partition coalescing does not touch: at sf0.01
    the dedup_ngram_jaccard pair stage ran all 4× partitions with no
    AQEShuffleRead, while dedup_winnow_spans' column-only exchange was
    coalesced."""
    cols = pairs.columns[:2]
    if width is None:
        return pairs.repartition(*cols)
    return pairs.repartition(width, *cols)
