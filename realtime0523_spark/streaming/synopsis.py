"""Streaming synopsis maintenance — the online form of the KMV
distinct-overlap sketch (operators/kmv.py).

The warehouse question ("how much do these audiences overlap, as of
now?") is continuous; rebuilding the synopsis from history per ask is
a full-corpus scan. KMV sketches are MERGEABLE — the k smallest of a
union is computable from the k smallest of the parts — so the online
path commits one bounded partial sketch per micro-batch
(≤ |segments|·k rows regardless of batch size, K5-idempotent by
batchId) and any reader folds the committed partials into the exact
same synopsis a from-scratch build would produce. Merge is
idempotent, commutative, and associative (it is set-union followed by
k-min), so batch boundaries, replays, and late events cannot change
the sketch — the drained result equals the batch oracle exactly.

At 100 TB: per-batch work is batch-sized; the at-rest state is one
compacted sketch plus at most COMPACT_EVERY partial sketches of
|segments|·k rows each (the same merge compacts them); the overlap
report reads only synopses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from realtime0523_spark.operators.kmv import KMV_K, kmv_overlap, kmv_sketch
from realtime0523_spark.streaming.cells import drain_partials, sum_fold


def merge_kmv_partials(partials: DataFrame, k: int = KMV_K) -> DataFrame:
    """Fold committed per-batch partial sketches into the global
    synopsis: per segment, the k smallest distinct hash values across
    all partials — exactly the sketch a single-pass build would
    produce (k-min of a union = k-min of concatenated k-mins)."""
    return (
        partials.groupBy("seg")
        .agg(F.slice(F.array_sort(F.collect_set("v")), 1, k).alias("vs"))
        .select("seg", F.explode("vs").alias("v"))
    )


def streaming_kmv_overlap(
    stream: DataFrame,
    segment_col: str,
    key_col: str,
    out_dir: str,
    checkpoint_dir: str | None = None,
    k: int = KMV_K,
) -> DataFrame:
    """Drain `stream` through per-batch KMV partials with
    exactly-once commits, then fold the committed partials and return
    the all-pairs overlap report as a batch DataFrame."""
    merged = drain_partials(
        stream,
        lambda b: kmv_sketch(b, segment_col, key_col, k=k),
        out_dir,
        fold=lambda p: merge_kmv_partials(p, k=k),
        checkpoint_dir=checkpoint_dir,
    )
    return kmv_overlap(merged, k=k)


def streaming_dd_quantiles(
    stream: DataFrame,
    group_col: str,
    value_col: str,
    quantiles: list[tuple[str, int, int]],
    out_dir: str,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Online DDSketch (operators/ddsketch.py): per micro-batch, one
    bounded partial sketch — (group, bucket, n), ≤|groups|·|buckets|
    rows regardless of batch size — committed idempotently by batchId;
    the reader folds committed partials by plain addition (DDSketch
    merge IS bucket-count addition: commutative, associative, replay-
    safe) into bit-for-bit the single-pass sketch, then answers
    quantiles from the synopsis alone."""
    from realtime0523_spark.operators.ddsketch import dd_quantiles, dd_sketch

    sketch = drain_partials(
        stream,
        lambda b: dd_sketch(b, group_col, value_col),
        out_dir,
        fold=sum_fold(["grp", "bucket"], ["n"]),
        checkpoint_dir=checkpoint_dir,
    )
    return dd_quantiles(sketch, quantiles)
