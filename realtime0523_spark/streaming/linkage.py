"""Streaming record linkage — the online form of operators/linkage.py,
and the deployment shape entity resolution actually runs in: the base
registry is AT REST, the second feed ARRIVES; every new record must be
matched as it lands, not in a nightly n²-ish batch.

Per micro-batch: the batch's records block-join the static base (the
batch side is small — Spark broadcasts it into the base scan), the
integer agreement scores decide links, and the per-nation counts
(candidates, links, true links) are committed idempotently by batchId
(K5 exactly-once). Each feed record lands in exactly one batch and
counts are additive, so the drained fold over committed partials
equals the all-at-once batch report — replays are no-ops, batch
boundaries cannot change the answer.

At 100 TB: per-batch cost is the batch's block-join fan-out (blocking
keeps it ∝ batch size, never |base|·batch); the at-rest state is
one compacted |nations|-row base plus at most COMPACT_EVERY partials."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from realtime0523_spark.operators.linkage import LINK_THRESHOLD, link_candidates
from realtime0523_spark.streaming.cells import drain_partials, sum_fold


def _link_partials(base: DataFrame, batch: DataFrame, threshold: int) -> DataFrame:
    """Per-nation (candidates, links, true links) for one feed slice."""
    return (
        link_candidates(base, batch, threshold=threshold)
        .groupBy("nationkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
            F.sum(F.when(F.col("is_link"), 1).otherwise(0))
            .cast("long")
            .alias("n_links"),
            F.sum(
                F.when(
                    F.col("is_link") & (F.col("left_key") == F.col("right_key")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_true_links"),
        )
    )


def streaming_record_linkage(
    base: DataFrame,
    feed_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str | None = None,
    threshold: int = LINK_THRESHOLD,
) -> DataFrame:
    """Drain the dirty feed through per-batch blocked matching against
    the static `base`, committing per-nation partial counts; return
    the folded per-nation report as a batch DataFrame."""
    return drain_partials(
        feed_stream,
        lambda b: _link_partials(base, b, threshold),
        out_dir,
        fold=sum_fold(["nationkey"], ["n_candidates", "n_links", "n_true_links"]),
        checkpoint_dir=checkpoint_dir,
    )
