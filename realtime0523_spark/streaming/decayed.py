"""Anchor-advancing exponentially-decayed aggregates — the unbounded-
time-horizon upgrade of `stream_trending_decayed`.

The fixed-anchor fold (plans/inventory.q_stream_trending_decayed)
computes every event's weight 2^(−(T_ref − ts)/half_life) against one
anchor chosen up front. That is exactly additive, but a stream that
runs FOREVER cannot pick its anchor up front: with an ancient anchor,
fresh events' ages grow without bound and their weights underflow to
0.0 — the stream silently stops counting.

The fix is the standard anchor-advance identity: the decayed sum is
equivariant under anchor shifts,

    Σ 2^(−(T' − ts)/hl)  =  2^(−(T' − T)/hl) · Σ 2^(−(T − ts)/hl)

so each micro-batch weights its events against its OWN anchor (the
batch max event time — every in-batch age is batch-spanned, no
underflow ever), records that anchor beside the partial, and the
reader rescales every partial to the newest anchor when it folds
them. Rescaling is metadata-sized work (one multiply per key per
batch-partial, never a re-scan of events); a LIVE deployment that
compacts its partials applies the same multiply to the compacted row
whenever it advances the anchor. A partial whose anchor is ancient
relative to the final one rescales toward 0 — which is its true
contribution; precision is spent where the mass is, on recent data.

Exactness note (the repo's 9-dp contract): with one anchor the
two-step product equals the direct weight bit-for-bit only up to
float rounding (≤ a couple of ulp, ~1e-16 relative — far below the
9-dp quantization every decayed output is rounded to; the BM25-idf
argument). When the whole drain lands in one micro-batch the anchor
equals the corpus max and the computation is LITERALLY the batch
expression, so the driver oracle row stays exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from realtime0523_spark.streaming.cells import drain_partials


def run_decayed_partials(
    stream: DataFrame,
    key_col: str,
    ts_col: str,
    half_life_s: int,
    out_dir: str,
) -> DataFrame:
    """Drain `stream` through per-batch decayed partials
    (key, n, w, anchor_us) committed to `out_dir`; returns the
    committed partials. Each batch's anchor is its own max event time,
    so in-batch weights never underflow however long the stream runs.
    No compaction fold: rescaling to a newer anchor is not a
    schema-preserving merge of the partials."""
    hl_us = F.lit(half_life_s * 1e6)

    def partial(batch_df: DataFrame) -> DataFrame:
        anchor_us = (
            batch_df.agg(F.max(F.unix_micros(F.col(ts_col)))).first()[0]
        )
        age_us = (F.lit(anchor_us) - F.unix_micros(F.col(ts_col))).cast(
            "double"
        )
        weight = F.pow(F.lit(0.5), age_us / hl_us)
        return batch_df.groupBy(key_col).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(weight).alias("w"),
            # typed even when an empty batch has no anchor
            F.lit(anchor_us).cast("long").alias("anchor_us"),
        )

    return drain_partials(stream, partial, out_dir)


def decayed_totals(
    parts: DataFrame, key_col: str, half_life_s: int
) -> DataFrame:
    """Fold drained partials to (key, n_events, decayed_count):
    every partial rescales to the NEWEST anchor by the anchor-shift
    identity, then sums. |keys × batches| rows of arithmetic — the
    events are never re-read."""
    hl_us = F.lit(half_life_s * 1e6)
    final = parts.agg(F.max("anchor_us")).first()[0]
    shift = F.pow(
        F.lit(0.5),
        (F.lit(final) - F.col("anchor_us")).cast("double") / hl_us,
    )
    return parts.groupBy(key_col).agg(
        F.sum("n").cast("long").alias("n_events"),
        F.round(F.sum(F.col("w") * shift), 9).alias("decayed_count"),
    )
