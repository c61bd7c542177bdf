"""Streaming CUSUM changepoint monitor — the online form of
events_cusum_hourly, and the deployment shape a changepoint detector
actually runs in: the KPI series accretes from the stream, and the
alarm report is always one metadata-sized fold away.

The hourly cell counts are ADDITIVE: a (type, hour) cell hit by three
micro-batches is the sum of three partials. So each batch commits its
|types|x|batch-hours| partial cells (map-side combined, idempotent by
batchId — the K5 discipline), and the reader folds committed partials
into the exact hourly synopsis before running the identical
prefix-sum CUSUM + summary the batch query runs (shared code:
operators/stattests.cusum_summary). Batch boundaries, replays, and
late events therefore CANNOT change the answer — the drained result
equals the batch oracle bit-for-bit.

Monitoring semantics note (inherent, not a defect): the target is the
retrospective whole-series mean, so each new batch can re-anchor
history — this is the exact offline CUSUM continuously recomputed,
the strongest equality a stream can state. A fixed-target online
CUSUM (known reference level) is the same fold with `h`/target
constants swapped in; the state and commit shapes are identical.

At 100 TB / unbounded horizons: per-batch state is zero (stateless
aggregation inside the batch), at-rest state is the |types|x|hours|
cell table, and the CUSUM windows only ever run on that synopsis.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from realtime0523_spark.streaming.cells import drain_partials


def hourly_cents_partials(df: DataFrame) -> DataFrame:
    """Per-(type, hour) integer-cent partial sums — exact longs,
    additive across any slicing of the input. The one corpus-sized
    pass in both the batch query and every micro-batch."""
    return df.groupBy(
        F.col("event_type").alias("k"),
        F.date_trunc("hour", F.col("ts")).alias("t"),
    ).agg(
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("x")
    )


def fold_hourly_partials(partials: DataFrame) -> DataFrame:
    """Fold multi-slice cell partials into the exact hourly series."""
    return partials.groupBy("k", "t").agg(
        F.sum("x").cast("long").alias("x")
    )


def streaming_cusum(
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Drain `stream` through per-batch hourly-cell commits, then
    return the per-type CUSUM alarm report as a batch DataFrame."""
    from realtime0523_spark.operators.stattests import cusum_summary

    return cusum_summary(
        drain_partials(
            stream,
            hourly_cents_partials,
            out_dir,
            fold=fold_hourly_partials,
            checkpoint_dir=checkpoint_dir,
        )
    )
