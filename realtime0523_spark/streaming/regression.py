"""Streaming OLS trend — the online form of events_trend_slope.

The closed-form regression needs only five sums (n, Σx, Σy, Σxy,
Σx²), all associative and commutative: each micro-batch commits its
per-group partial sums (|groups| rows, map-side combined, idempotent
by batchId — the K5 discipline), and the reader folds committed
partials and finishes the slope/intercept algebra on |groups| rows.
Batch boundaries, replays, and late events cannot change the answer;
the drained result equals the batch oracle bit-for-bit because the
final combination runs on identical exact integer sums.

At 100 TB (or an unbounded stream): per-batch state is zero, the
commit is |groups| rows regardless of input rate, and the trend is
always one metadata-sized fold away — the continuously-updated KPI
slope a metric monitor actually wants."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from realtime0523_spark.streaming.cells import drain_partials, sum_fold

# the five OLS sums per group: the compaction fold of the partials
TREND_FOLD = sum_fold(["grp"], ["n", "sx", "sy", "sxy", "sxx"])


def trend_partials(
    df: DataFrame, group_col: str, x: Column, y: Column
) -> DataFrame:
    """Per-group partial sums of the five OLS statistics — exact
    longs, additive across any slicing."""
    b = df.select(F.col(group_col).alias("grp"), x.alias("x"), y.alias("y"))
    return b.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )


def finish_trend(partials: DataFrame, group_col_out: str = "event_type") -> DataFrame:
    """Fold (possibly multi-slice) partials and finish the closed-form
    slope/intercept — identical IEEE combination to the batch query."""
    s = partials.groupBy("grp").agg(
        F.sum("n").cast("long").alias("n_rows"),
        F.sum("sx").cast("double").alias("sx"),
        F.sum("sy").cast("double").alias("sy"),
        F.sum("sxy").cast("double").alias("sxy"),
        F.sum("sxx").cast("double").alias("sxx"),
    )
    n = F.col("n_rows").cast("double")
    den = F.nullif(n * F.col("sxx") - F.col("sx") * F.col("sx"), F.lit(0.0))
    slope_c = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / den
    return s.select(
        F.col("grp").alias(group_col_out),
        "n_rows",
        F.round(slope_c / F.lit(100.0), 9).alias("slope_per_day"),
        F.round(
            ((F.col("sy") - slope_c * F.col("sx")) / n) / F.lit(100.0), 9
        ).alias("intercept"),
    )


def streaming_trend_slope(
    stream: DataFrame,
    group_col: str,
    x: Column,
    y: Column,
    out_dir: str,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Drain `stream` through per-batch OLS partial-sum commits, then
    return the finished per-group trend as a batch DataFrame. `x` and
    `y` must be integral, so the five sums stay exact longs."""
    return finish_trend(
        drain_partials(
            stream,
            lambda b: trend_partials(b, group_col, x, y),
            out_dir,
            fold=TREND_FOLD,
            checkpoint_dir=checkpoint_dir,
        )
    )
