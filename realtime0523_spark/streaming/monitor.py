"""Streaming KPI monitor report — the on-call dashboard maintained
online: ONE reader over the event stream, FOUR committed synopses,
the identical batch composition at read time.

events_monitor_report composes four monitors (OLS trend, CUSUM
changepoint, exact KS drift, Jeffreys value-drift). Every one of them
collapses the corpus to ADDITIVE exact-integer cells (five OLS sums;
hourly cent sums; per-(type, cent) half counts; per-(type, log-bucket)
half counts) — so the whole report streams through the same
partial-cells discipline as each individual twin, but with one crucial
deployment improvement: a SINGLE foreachBatch reads each micro-batch
once (persisted), computes all four cell families from it, and commits
each family idempotently by batchId (K5). One stream, one checkpoint,
one scan per batch — not four readers re-scanning the topic, which is
how a naive twin-per-monitor deployment quadruples broker load.

The finish folds each family's committed partials and runs the SAME
batch finishers (operators/stattests: cusum_summary, ks_2sample,
value_drift_from_cells; streaming/regression: finish_trend) and the
SAME report composition (compose_monitor_report) — so the drained
result equals the batch oracle bit-for-bit: batch boundaries, replays,
and late events cannot change additive integer cells.

At 100 TB / unbounded horizons: per-batch state is zero (all four
collapses are stateless partial aggs inside the batch); the commit per
batch is |types|·(1 + |batch-hours| + NDV(cents) + buckets) rows; the
report is always one metadata-sized fold away — and stays that way on
an always-on run because every `COMPACT_EVERY` batches each family's
partials fold into one base snapshot (shared marker-committed
protocol, streaming/compaction.py; all four folds are distributive
exact-integer merges), bounding the per-report read to 1 +
COMPACT_EVERY files per family instead of O(batches).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realtime0523_spark.operators.stattests import (
    compose_monitor_report,
    cusum_summary,
    ks_2sample,
    ks_month_half_cells,
    value_drift_cells,
    value_drift_from_cells,
)
from realtime0523_spark.streaming.cells import sum_fold
from realtime0523_spark.streaming.changepoint import (
    fold_hourly_partials,
    hourly_cents_partials,
)
from realtime0523_spark.streaming.compaction import (
    committed_relation,
    compact_to_base,
    maybe_compact,
)
from realtime0523_spark.streaming.regression import (
    TREND_FOLD,
    finish_trend,
    trend_partials,
)
from realtime0523_spark.streaming.runner import run_foreach_batch
from realtime0523_spark.streaming.sinks import idempotent_batch_writer

_FOLDS = {
    "trend": TREND_FOLD,
    "cusum": fold_hourly_partials,
    "ks": sum_fold(["key", "v"], ["c1", "c2"]),
    "drift": sum_fold(["domain", "bucket"], ["cnt_a", "cnt_b"]),
}


def streaming_monitor_report(
    spark: SparkSession,
    stream: DataFrame,
    work_dir: str,
    n_drift_buckets: int,
    jeffreys_alert: float,
    trend_epoch: str = "2024-01-01",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Drain the event stream through single-scan four-family cell
    commits, then return the composed per-type monitor report as a
    batch DataFrame (bit-identical to the batch query on the same
    data). Each family's partials compact into a base snapshot every
    `COMPACT_EVERY` batches — flat per-report read cost over an
    always-on run."""
    dirs = {n: os.path.join(work_dir, n) for n in ("trend", "cusum", "ks", "drift")}
    base_dirs = {n: d + "_base" for n, d in dirs.items()}
    commits = {n: idempotent_batch_writer(d) for n, d in dirs.items()}
    x = F.datediff(F.to_date("ts"), F.lit(trend_epoch).cast("date")).cast("long")
    y = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch_df.persist()  # T8: one scan feeds all four collapses
        try:
            commits["trend"](trend_partials(batch_df, "event_type", x, y), batch_id)
            commits["cusum"](hourly_cents_partials(batch_df), batch_id)
            commits["ks"](ks_month_half_cells(batch_df), batch_id)
            commits["drift"](
                value_drift_cells(batch_df, n_drift_buckets), batch_id
            )
        finally:
            batch_df.unpersist()
        # all four families commit in lockstep, so one family's fresh
        # count decides the compaction cadence for all of them
        if maybe_compact(spark, dirs["trend"], base_dirs["trend"], _FOLDS["trend"]):
            for n in ("cusum", "ks", "drift"):
                compact_to_base(spark, dirs[n], base_dirs[n], _FOLDS[n])

    run_foreach_batch(
        stream,
        process,
        checkpoint_dir=checkpoint_dir,
        output_mode="append",
        no_data_batches=False,
    )
    reads = {
        n: committed_relation(spark, dirs[n], base_dirs[n]) for n in dirs
    }
    if any(v is None for v in reads.values()):  # no batches
        return spark.createDataFrame(
            [],
            "event_type string, n_rows long, slope_per_day double, "
            "n_alarms_up long, n_alarms_dn long, first_alarm_hr timestamp, "
            "ks_d double, ks_drifted boolean, jeffreys double, n_alerts long",
        )

    trend = finish_trend(reads["trend"])
    cusum = cusum_summary(_FOLDS["cusum"](reads["cusum"]))
    ks = ks_2sample(_FOLDS["ks"](reads["ks"]))
    drift = value_drift_from_cells(_FOLDS["drift"](reads["drift"]), n_drift_buckets)
    return compose_monitor_report(trend, cusum, ks, drift, jeffreys_alert)
