"""Streaming ADS brand revenue — the reference's marquee chain
(DWS OrderWide → ADS brand revenue).

Reference: scala/…/dws/OrderWiderApp.scala:117-199 (windowed
stream-stream join + Redis dedup + Redis-running-sum allocation) feeding
scala/…/ads/TradeMarkAmountApp.scala:47-88 (reduceByKey sums, collect()
to the driver, aggregates + offsets in one MySQL transaction).

One per-batch step, `guarded_brand_partial`, serves both runs of the
app: the live topology's ADS stage and the registered drain-and-report
query `streaming_brand_amount`. Per micro-batch:
  1. the co-arrival guard over the batch's (l_orderkey, l_commit_ts):
     the per-batch allocation absorbs an order's full total in each
     fragment of a split order, so a reappearing order key raises;
  2. amount allocation (F1) as window functions over the joined batch
     in the shared `DETAIL_ORDER` (the join window guarantees an
     order's details co-arrive — the same co-arrival assumption the
     reference's Redis design encodes);
  3. broadcast dim enrichment (J5) — the dim is the caller's per-batch
     snapshot, matching the reference's per-batch dim read;
  4. map-side PARTIAL brand sums — only (brand, partial) rows leave
     the batch, the streaming analog of reduceByKey's combiner.
Split-arrival ADS allocates with cross-batch state instead
(streaming/allocation.py) and runs only steps 3-4 (`brand_partial`).
Each caller commits the partial idempotently by batchId (K5
exactly-once contract: a replayed batch re-runs with the same id and
is a no-op) and compacts the partials on its own cadence. Final totals
= re-aggregation of committed partials — associative, so batch
boundaries don't change the answer (oracle-verified).

At 100 TB: per-batch state is bounded by the join watermark; the
partial-sum rows per batch are |brands|, so the commit is tiny no
matter the input rate; the final rollup reads only committed partials.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realtime0523_spark.functions.scalar import round2
from realtime0523_spark.operators.allocation import (
    DETAIL_ORDER,
    allocate_order_amount,
)
from realtime0523_spark.streaming.runner import run_foreach_batch
from realtime0523_spark.streaming.sinks import idempotent_batch_writer


def fold_brand_partials(df: DataFrame) -> DataFrame:
    """Distributive per-brand sum — the same merge the final rollup
    applies, so compacting partials through it cannot change the
    answer."""
    return df.groupBy("p_brand").agg(
        F.sum("partial_amount").alias("partial_amount")
    )


def brand_partial(alloc: DataFrame, part_dim: DataFrame) -> DataFrame:
    """Broadcast brand enrichment of allocated details and their
    per-brand partial sum: `(p_brand, partial_amount)`."""
    brand = F.broadcast(
        part_dim.select(F.col("p_partkey").alias("l_partkey"), "p_brand")
    )
    return (
        alloc.join(brand, "l_partkey", "left")
        .groupBy("p_brand")
        .agg(F.sum("final_detail_amount").alias("partial_amount"))
    )


def guarded_brand_partial(
    rows: DataFrame, batch_id: int, guard, part_dim: DataFrame
) -> DataFrame:
    """One batch of joined order-wide rows → its brand partials: the
    co-arrival `guard` (streaming.allocation.co_arrival_guard) checks
    and records the batch's order keys, then the F1 allocation and
    `brand_partial`. `rows` carries the lineitem detail columns,
    `l_commit_ts` and `o_totalprice`."""
    guard(rows.select("l_orderkey", "l_commit_ts"), batch_id)
    alloc = allocate_order_amount(
        rows,
        order_key="l_orderkey",
        detail_order_by=DETAIL_ORDER,
        weight="l_extendedprice",
        order_total="o_totalprice",
    )
    return brand_partial(alloc, part_dim)


def streaming_brand_amount(
    spark: SparkSession,
    wide_stream: DataFrame,
    part_dim: DataFrame,
    out_dir: str,
    checkpoint_dir: str | None = None,
    no_data_batches: bool = True,
    forbid_watermark_drops: bool = True,
) -> DataFrame:
    """Run the joined order-wide STREAM through allocation + brand
    partial sums with exactly-once commits, drain it, and return the
    final brand totals as a batch DataFrame.

    `wide_stream` must carry lineitem detail columns, `l_commit_ts`
    and `o_totalprice`; `part_dim` is the (small, broadcast) part
    table.

    Completeness is a loud contract by default: the F1 allocation
    assumes ALL of an order's details joined (the cdc_commit_time
    co-arrival contract), so any numRowsDroppedByWatermark raises
    rather than committing a silently short total."""
    from realtime0523_spark.streaming.allocation import co_arrival_guard
    from realtime0523_spark.streaming.compaction import (
        committed_relation,
        maybe_compact,
    )

    commit = idempotent_batch_writer(out_dir)
    base_dir = out_dir.rstrip("/") + "_base"
    guard = co_arrival_guard(
        spark, out_dir.rstrip("/") + "_seen_keys", checkpoint_dir=checkpoint_dir
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # the emptiness check, the guard and the commit share one
        # evaluation of the upstream join instead of re-running it each
        batch_df.persist()
        try:
            if batch_df.isEmpty():
                return
            commit(guarded_brand_partial(batch_df, batch_id, guard, part_dim), batch_id)
        finally:
            batch_df.unpersist()
        maybe_compact(spark, out_dir, base_dir, fold_brand_partials)

    run_foreach_batch(
        wide_stream,
        process,
        checkpoint_dir=checkpoint_dir,
        output_mode="append",
        no_data_batches=no_data_batches,
        forbid_watermark_drops=forbid_watermark_drops,
    )

    partials = committed_relation(spark, out_dir, base_dir)
    if partials is None:  # no batches arrived
        return spark.createDataFrame([], "p_brand string, amount double")
    return partials.groupBy("p_brand").agg(
        round2(F.sum("partial_amount")).alias("amount")
    )
