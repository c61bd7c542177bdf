"""End-to-end streaming ADS pipeline — the reference's marquee chain
(DWS OrderWide → ADS brand revenue) as one Structured Streaming job.

Reference: scala/…/dws/OrderWiderApp.scala:117-199 (windowed
stream-stream join + Redis dedup + Redis-running-sum allocation) feeding
scala/…/ads/TradeMarkAmountApp.scala:47-88 (reduceByKey sums, collect()
to the driver, aggregates + offsets in one MySQL transaction).

Ours, per micro-batch in `foreachBatch`:
  1. amount allocation (F1) as window functions over the joined batch
     (the join window guarantees an order's details co-arrive — the
     same co-arrival assumption the reference's Redis design encodes);
  2. broadcast dim enrichment (J5) — dims re-read per batch, matching
     the reference's per-batch dim snapshot;
  3. map-side PARTIAL brand sums — only (brand, partial) rows leave
     the batch, the streaming analog of reduceByKey's combiner;
  4. idempotent-by-batchId commit (K5 exactly-once contract: a
     replayed batch re-runs with the same id and is a no-op).
Final totals = re-aggregation of committed partials — associative, so
batch boundaries don't change the answer (oracle-verified).

At 100 TB: per-batch state is bounded by the join watermark; the
partial-sum rows per batch are |brands|, so the commit is tiny no
matter the input rate; the final rollup reads only committed partials.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realtime0523_spark.functions.scalar import round2
from realtime0523_spark.operators.allocation import allocate_order_amount
from realtime0523_spark.streaming.runner import run_foreach_batch
from realtime0523_spark.streaming.sinks import idempotent_batch_writer


def fold_brand_partials(df: DataFrame) -> DataFrame:
    """Distributive per-brand sum — the same merge the final rollup
    applies, so compacting partials through it cannot change the
    answer. Shared by this module's drain-and-report pipeline and the
    live topology's ADS stage (one definition, round-11 review)."""
    return df.groupBy("p_brand").agg(
        F.sum("partial_amount").alias("partial_amount")
    )


def streaming_brand_amount(
    spark: SparkSession,
    wide_stream: DataFrame,
    part_dim: DataFrame,
    out_dir: str,
    checkpoint_dir: str | None = None,
    detail_order_by: list[str] | None = None,
    no_data_batches: bool = True,
    forbid_watermark_drops: bool = True,
    compact_every: int = 32,
    guard_ts_col: str | None = None,
    guard_horizon_ms: int | None = None,
) -> DataFrame:
    """Run the joined order-wide STREAM through allocation + brand
    partial sums with exactly-once commits, drain it, and return the
    final brand totals as a batch DataFrame.

    `wide_stream` must carry lineitem detail columns plus
    `o_totalprice`; `part_dim` is the (small, broadcast) part table.

    Completeness is a loud contract by default: the F1 allocation
    assumes ALL of an order's details joined (the cdc_commit_time
    co-arrival contract), so any numRowsDroppedByWatermark raises
    rather than committing a silently short total.

    `guard_ts_col`/`guard_horizon_ms` bound the co-arrival guard's key
    log with an EVENT-TIME horizon (round-11 verdict item #3): pass the
    wide stream's detail commit-time column and horizon ≥ the upstream
    join tolerance + state TTL, and keys whose last-seen event time
    fell that far behind are pruned at compaction — the always-on
    guard's at-rest log stays O(orders inside the horizon), never
    O(total distinct orders). Without them the guard is exact forever
    but grows with run lifetime.
    """
    from realtime0523_spark.streaming.allocation import co_arrival_guard
    from realtime0523_spark.streaming.compaction import (
        committed_relation,
        maybe_compact,
    )

    order_by = detail_order_by or [
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
        "l_extendedprice",
        "l_quantity",
    ]
    commit = idempotent_batch_writer(out_dir)
    base_dir = out_dir.rstrip("/") + "_base"
    # co-arrival contract enforced at runtime (round-9 advice, shared
    # with the topology's ADS stage): a split order would double-count
    # o_totalprice, so a reappearing order key raises instead
    guard = co_arrival_guard(
        spark,
        out_dir.rstrip("/") + "_seen_keys",
        checkpoint_dir=checkpoint_dir,
        horizon_ms=guard_horizon_ms,
        ts_col=guard_ts_col,
    )
    brand_dim = F.broadcast(
        part_dim.select(F.col("p_partkey").alias("l_partkey"), "p_brand")
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # the emptiness check, the guard and the commit share one
        # evaluation of the upstream join instead of re-running it each
        batch_df.persist()
        try:
            if batch_df.isEmpty():
                return
            if guard_ts_col is not None:
                guard(batch_df.select("l_orderkey", guard_ts_col), batch_id)
            else:
                guard(batch_df.select("l_orderkey").distinct(), batch_id)
            alloc = allocate_order_amount(
                batch_df,
                order_key="l_orderkey",
                detail_order_by=order_by,
                weight="l_extendedprice",
                order_total="o_totalprice",
            )
            partial = (
                alloc.join(brand_dim, "l_partkey", "left")
                .groupBy("p_brand")
                .agg(F.sum("final_detail_amount").alias("partial_amount"))
            )
            commit(partial, batch_id)
        finally:
            batch_df.unpersist()
        maybe_compact(spark, out_dir, base_dir, fold_brand_partials, compact_every)

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
