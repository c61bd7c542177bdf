"""Streaming DWD order pipeline — the reference's marquee composition
(SURVEY §2: P3+P11+O2, J4/J5/J7, K2/K3, T7/T8, D3 write-back).

Reference: scala/…/dwd/Ods_to_DWD_order_info.scala:29-245 — per 5 s
batch: parse order CDC, flag `if_first_order` via a Phoenix
`user_status0523` IN-lookup, demote all but the earliest order when a
user places several in ONE batch, enrich province (whole-dim broadcast
per batch) + user (per-partition IN-list), then cache and fan out to
Phoenix (first-timer write-back), Kafka (dwd topic), and a daily ES
index keyed by order id.

Ours, per micro-batch in `foreachBatch`:
  1. membership lookup against the latest committed snapshot of the
     user-status dim (`sinks.versioned_dim_upsert` store): the
     batch's (small) key set is broadcast against the status scan —
     the J4 batched-IN shape; the matched subset is then broadcast
     back onto the batch. The status store scan is partition-prunable
     by key layout; on a cluster an indexed KV (the reference's
     HBase) slots in behind the same two-join shape.
  2. first-order flag + same-batch correction in ONE window pass:
     flag=1 iff the user is absent from the status dim AND the row is
     the user's event-time-earliest in this batch (row_number over
     (user) ordered by (ts, id) == 1) — the reference's groupByKey +
     sortWith re-expressed declaratively.
  3. broadcast dim enrichment (J5/J7): customer + nation.
  4. T8 fan-out on the persisted batch: the daily-index K3 sink (dt
     partition, order-id doc id) standing in for Kafka+ES, and the K2
     status write-back — which is what makes a user's second-ever
     order in a LATER batch arrive flagged 0. The write-back commits
     a new dim version per batch, so a failure mid-merge leaves the
     previous snapshot readable and the replayed batch re-merges.

Flag semantics across batches are arrival-order (a user is "new" until
a batch containing them commits), exactly the reference's contract;
within one batch, event-time order. With the whole input in one batch
the output equals the batch-SQL first-order oracle — the
driver-checkable contract.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from realtime0523_spark.streaming.runner import run_foreach_batch
from realtime0523_spark.streaming.sinks import (
    daily_partitioned_idempotent_sink,
    fanout_sinks,
    latest_dim_version,
    versioned_dim_upsert,
)


def streaming_dwd_order(
    spark: SparkSession,
    orders_stream: DataFrame,
    customer_dim: DataFrame,
    nation_dim: DataFrame,
    work_dir: str,
    user_key: str = "o_custkey",
    ts_col: str = "o_orderdate",
    id_col: str = "o_orderkey",
    index_granularity: str = "day",
    no_data_batches: bool = True,
) -> DataFrame:
    """Run the DWD order pipeline to completion and return the
    committed index contents (doc-id deduped).

    `index_granularity`: physical partition-dir granularity of the K3
    index — "day" (the reference's daily ES index; right for a live
    5 s cadence where each batch spans one day) or "month" (for
    historical replays where one batch spans years — a parquet writer
    per partition dir makes thousands of day dirs the bottleneck,
    measured 51 s vs 2.5 s on a 7-year replay batch). The per-record
    `order_dt` day column is stored either way, so day-level queries
    prune by column stats when dirs are monthly."""
    if index_granularity not in ("day", "month"):
        raise ValueError(f"index_granularity must be day|month, got {index_granularity!r}")
    part_col = "order_dt" if index_granularity == "day" else "order_month"
    status_dir = os.path.join(work_dir, "user_status")
    index_dir = os.path.join(work_dir, "dwd_order_index")
    ckpt_dir = os.path.join(work_dir, "ckpt")

    cust = F.broadcast(
        customer_dim.select(
            F.col("c_custkey"), F.col("c_name"), F.col("c_nationkey")
        )
    )
    nat = F.broadcast(
        nation_dim.select(
            F.col("n_nationkey").alias("c_nationkey"),
            F.col("n_name").alias("nation_name"),
        )
    )
    index_write, index_read = daily_partitioned_idempotent_sink(
        index_dir, dt_col=part_col, id_cols=[id_col]
    )

    def write_back(batch_df: DataFrame, batch_id: int) -> None:
        firsts = (
            batch_df.filter(F.col("if_first_order") == 1)
            .select(
                F.col(user_key).alias("user_id"),
                F.lit(1).alias("if_consumed"),
                F.lit(batch_id).alias("version"),
            )
        )
        if firsts.isEmpty():
            return
        versioned_dim_upsert(
            spark, firsts, status_dir, key_cols=["user_id"],
            version_col="version", commit_id=batch_id,
        )

    fan_out = fanout_sinks(index_write, write_back)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # 1. membership lookup (J4 batched-IN shape)
        status = latest_dim_version(spark, status_dir)
        if status is not None:
            keys = batch_df.select(F.col(user_key).alias("user_id")).distinct()
            known = (
                status.join(F.broadcast(keys), "user_id", "left_semi")
                .select(F.col("user_id").alias(user_key), F.lit(1).alias("__known"))
            )
            flagged_in = batch_df.join(F.broadcast(known), user_key, "left")
        else:
            flagged_in = batch_df.withColumn("__known", F.lit(None).cast("int"))
        # 2. flag + same-batch correction in one window pass
        w = W.partitionBy(user_key).orderBy(ts_col, id_col)
        enriched = (
            flagged_in.withColumn("__rn", F.row_number().over(w))
            .withColumn(
                "if_first_order",
                F.when(
                    F.col("__known").isNull() & (F.col("__rn") == 1), F.lit(1)
                ).otherwise(F.lit(0)).cast("int"),
            )
            .drop("__known", "__rn")
            # 3. broadcast dim enrichment (J5/J7)
            .join(cust, F.col(user_key) == F.col("c_custkey"), "left")
            .join(nat, "c_nationkey", "left")
            .withColumn("order_dt", F.date_format(ts_col, "yyyy-MM-dd"))
            .drop("c_custkey", "c_nationkey")
        )
        if part_col == "order_month":
            enriched = enriched.withColumn(
                "order_month", F.date_format(ts_col, "yyyy-MM")
            )
        # 4. persist + multi-sink fan-out (T8)
        fan_out(enriched, batch_id)

    run_foreach_batch(
        orders_stream,
        process,
        checkpoint_dir=ckpt_dir,
        output_mode="append",
        no_data_batches=no_data_batches,
    )
    if not os.path.exists(index_dir):
        raise ValueError("no batches arrived — empty DWD index")
    return index_read(spark)
