"""CDC router — SURVEY §2.3 P9/P10 (ODS layer).

Reference: scala/…/ods/KafkaToODS_M.scala:45-71 — per record: keep iff
`data` non-empty AND (fact tables only on type=='insert'; dim tables
on any op), then produce to topic `"ods_" + table`.

Our shape: one declarative filter + a `topic` column. The Kafka sink
routes on the `topic` column natively (built-in fan-out — no
per-record producer loop); the topology's ODS stage writes the routed
rows partitioned by topic, which at 100 TB is a partitioned-table
write with per-topic pruning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

FACT_TABLES_INSERT_ONLY = ("order_info", "order_detail")
DIM_TABLES_ANY_OP = (
    "base_province",
    "user_info",
    "sku_info",
    "base_trademark",
    "base_category3",
    "spu_info",
)


def router_predicate(
    fact_tables: tuple[str, ...] = FACT_TABLES_INSERT_ONLY,
    dim_tables: tuple[str, ...] = DIM_TABLES_ANY_OP,
) -> Column:
    """P9: `data` present and non-empty, fact tables insert-only, dim
    tables any op (KafkaToODS_M.scala:53-64)."""
    has_data = F.col("data").isNotNull() & (F.size(F.col("data")) > 0)
    keep_fact = F.col("table").isin(*fact_tables) & (F.col("type") == "insert")
    keep_dim = F.col("table").isin(*dim_tables)
    return has_data & (keep_fact | keep_dim)


def route_cdc(envelope: DataFrame) -> DataFrame:
    """Filter + add `topic` = 'ods_<table>' (P10). Works on both batch
    and streaming DataFrames."""
    return envelope.filter(router_predicate()).withColumn(
        "topic", F.concat(F.lit("ods_"), F.col("table"))
    )

