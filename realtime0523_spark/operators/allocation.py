"""Order-amount allocation (分摊) — SURVEY §2.10 F1.

Reference semantics (scala/…/dws/OrderWiderApp.scala:148-199): an
order's paid total `final_total_amount` is distributed across its
detail rows proportionally to `sku_num*sku_price / original_total`,
each share rounded to 2 decimals, and the LAST detail row takes the
remainder (total − Σ previous rounded shares) so shares sum exactly to
the paid total. The reference detects the last row with running sums
kept in Redis and a float-equality test (OrderWiderApp.scala:181) —
arrival-order dependent. We instead define a deterministic order
(the detail key) and formulate the whole thing as window functions:
one shuffle on the order key, no external state, linear scale-out.

Documented divergences (SURVEY §7.4): deterministic ordering replaces
arrival order; the last row uses double division (the reference's
integer-division truncation at :183 is a bug, not a semantic).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from realtime0523_spark.functions.scalar import round2

# The F1 detail order: a deterministic total order within an order
# group. l_linenumber is NOT unique per order in the lineitem data, so
# tiebreakers are required, and the order decides which detail takes
# the remainder — every allocation caller and oracle must share it.
DETAIL_ORDER = ["l_linenumber", "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"]


def allocate_order_amount(
    details: DataFrame,
    order_key: str,
    detail_order_by: list[str],
    weight: Column | str,
    order_total: Column | str,
    out_col: str = "final_detail_amount",
) -> DataFrame:
    """Add `out_col`: the detail row's allocated share of `order_total`.

    `detail_order_by` must be a total order within each order group
    (pass tiebreaker columns) — the reference leaves this implicit
    (arrival order); we make it deterministic.

    Invariant (tested): per order with all details present,
    Σ out_col == round2(order_total).

    Plan shape: one hash-partition + one sort on the order key feeds
    every window here (same Window family → a single Exchange+Sort in
    the physical plan). At 100 TB this is one shuffle keyed by order —
    the natural partitioning for every downstream per-order op.
    """
    weight_c = F.col(weight) if isinstance(weight, str) else weight
    total_c = F.col(order_total) if isinstance(order_total, str) else order_total

    by_order = W.partitionBy(order_key)
    ordered = by_order.orderBy(*detail_order_by)

    # Stage the proportional share as a real column first: window
    # functions can't nest (same restriction in DuckDB), and staging
    # keeps the two engines' evaluation order identical.
    staged = (
        details.withColumn("__prop", round2(total_c * weight_c / F.sum(weight_c).over(by_order)))
        .withColumn("__rn", F.row_number().over(ordered))
        .withColumn("__n", F.count(F.lit(1)).over(by_order))
    )
    prev_sum = F.coalesce(
        F.sum("__prop").over(ordered.rowsBetween(W.unboundedPreceding, -1)),
        F.lit(0.0),
    )
    share = F.when(
        F.col("__rn") == F.col("__n"), round2(total_c - prev_sum)
    ).otherwise(F.col("__prop"))
    return staged.withColumn(out_col, share).drop("__prop", "__rn", "__n")


# The DuckDB-oracle formulation of this operator lives next to the
# query inventory (realtime0523_spark/plans/inventory.py) — it must be
# staged in two SELECT levels because window calls cannot nest.


def attribute_linear(
    conversions: DataFrame,
    touches: DataFrame,
    key: str,
    window_us: int,
    conv_id: str = "conv_id",
    conv_ts: str = "conv_ts_us",
    conv_value_cents: str = "value_cents",
    touch_id: str = "touch_id",
    touch_ts: str = "touch_ts_us",
) -> DataFrame:
    """Linear multi-touch attribution with the allocation operator's
    EXACT-SUM discipline: each conversion's integer-cent value splits
    equally across the same key's (e.g. user's) touches inside the
    lookback window (conv_ts − window < touch_ts ≤ conv_ts); every
    touch gets value_cents div n and the LAST touch (latest ts,
    then largest id — a deterministic total order, like F1's detail
    key) additionally takes the remainder, so per conversion
    Σ credit_cents == value_cents EXACTLY — in integers, no float
    drift for money (the same last-row-remainder contract as
    allocate_order_amount).

    Returns (conv_id, touch_id, n_touches, credit_cents).
    Conversions with no in-window touch are absent (report them
    separately as unattributed).

    Scale shape: one equi-join on the key with the window as a band
    predicate (per-key fan-out bounded by touch rate × window), then
    one window over the conversion id — every shuffle on `key` or
    the conversion id."""
    c = conversions.select(
        F.col(key).alias("__k"),
        F.col(conv_id).alias("conv_id"),
        F.col(conv_ts).alias("__cts"),
        F.col(conv_value_cents).alias("__cents"),
    )
    t = touches.select(
        F.col(key).alias("__k"),
        F.col(touch_id).alias("touch_id"),
        F.col(touch_ts).alias("__tts"),
    )
    joined = c.join(t, "__k").filter(
        (F.col("__tts") <= F.col("__cts"))
        & (F.col("__tts") > F.col("__cts") - F.lit(window_us))
    )
    by_conv = W.partitionBy("conv_id")
    ordered = by_conv.orderBy(F.desc("__tts"), F.desc("touch_id"))
    staged = joined.withColumn("__n", F.count(F.lit(1)).over(by_conv)).withColumn(
        "__last", F.row_number().over(ordered) == 1
    )
    base = F.expr("__cents div __n")
    credit = F.when(
        F.col("__last"), base + F.col("__cents") % F.col("__n")
    ).otherwise(base)
    return staged.select(
        "conv_id",
        "touch_id",
        F.col("__n").cast("long").alias("n_touches"),
        credit.cast("long").alias("credit_cents"),
    )
