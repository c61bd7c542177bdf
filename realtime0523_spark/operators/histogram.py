"""Exact equi-depth histogram — the other half of the table-stats
profiler (`lineitem_column_stats` gives null/ndv/min-max; a
cost-based optimizer also wants VALUE DISTRIBUTION for selectivity
estimates, and a data-quality monitor wants it for drift floors).

The naive form is `ntile(k) OVER (ORDER BY v)` — a single-task global
sort, the thing that cannot run at 100 TB. The scalable form observes
that an equi-depth histogram only needs the CUMULATIVE ROW COUNT at
each distinct value:

1. value counts: one partial-agg'd groupBy to |NDV| rows — the corpus
   is touched exactly once and never sorted;
2. exact prefix sums over the value-count table by sampled RANGE
   exchange (the `global_positions` discipline from
   operators/layout.py, generalized from ranks to weighted sums):
   range-partition by value, partition-local running sums, and
   |partitions| per-partition totals folded into broadcast offsets —
   no single-task stage anywhere;
3. bucket id = (rows_before * k) div n in EXACT integer arithmetic
   (replayable in any SQL engine — no float boundary flips), then one
   partial-agg'd groupBy to k rows.

Every value lands wholly in one bucket (value-atomic, like Spark's
own ANALYZE ... FOR COLUMNS equi-height histogram): a heavy hitter
may overfill its bucket — that skew surfacing in `n_rows` is signal,
not error. All stages are |NDV|-sized or smaller after step 1.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from realtime0523_spark.core import gates

HISTOGRAM_BUCKETS = 16


def prefix_sums(
    df: DataFrame,
    order_cols: list,
    value_col: str,
    cum_col: str = "cum_before",
    num_partitions: int | None = None,
) -> tuple[DataFrame, int]:
    """Exact EXCLUSIVE prefix sums of `value_col` in `order_cols`
    order, without a global sort: sampled range exchange +
    partition-local running sums + broadcast per-partition offsets
    (the weighted generalization of layout.global_positions — same
    materialize-once rule: range boundaries are sampled, so the
    partitioned frame is pinned before the offset pass). `order_cols`
    must be a unique total order. Returns (frame + cum_col, total)."""
    if num_partitions is not None:
        d = df.repartitionByRange(num_partitions, *order_cols)
    else:
        d = df.repartitionByRange(*order_cols)
    d = d.sortWithinPartitions(*order_cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    d = d.localCheckpoint()  # pin sampled ranges across both passes
    sizes = sorted(
        (r[0], r[1])
        for r in d.groupBy("__pid").agg(F.sum(value_col)).collect()
    )
    offsets, acc = [], 0
    for p, s in sizes:
        offsets.append((p, acc))
        acc += int(s or 0)
    off = df.sparkSession.createDataFrame(offsets, "__pid int, __off long")
    running = (
        F.sum(value_col)
        .over(
            W.partitionBy("__pid")
            .orderBy(*order_cols)
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        .cast("long")
    )
    out = (
        d.join(F.broadcast(off), "__pid")
        .withColumn(cum_col, F.col("__off") + running - F.col(value_col))
        .drop("__pid", "__off")
    )
    return out, acc


def _equidepth_driver(vc: DataFrame, k: int) -> DataFrame | None:
    """Driver-side numpy finisher for a MEASURED-small value-count
    table (round-14 — the RFM/CC §8 precedent: decide with small
    rows). The distributed finisher pays a sampled range exchange, a
    checkpoint pin, an offsets collect and a window pass to turn the
    |NDV| table into k rows; below the gate the identical integer
    arithmetic ((cum_before * k) div total on exact counts) runs over
    one Arrow collect. Returns None when the driver path cannot
    guarantee the distributed path's ordering semantics (null values,
    non-numeric dtype) — the caller falls back."""
    import numpy as np

    pdf = vc.toPandas()
    if pdf["v"].isna().any() or pdf["v"].dtype.kind not in "iuf":
        return None
    v = pdf["v"].to_numpy()
    cnt = pdf["cnt"].to_numpy(np.int64)
    order = np.argsort(v, kind="stable")  # values are distinct
    v, cnt = v[order], cnt[order]
    total = int(cnt.sum())
    cum = np.cumsum(cnt) - cnt  # exclusive prefix counts
    bucket = (cum * k) // total
    first = np.concatenate([[True], bucket[1:] != bucket[:-1]])
    starts = np.flatnonzero(first)
    ends = np.concatenate([starts[1:], [bucket.size]]) - 1
    rows = [
        (
            int(bucket[s]),
            float(v[s]),
            float(v[e]),
            int(cnt[s : e + 1].sum()),
            int(e - s + 1),
        )
        for s, e in zip(starts, ends)
    ]
    return vc.sparkSession.createDataFrame(
        rows, "bucket int, lo double, hi double, n_rows long, n_distinct long"
    )


def equidepth_histogram(
    df: DataFrame,
    value: Column,
    k: int = HISTOGRAM_BUCKETS,
    num_partitions: int | None = None,
) -> DataFrame:
    """k-bucket exact equi-depth histogram of `value`. Output one row
    per non-empty bucket: bucket (int), lo, hi, n_rows, n_distinct.
    Bucket of a value = (rows_before_it * k) div total — pure integer
    arithmetic on exact cumulative counts. When the measured |NDV|
    passes the `hist_driver` gate the finisher runs driver-side over
    one Arrow collect (bit-identical buckets, pinned by the parity
    test); above it the sampled-range prefix-sum machinery runs
    unchanged."""
    vc = df.select(value.alias("v")).groupBy("v").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # materialize the |NDV| table BEFORE the range exchange: the range
    # partitioner SAMPLES its child, so an unmaterialized vc would run
    # the corpus-sized groupBy twice (once for bounds, once for real)
    vc = vc.localCheckpoint()
    ndv = vc.count()
    if 0 < ndv and gates.small("hist_driver", ndv):
        out = _equidepth_driver(vc, k)
        if out is not None:
            return out
    cum, total = prefix_sums(vc, [F.col("v")], "cnt", num_partitions=num_partitions)
    if total == 0:
        return df.sparkSession.createDataFrame(
            [],
            "bucket int, lo double, hi double, n_rows long, n_distinct long",
        )
    return (
        cum.withColumn(
            "bucket",
            F.expr(f"cast((cum_before * {k}) div {total} as int)"),
        )
        .groupBy("bucket")
        .agg(
            F.min("v").cast("double").alias("lo"),
            F.max("v").cast("double").alias("hi"),
            F.sum("cnt").alias("n_rows"),
            F.count(F.lit(1)).alias("n_distinct"),
        )
    )
