"""The partial-commit drain: every "commit a partial per batch, then
fold" stream twin runs through `drain_partials`.

Each twin reduces its input to a partial relation that MERGES across
any slicing of the stream: additive cells (chi-square, KS, CUSUM, OLS
sums, DDSketch buckets, signed CDC deltas, linkage counts), set-union
presence cells (rolling DAU), mergeable sketches (KMV), anchored
decayed sums, or per-row results whose union is the answer (the
ingest screens). Each micro-batch commits its partial, idempotent by
batchId (the K5 discipline), and the reader merges the committed
partials before running the IDENTICAL finisher the batch query runs.
Batch boundaries, replays and late events cannot change a merge, so
the drained stream equals the batch oracle bit-for-bit.

The drain keeps three rules, the same for every twin:

- COMMIT: a batch's only action is the commit of `partial_fn(batch)`
  through `sinks.idempotent_batch_writer` — no emptiness job and no
  persist. An empty batch commits an empty partial, which every merge
  absorbs.
- COMPACTION: with a `fold` (a merge mapping partials to partials of
  the same schema), every `compaction.COMPACT_EVERY` fresh partials
  fold into one base snapshot through the shared marker-committed
  protocol (streaming/compaction.py), and the reader sees base ∪
  fresh, folded. An always-on monitor then reads at most
  1 + COMPACT_EVERY files per report whatever the horizon, not
  O(batches) (pinned by a 100-micro-batch long-horizon test in
  tests/test_streaming.py). Without a fold the
  drain returns the union of the committed partials: per-row twins,
  whose output grows with their input, would rewrite all their rows
  at every compaction.
- EMPTY RESULT: when no batch committed, the result is `partial_fn`
  (then `fold`) applied to an empty frame of the stream's schema, so
  the empty result comes from the same code as a non-empty one and
  its schema cannot drift.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from realtime0523_spark.streaming.compaction import (
    committed_relation,
    maybe_compact,
)
from realtime0523_spark.streaming.runner import run_foreach_batch
from realtime0523_spark.streaming.sinks import idempotent_batch_writer


def sum_fold(
    key_cols: list[str], sum_cols: list[str]
) -> Callable[[DataFrame], DataFrame]:
    """Distributive exact-long fold for integral cells: sum `sum_cols`
    per `key_cols`. Applied to base ∪ fresh it equals folding all
    history at once, so it is both a compaction fold and the reader's
    merge."""

    def fold(df: DataFrame) -> DataFrame:
        return df.groupBy(*key_cols).agg(
            *[F.sum(c).cast("long").alias(c) for c in sum_cols]
        )

    return fold


def drain_partials(
    stream: DataFrame,
    partial_fn: Callable[[DataFrame], DataFrame],
    out_dir: str,
    fold: Callable[[DataFrame], DataFrame] | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Drain `stream` through per-batch commits of `partial_fn(batch)`
    into `out_dir` and return the merged partials as a batch
    DataFrame: `fold(base ∪ fresh)` with a fold (compacted into
    `<out_dir>_base` on the shared cadence), the union of the
    committed partials without one. See the module docstring for the
    commit, compaction and empty-result rules."""
    spark = stream.sparkSession
    commit = idempotent_batch_writer(out_dir)
    base_dir = out_dir.rstrip("/") + "_base"

    def process(batch_df: DataFrame, batch_id: int) -> None:
        commit(partial_fn(batch_df), batch_id)
        if fold is not None:
            maybe_compact(spark, out_dir, base_dir, fold)

    run_foreach_batch(
        stream,
        process,
        checkpoint_dir=checkpoint_dir,
        output_mode="append",
        no_data_batches=False,
    )
    parts = committed_relation(spark, out_dir, base_dir)
    if parts is None:  # no batch committed
        parts = partial_fn(spark.createDataFrame([], stream.schema))
    return parts if fold is None else fold(parts)
