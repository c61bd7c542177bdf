"""Streaming CDC retraction aggregate — the online form of
operators/retraction.py.

Reference gap: the reference's fact path is insert-only
(scala/…/ods/KafkaToODS_M.scala:53-64), so a correction or
cancellation arriving on the CDC stream after ingestion never reaches
the ADS totals. Here the full changelog (insert/update/delete) flows
through: per micro-batch, change events map to signed deltas and
collapse to per-group partial sums (|groups| rows, map-side combined)
committed idempotently by batchId (K5 exactly-once); the final state
aggregate is a re-aggregation of committed partials. Signed-delta
addition is commutative and associative, so batch boundaries, replays
(no-op by batchId), and reordered change events cannot change the
answer — the drained result equals the batch oracle's full
latest-state recompute.

At 100 TB: per-batch state is zero (the delta map is stateless); the
commit is |groups| rows regardless of input rate; the rollup reads
only committed partials.

BACKFILL / REPLAY DELIVERY CONTRACT (property-tested): for ANY split
of a well-formed changelog into a prefix drained by one incarnation
of the query and a remainder drained by a restarted incarnation from
the same checkpoint — including splits that land MID-KEY (a row's
insert in the prefix, its update/delete in the remainder) — the final
state aggregate equals the batch answer over the whole changelog. Three properties compose to guarantee it:
  1. signed-delta partials are commutative and associative, so WHERE
     batch boundaries fall cannot change the fold;
  2. commits are idempotent by batchId, so a batch replayed after a
     crash-before-checkpoint-ack is a no-op;
  3. the source checkpoint resumes at the committed offset, so no
     changelog row is skipped.
The same argument covers `streaming_retract_join` per side (each
side's partials fold independently; the join runs over folded
partials only). Hypothesis tests parametrizing the split point:
tests/test_streaming.py::test_retract_backfill_any_split_*.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from realtime0523_spark.operators.retraction import (
    finish_retract_aggregate,
    finish_retract_join,
    retract_partials,
)
from realtime0523_spark.streaming.cells import drain_partials, sum_fold


def _drain_signed(
    stream: DataFrame,
    keys: list[str],
    op_col: str,
    new_col: str,
    old_col: str,
    out_dir: str,
    checkpoint_dir: str | None,
) -> DataFrame:
    """Per-batch signed partial sums of `stream` per `keys`, drained
    and folded: (keys..., delta_cents, delta_rows)."""
    return drain_partials(
        stream,
        lambda b: retract_partials(
            b, keys, op_col=op_col, new_col=new_col, old_col=old_col
        ),
        out_dir,
        fold=sum_fold(keys, ["delta_cents", "delta_rows"]),
        checkpoint_dir=checkpoint_dir,
    )


def streaming_retract_aggregate(
    changelog_stream: DataFrame,
    group_cols: list[str],
    out_dir: str,
    checkpoint_dir: str | None = None,
    op_col: str = "op",
    new_col: str = "price_new",
    old_col: str = "price_old",
) -> DataFrame:
    """Drain `changelog_stream` through per-batch signed partial sums
    with exactly-once commits, then return the final per-group state
    aggregate as a batch DataFrame."""
    partials = _drain_signed(
        changelog_stream, group_cols, op_col, new_col, old_col,
        out_dir, checkpoint_dir,
    )
    return finish_retract_aggregate(partials, group_cols)


def streaming_retract_join(
    fact_stream: DataFrame,
    dim_stream: DataFrame,
    key_cols: list[str],
    group_cols: list[str],
    fact_dir: str,
    dim_dir: str,
    checkpoint_root: str,
    fact_value_cols: tuple[str, str] = ("price_new", "price_old"),
    dim_value_cols: tuple[str, str] = ("price_new", "price_old"),
    op_col: str = "op",
) -> DataFrame:
    """Online form of `retract_join_aggregate`: BOTH changelog streams
    drain through per-batch per-key signed partial commits (each
    |keys-touched| rows, idempotent by batchId), and the finishing
    fold + key-summary join runs over committed partials only. The
    two streams never stream-stream join — there is no join state to
    bound, no watermark alignment problem: signed-delta addition is
    commutative and associative across sides, batches, and replays,
    so drain order cannot change the answer (the batch oracle's full
    latest-state join is the equality check)."""
    fp = _drain_signed(
        fact_stream, list(key_cols), op_col, *fact_value_cols,
        fact_dir, f"{checkpoint_root}/fact",
    )
    dp = _drain_signed(
        dim_stream, list(key_cols) + list(group_cols), op_col, *dim_value_cols,
        dim_dir, f"{checkpoint_root}/dim",
    )
    return finish_retract_join(fp, dp, key_cols, group_cols)
