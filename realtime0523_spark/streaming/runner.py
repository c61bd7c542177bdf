"""Synchronous drivers for streaming queries (test/bench harness).

`processAllAvailable()` drains every pending micro-batch — the
file-source equivalent of the reference's `ssc.start();
awaitTermination()` loop, but bounded, so correctness queries can be
compared against batch oracles.

Shuffle sizing: stateful streaming operators (joins, dedup, windowed
aggs) create one state-store instance per shuffle partition per
micro-batch; with small batches the per-instance fixed cost dominates
(measured ~2.5× end-to-end on the sf0.01 stream-stream join). The
runners therefore pin `spark.sql.shuffle.partitions` to
SPARK_GRAFT_STREAM_SHUFFLE (default 8) while a stream runs and restore
it afterwards. On a real cluster this knob must instead be sized to
state volume / executor count — the state partition count is fixed at
the first run of a checkpoint, which is why it is explicit here rather
than left to the batch default.

Checkpoint manager: the runners also select Spark's FileSystem-based
checkpoint file manager. The default, FileContext-based one renames
each offset, commit and source-log entry, each state-store delta and
each checksum file through `FileContext.rename`, whose existence check
(`getFileLinkStatus`) starts a `readlink` child process on a local
filesystem without the native Hadoop library: thousands of forks in
a catch-up of a few seconds. On a local filesystem both managers do
the same thing, check that the target is absent and then `rename(2)`,
so the commit semantics are unchanged. Every caller checkpoints to a
local directory (the topology's bus is itself built on `os.replace`).
"""

from __future__ import annotations

import os
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


# HDFS-backed (default) keeps every state row on the JVM heap — fine
# while state is small; RocksDB moves state off-heap with incremental
# checkpointing, the right provider once keyed state stops fitting in
# executor memory (the 100 TB first-seen/dedup stores). Selected per
# run via SPARK_GRAFT_STATE_STORE=rocksdb; correctness is
# provider-independent (asserted in tests/test_streaming.py).
_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


@contextmanager
def _stream_shuffle(spark: SparkSession, no_data_batches: bool = True):
    overrides = {
        "spark.sql.shuffle.partitions": os.environ.get(
            "SPARK_GRAFT_STREAM_SHUFFLE", "8"
        ),
        "spark.sql.streaming.noDataMicroBatches.enabled": str(
            no_data_batches
        ).lower(),
        # the watermark-drop audit reads recentProgress after the drain;
        # the default retention (100) would silently hide drops in longer
        # drains (e.g. maxFilesPerTrigger=1 over many files)
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
        "spark.sql.streaming.checkpointFileManagerClass": _CHECKPOINT_MANAGER,
    }
    if os.environ.get("SPARK_GRAFT_STATE_STORE", "").lower() == "rocksdb":
        overrides["spark.sql.streaming.stateStore.providerClass"] = (
            _ROCKSDB_PROVIDER
        )
    prev = {k: spark.conf.get(k, None) for k in overrides}
    for k, v in overrides.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def watermark_drops(q) -> int:
    """Total `numRowsDroppedByWatermark` across a drained query's
    retained progress updates (all state operators)."""
    return sum(
        int(op["numRowsDroppedByWatermark"] or 0)
        for p in q.recentProgress
        for op in (p["stateOperators"] or [])
    )


def _check_drops(q, forbid: bool) -> None:
    if not forbid:
        return
    dropped = watermark_drops(q)
    if dropped:
        raise RuntimeError(
            f"streaming query dropped {dropped} row(s) at the watermark — "
            f"this pipeline's completeness contract (every pair joined, "
            f"e.g. the cdc_commit_time single-drain requirement) is "
            f"violated; a trigger/maxFilesPerTrigger change that splits "
            f"the input across micro-batches lets the watermark advance "
            f"past still-pending rows. Refusing to return a silently "
            f"incomplete result."
        )


def run_to_memory(
    df: DataFrame,
    output_mode: str = "append",
    name: str | None = None,
    trigger_seconds: float | None = None,
    no_data_batches: bool = True,
    forbid_watermark_drops: bool = False,
) -> DataFrame:
    """Run a streaming DataFrame to a memory sink, drain it, stop, and
    return the materialized result as a batch DataFrame.

    `no_data_batches=False` suppresses the trailing watermark-advance
    micro-batch. For drain-and-stop INNER pipelines whose output is
    complete once the data batches run, that trailing batch is pure
    state-eviction overhead (measured: a full scan + removal of every
    state row, ~40% of the sf0.1 stream-stream join runtime). Leave it
    ON for anything that emits on watermark: outer joins, append-mode
    windowed aggregates, expiring state.

    `forbid_watermark_drops=True` turns completeness into a loud
    contract: after the drain, any `numRowsDroppedByWatermark` raises
    instead of returning a silently incomplete result. Use it on
    pipelines that promise every row is on time (the cdc_commit_time
    join family); leave it off for pipelines where dropping late data
    is the SPEC (T5 late-data handling)."""
    name = name or f"mem_{uuid.uuid4().hex[:12]}"
    spark = df.sparkSession
    with _stream_shuffle(spark, no_data_batches):
        writer = df.writeStream.format("memory").queryName(name).outputMode(output_mode)
        if trigger_seconds is not None:
            writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
        q = writer.start()
        try:
            q.processAllAvailable()
            _check_drops(q, forbid_watermark_drops)
        finally:
            q.stop()  # also on the refusal path — never leak a live query
    return spark.table(name)


def run_foreach_batch(
    df: DataFrame,
    fn,
    checkpoint_dir: str | None = None,
    output_mode: str = "update",
    no_data_batches: bool = True,
    forbid_watermark_drops: bool = False,
) -> None:
    """Run a streaming DataFrame through `foreachBatch(fn)` to
    completion (fn: (batch_df, batch_id) -> None). See run_to_memory
    for `forbid_watermark_drops`."""
    with _stream_shuffle(df.sparkSession, no_data_batches):
        writer = df.writeStream.foreachBatch(fn).outputMode(output_mode)
        if checkpoint_dir:
            writer = writer.option("checkpointLocation", checkpoint_dir)
        q = writer.start()
        try:
            q.processAllAvailable()
            _check_drops(q, forbid_watermark_drops)
        finally:
            q.stop()  # also on the refusal path — never leak a live query
