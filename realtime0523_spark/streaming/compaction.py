"""Base-snapshot compaction for idempotent batch-partial logs — the
shared crash-safe protocol behind every "fold a growing pile of
per-batch partial files into one snapshot" need (the drained partial
logs of streaming/cells.py, the topology's ADS and DAU partials, the
streaming IVF quantizer partials, the co-arrival guard's key log).

Layout contract:
- `partial_dir` holds `batch_id=N` directories written by
  `sinks.idempotent_batch_writer` (plus `_tmp_*` scratch Spark's file
  listing ignores);
- `base_dir` holds at most one live snapshot: `v_{W:09d}` + marker
  `_ready_{W:09d}`, where W is the highest batch id folded in.

Protocol (same discipline as the topology's versioned dim store):
write the fold to `_tmp_`, atomic-rename to `v_new`, then marker; a
crash between rename and marker heals on the next attempt (the rename
IS the commit). Readers take the newest marker's snapshot plus only
the partials with batch_id > W — so stragglers a crashed GC left
behind, and partials a post-compaction REPLAY re-created below the
watermark, are excluded by construction and swept by the next
compaction (which GCs everything ≤ the new watermark, not just the
files it folded).

Why the fold is legal at any prefix: callers' fold functions are
distributive aggregations (sums/counts for the quantizer, per-key max
batch_id for the guard), so base ∪ fresh re-folded equals folding all
history at once.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# fresh partials above the base watermark that trigger a compaction:
# every always-on partial log (drained twins, the topology's ADS/DAU
# families, the monitor, the co-arrival guard's key log) reads at most
# 1 + COMPACT_EVERY files per report. Read at call time by
# `maybe_compact`, so tests can shorten it.
COMPACT_EVERY = 32


def base_watermark(base_dir: str) -> int:
    """Highest committed snapshot id, or -1. Marker-or-dir heals the
    crash window: the atomic rename IS the commit."""
    if not os.path.isdir(base_dir):
        return -1
    ready = [
        int(f.removeprefix("_ready_"))
        for f in os.listdir(base_dir)
        if f.startswith("_ready_")
    ]
    return max(ready, default=-1)


def partial_ids(partial_dir: str) -> list[int]:
    if not os.path.isdir(partial_dir):
        return []
    return sorted(
        int(d.removeprefix("batch_id="))
        for d in os.listdir(partial_dir)
        if d.startswith("batch_id=")
    )


def committed_relation(
    spark: SparkSession,
    partial_dir: str,
    base_dir: str,
    keep_batch_id: bool = False,
) -> DataFrame | None:
    """The live relation: newest base snapshot ∪ partials above its
    watermark. `keep_batch_id=True` retains the partition column on
    the fresh rows (the base must then carry a `batch_id` column of
    its own, as the guard's per-key max does); False drops it for
    folds that don't track provenance. None when nothing committed."""
    wm = base_watermark(base_dir)
    frames: list[DataFrame] = []
    if wm >= 0:
        frames.append(spark.read.parquet(os.path.join(base_dir, f"v_{wm:09d}")))
    if [i for i in partial_ids(partial_dir) if i > wm]:
        fresh = spark.read.parquet(partial_dir).filter(F.col("batch_id") > wm)
        frames.append(fresh if keep_batch_id else fresh.drop("batch_id"))
    if not frames:
        return None
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def compact_to_base(
    spark: SparkSession,
    partial_dir: str,
    base_dir: str,
    fold,
    keep_batch_id: bool = False,
    gc_grace: bool = False,
) -> int:
    """Fold the live relation into one new base snapshot and GC
    everything at or below the new watermark (consumed partials —
    including any a post-compaction replay re-created below the old
    watermark — plus superseded snapshots, markers, and crashed
    `_tmp_` scratch). Idempotent by marker; crash-heals the
    rename-vs-marker window. Returns the number of fresh partials
    folded (0 = nothing to do).

    READER CONCURRENCY: with the default
    `gc_grace=False`, the GC immediately deletes the files the new
    snapshot supersedes — safe ONLY when every reader is serialized
    with the compactor (the usual shape: the fold and the report run
    inside the same foreachBatch thread, or reads happen after the
    drain). A reader running CONCURRENTLY with the compactor (the
    topology's `ads_result()` on a live stream) may have planned its
    scan over v_W + fresh partials just before the GC removes them —
    `gc_grace=True` keeps ONE superseded generation (the previous
    base and the partials at or below the previous watermark survive
    until the NEXT compaction), so any reader that resolved the
    previous committed snapshot can still scan its files. Cost: at
    most 2 bases + 2 generations of partials at rest — still flat."""
    wm = base_watermark(base_dir)
    fresh = [i for i in partial_ids(partial_dir) if i > wm]
    if not fresh:
        return 0
    new_wm = max(fresh)
    # grace mode GCs one generation behind: everything the PREVIOUS
    # snapshot superseded; strict mode GCs up to the new snapshot
    gc_horizon = wm if gc_grace else new_wm
    final = os.path.join(base_dir, f"v_{new_wm:09d}")
    marker = os.path.join(base_dir, f"_ready_{new_wm:09d}")
    os.makedirs(base_dir, exist_ok=True)
    if not os.path.exists(marker):
        if os.path.exists(final):  # crash between rename and marker
            open(marker, "w").close()
        else:
            folded = fold(
                committed_relation(
                    spark, partial_dir, base_dir, keep_batch_id=keep_batch_id
                )
            )
            tmp = os.path.join(base_dir, f"_tmp_{new_wm:09d}")
            folded.write.mode("overwrite").parquet(tmp)
            os.replace(tmp, final)
            open(marker, "w").close()
    # GC: every partial at or below the gc horizon (not only the
    # ones this call folded — replays below the old watermark recreate
    # dirs the previous GC removed), superseded bases/markers, and any
    # crashed _tmp_ scratch.
    for i in partial_ids(partial_dir):
        if i <= gc_horizon:
            shutil.rmtree(
                os.path.join(partial_dir, f"batch_id={i}"), ignore_errors=True
            )
    for f in os.listdir(base_dir):
        # any _tmp_ is stale here: this call's scratch was renamed away
        # before the marker, so whatever remains is a crashed attempt
        stale = f.startswith("_tmp_")
        for prefix in ("v_", "_ready_"):
            if f.startswith(prefix) and int(f.removeprefix(prefix)) < gc_horizon:
                stale = True
        if stale:
            p = os.path.join(base_dir, f)
            shutil.rmtree(p, ignore_errors=True) if os.path.isdir(p) else os.remove(p)
    return len(fresh)


def maybe_compact(
    spark: SparkSession,
    partial_dir: str,
    base_dir: str,
    fold,
    keep_batch_id: bool = False,
    gc_grace: bool = False,
) -> bool:
    """The shared compaction cadence gate, one definition for every
    partial log: fold when at least `COMPACT_EVERY` fresh partials sit
    above the base watermark. Returns True when a compaction ran."""
    wm = base_watermark(base_dir)
    fresh = [i for i in partial_ids(partial_dir) if i > wm]
    if len(fresh) < COMPACT_EVERY:
        return False
    compact_to_base(
        spark, partial_dir, base_dir, fold,
        keep_batch_id=keep_batch_id, gc_grace=gc_grace,
    )
    return True
