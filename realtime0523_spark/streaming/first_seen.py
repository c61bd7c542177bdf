"""Stateful first-seen — SURVEY §2.7 D3 (the hardest state semantics).

Reference: the cumulative "ever ordered" user set lives in a Phoenix
table; each batch does a batched IN-lookup, flags `if_first_order`,
and writes new first-timers back
(scala/…/dwd/Ods_to_DWD_order_info.scala:83-104, 219-225).

Ours: bucketed keyed state inside the engine's checkpointed state
store (streaming/bucketed_state.py). No external KV service;
restart-safe. The kept record per key is the event-time minimum seen
so far (not arrival order), so results are deterministic and
replay-stable. A bucket's state is its keys' (key, seen_ts, seen_id)
rows as key-sorted int64 columns; the batch-local minimum and the
state merge are vectorized numpy passes (searchsorted lookups, lexsort
runs — guide §4.2). Each batch emits one row per key present in it,
carrying the post-merge minimum.

State per bucket is |keys|/n rows rewritten per batch, so an
ever-growing key set wants more buckets (SPARK_GRAFT_STATE_BUCKETS)
once a bucket stops fitting an Arrow batch comfortably. Keys must be
non-null: xxhash64 buckets a NULL like a value, but an int64 state
column cannot hold one, so a null key raises by name. A checkpoint
written before the shared bucketed encoding (`array<long>` state)
does not reload; replay from the source.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState

from realtime0523_spark.streaming.bucketed_state import apply_bucketed

# key-sorted keys, their earliest ts (epoch µs) and the id at that ts
STATE_DTYPES = (np.int64, np.int64, np.int64)


def first_seen_kernel(
    cols: tuple, batch: pd.DataFrame, state: GroupState
) -> tuple[tuple, pd.DataFrame]:
    """Fold one bucket's batch rows into its key-sorted state columns
    and emit, for every key in the batch, the earliest (ts, id) ever
    seen for it."""
    if batch["key"].isna().any():
        raise ValueError(
            "streaming_first_seen: null key in batch — the bucketed "
            "state requires non-null keys (xxhash64 buckets a NULL like "
            "a value, but int64 state columns cannot hold one). Filter "
            "null keys upstream."
        )
    k = batch["key"].to_numpy(dtype=np.int64)
    ts = batch["ts"].to_numpy(dtype=np.int64)
    ids = batch["id"].to_numpy(dtype=np.int64)
    # batch-local minimum per key by (ts, id): lexsort (last key is
    # primary) then the first row of each key run
    order = np.lexsort((ids, ts, k))
    ks, tss, idss = k[order], ts[order], ids[order]
    first = np.concatenate([[True], ks[1:] != ks[:-1]])
    bk, bts, bid = ks[first], tss[first], idss[first]
    sk, sts, sid = cols
    pos = np.searchsorted(sk, bk)
    in_state = np.zeros(bk.size, dtype=bool)
    valid = pos < sk.size
    in_state[valid] = sk[pos[valid]] == bk[valid]
    if in_state.any():
        ppos = pos[in_state]
        bt, bi = bts[in_state], bid[in_state]
        better = (bt < sts[ppos]) | ((bt == sts[ppos]) & (bi < sid[ppos]))
        if better.any():
            sts = sts.copy()
            sid = sid.copy()
            sts[ppos[better]] = bt[better]
            sid[ppos[better]] = bi[better]
    new = ~in_state
    if new.any():
        ins = np.searchsorted(sk, bk[new])
        sk = np.insert(sk, ins, bk[new])
        sts = np.insert(sts, ins, bts[new])
        sid = np.insert(sid, ins, bid[new])
    at = np.searchsorted(sk, bk)  # every batch key is in state now
    out = pd.DataFrame({"key": bk, "first_ts": sts[at], "first_id": sid[at]})
    return (sk, sts, sid), out


def streaming_first_seen(
    stream: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
) -> DataFrame:
    """Per-key earliest-record tracking over a stream.

    Output: one row per key per micro-batch with the current
    first-seen (ts, id). With all data in one batch this equals the
    batch `min(struct(ts, id)) GROUP BY key` — the oracle-checkable
    contract.
    """
    prepared = stream.select(
        F.col(key_col).alias("key"),
        F.unix_micros(F.col(ts_col)).alias("ts"),
        F.col(id_col).alias("id"),
    )
    return apply_bucketed(
        prepared,
        "key",
        first_seen_kernel,
        STATE_DTYPES,
        "key long, first_ts long, first_id long",
    )
