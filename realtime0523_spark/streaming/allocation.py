"""Cross-batch running-sum allocation — SURVEY §2.10 F1 under
SPLIT ARRIVAL.

Reference: the Redis accumulator design in
scala/…/dws/OrderWiderApp.scala:157-199 — per order, two running sums
(`<order>:ori` = Σ weight seen, `<order>:split` = Σ amount allocated)
with a 100 s TTL (OrderWiderApp.scala:189,191). Each detail row's
share is computed AS IT ARRIVES: proportional for every row except the
last, which takes the remainder (paid total − Σ allocated) so the
shares sum exactly. Because the state survives micro-batch boundaries,
an order whose detail rows are split across CDC files is still
allocated correctly — the shape the engine's per-batch allocation
(operators/allocation.allocate_order_amount) and the topology's
co-arrival contract deliberately refuse.

Ours: bucketed keyed state (streaming/bucketed_state.py) with
`EventTimeTimeout` — the Redis `expire` analog driven by EVENT time
instead of wall clock, so replays are deterministic (the same argument
as streaming/dau.py; a ProcessingTimeTimeout additionally schedules
timer-evaluation batches forever, which never lets a drain-and-stop
harness converge). A bucket's state is its IN-FLIGHT orders as
key-sorted columns (key, n_seen, Σ allocated, expiry) PLUS a compact
done-set (key, expiry) of completed orders. Only the reference's
`:split` sum (Σ allocated) survives as state: its `:ori` weight sum
exists only to serve the float-equality last-row test, which the count
detection below replaces. Python cost is one pass linear in the
batch's rows, never in the order count, and state rows are
min(buckets, in-flight).

Completed orders move to the done-set until their TTL: a duplicate
detail arriving after completion must raise the over-delivery error,
not silently restart the running sums at n_seen=1. A done-set entry
is presence-with-expiry only — it exists solely to raise, so running
sums would be dead weight, and keeping it apart from the live columns
keeps the hot lookups O(in-flight). Past the TTL the operator shares
the reference's own accepted failure mode: a post-TTL duplicate is
indistinguishable from a fresh order.

Skew is absorbed inside the pass: a hot order makes its bucket's
O(rows) pass longer but never grows state beyond that order's single
live entry (skew-stress-tested). Checkpoints written before the shared
bucketed encoding (the `live binary, done binary` state) do not
reload; replay from the source.

Last-row detection: the reference tests float equality of the running
weight sum against `original_total_amount` (OrderWiderApp.scala:181) —
arrival-order-dependent and fragile under IEEE association. We carry
the order's detail COUNT instead (known at order creation exactly like
the reference's original_total_amount, which the DB writes on the
order_info row) and detect the last row by an exact integer compare —
a documented divergence in mechanism, identical in semantics on the
reference's own data contract (each detail arrives exactly once).

Per-row share arithmetic is IDENTICAL to the batch operator:
proportional rows get round2(total · w / Σw), the final row gets
round2(total − Σ allocated) — so when details arrive in the batch
operator's detail order, the drained output equals the batch
`allocation` oracle row for row (the inventory's
`stream_allocation_split` contract), and under ANY split Σ shares ==
round2(total) (hypothesis-tested invariant).

At 100 TB: one shuffle per micro-batch on the state key; state is
TTL-bounded in-flight orders only; the Arrow state function touches
only the batch's rows.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from realtime0523_spark.streaming.bucketed_state import apply_bucketed

# The reference's Redis TTL on the :ori/:split accumulators
# (scala/…/dws/OrderWiderApp.scala:189,191).
STATE_TTL_MS = 100_000
# The co-arrival guard's event-time horizon: the DWS join tolerance
# (50 s, OrderWiderApp's window span) plus the allocation TTL.
GUARD_HORIZON_MS = 50_000 + STATE_TTL_MS

_OUT_SCHEMA = (
    "l_orderkey long, l_linenumber int, l_partkey long, "
    "final_detail_amount double"
)
# live in-flight orders, key-sorted: key, n_seen, Σ allocated in
# integer-valued CENTS (float64, exact below 2^53), expiry ms; then the
# done-set: key, expiry ms
STATE_DTYPES = (np.int64, np.int64, np.float64, np.int64, np.int64, np.int64)

_PASS_COLS = [
    "l_orderkey",
    "l_linenumber",
    "l_partkey",
    "l_extendedprice",
    "o_totalprice",
    "o_weight_total",
    "o_detail_count",
]


def allocation_kernel(detail_order_by: list[str], ts_col: str, ttl_ms: int):
    """The bucket kernel (streaming/bucketed_state.state_fn contract)
    allocating each arriving detail against its order's running sums."""
    empty_f = np.empty(0, dtype=np.float64)

    def _prune(state: GroupState, lks, lns, lacs, lexp, dks, dexp, wm):
        """Prune expired entries (event-time TTL) from the live
        in-flight columns and the done-set, and keep one pending
        timeout at the earliest remaining expiry. Returns the surviving
        columns, or None when nothing survives."""
        if lks.size:
            keep = lexp > wm
            if not keep.all():
                lks, lns, lacs, lexp = lks[keep], lns[keep], lacs[keep], lexp[keep]
        if dks.size:
            keep = dexp > wm
            if not keep.all():
                dks, dexp = dks[keep], dexp[keep]
        if not lks.size and not dks.size:
            return None
        min_exp = int(lexp.min()) if lks.size else None
        if dks.size:
            dmin = int(dexp.min())
            min_exp = dmin if min_exp is None else min(min_exp, dmin)
        state.setTimeoutTimestamp(max(min_exp, wm + 1))
        return lks, lns, lacs, lexp, dks, dexp

    def kernel(
        cols: tuple, batch: pd.DataFrame | None, state: GroupState
    ) -> tuple[tuple | None, pd.DataFrame | None]:
        # Σ allocated is tracked in integer CENTS, which makes the
        # within-batch accumulation below an exact vectorized cumsum.
        # Emitted shares are floor-rounded cents either way, so
        # cents-tracking emits bit-identical values to a per-row float
        # accumulation: the two Σs differ by ≤ a few ulp, and round2's
        # floor(x*100+0.5) would need a half-cent perturbation to flip
        # (guide §4.2 — vectorize the hot per-row Python loop).
        lks, lns, lacs, lexp, dks, dexp = cols
        wm = state.getCurrentWatermarkMs()
        if state.hasTimedOut:
            return _prune(state, lks, lns, lacs, lexp, dks, dexp, wm), None
        if len(batch) > 1:
            batch = batch.sort_values(
                ["l_orderkey", *detail_order_by], kind="mergesort"
            )
        oks = batch["l_orderkey"].to_numpy(dtype=np.int64, copy=False)
        m = oks.size
        if m == 0:
            out = pd.DataFrame(
                {
                    "l_orderkey": batch["l_orderkey"],
                    "l_linenumber": batch["l_linenumber"],
                    "l_partkey": batch["l_partkey"],
                    "final_detail_amount": empty_f,
                }
            )
            return _prune(state, lks, lns, lacs, lexp, dks, dexp, wm), out
        # cross-batch over-delivery check, vectorized: any arriving key
        # already in the done-set completed in an earlier batch — a
        # duplicate delivery that must be loud, never re-allocated
        if dks.size:
            hit = np.isin(oks, dks)
            if hit.any():
                dupes = np.unique(oks[hit])[:5].tolist()
                raise ValueError(
                    f"allocation: order key(s) {dupes} received a detail "
                    f"row after all o_detail_count details were already "
                    f"allocated — duplicate delivery would silently "
                    f"over-allocate; the append contract is each detail "
                    f"exactly once"
                )
        wgt = batch["l_extendedprice"].to_numpy(dtype=np.float64, copy=False)
        tot = batch["o_totalprice"].to_numpy(dtype=np.float64, copy=False)
        wtt = batch["o_weight_total"].to_numpy(dtype=np.float64, copy=False)
        nds = batch["o_detail_count"].to_numpy(dtype=np.int64)
        # normalize any datetime64 unit (ns on the memory path, us on
        # parquet) to epoch ms before TTL arithmetic
        tss = batch[ts_col].values.astype("datetime64[ms]").astype("int64")
        # segment the key-sorted batch into per-order runs
        is_first = np.empty(m, dtype=bool)
        is_first[0] = True
        np.not_equal(oks[1:], oks[:-1], out=is_first[1:])
        starts = np.flatnonzero(is_first)
        seg_id = np.cumsum(is_first) - 1
        seg_keys = oks[starts]
        ends = np.concatenate([starts[1:], [m]]) - 1
        n_seg = starts.size
        # prior running sums for orders already in flight
        prior_n = np.zeros(n_seg, dtype=np.int64)
        prior_ac = np.zeros(n_seg, dtype=np.float64)
        found = np.zeros(n_seg, dtype=bool)
        live_pos = None
        if lks.size:
            pos = np.searchsorted(lks, seg_keys)
            live_pos = np.minimum(pos, lks.size - 1)
            found = lks[live_pos] == seg_keys
            prior_n[found] = lns[live_pos[found]]
            prior_ac[found] = lacs[live_pos[found]]
        n_seen = prior_n[seg_id] + (np.arange(m, dtype=np.int64) - starts[seg_id]) + 1
        cmpl = n_seen == nds
        # any row FOLLOWING a completing row of its own run, or any row
        # pushing n_seen past o_detail_count, is the over-delivery
        # contract violation — raised at the first offending row in
        # arrival order, exactly like the sequential loop this replaces
        cc_excl = np.cumsum(cmpl) - cmpl
        follows = (cc_excl - cc_excl[starts][seg_id]) > 0
        viol = (n_seen > nds) | follows
        if viol.any():
            i = int(np.flatnonzero(viol)[0])
            if follows[i]:
                raise ValueError(
                    f"allocation: order {int(oks[i])} received a detail "
                    f"row after all o_detail_count details were already "
                    f"allocated in this batch — duplicate delivery would "
                    f"silently over-allocate; the append contract is each "
                    f"detail exactly once"
                )
            raise ValueError(
                f"allocation: order received {int(n_seen[i])} detail rows "
                f"but o_detail_count={int(nds[i])} — duplicate delivery "
                f"would silently over-allocate; the append contract is "
                f"each detail exactly once"
            )
        # proportional shares in exact integer cents (float64-valued:
        # cumsums of integer-valued float64 are exact below 2^53), same
        # IEEE expression as round2(total * w / w_total) * 100
        # (functions.scalar.round2, Java Math.round parity)
        prop_cents = np.floor(tot * wgt / wtt * 100.0 + 0.5)
        excl = np.cumsum(prop_cents) - prop_cents  # exclusive prefix
        ac_before = prior_ac[seg_id] + (excl - excl[starts][seg_id])
        shares = prop_cents / 100.0
        cmpl = n_seen == nds
        if cmpl.any():
            # the order's LAST row takes the exact remainder — same
            # expression as round2(total - allocated); nothing follows
            # a completing row within its run (checked above), so no
            # later share depends on this substitution
            lastv = np.floor((tot - ac_before / 100.0) * 100.0 + 0.5) / 100.0
            shares = np.where(cmpl, lastv, shares)
        # per-run end state
        seg_exp = tss[ends] + ttl_ms
        seg_done = cmpl[ends]
        # drop every touched live entry (completed or superseded) ...
        if lks.size and found.any():
            keep = np.ones(lks.size, dtype=bool)
            keep[live_pos[found]] = False
            lks, lns, lacs, lexp = lks[keep], lns[keep], lacs[keep], lexp[keep]
        # ... then re-append the still-in-flight runs with updated sums
        inflight = ~seg_done
        if inflight.any():
            seg_sum = (excl[ends] + prop_cents[ends]) - excl[starts]
            lks = np.concatenate([lks, seg_keys[inflight]])
            lns = np.concatenate([lns, n_seen[ends][inflight]])
            lacs = np.concatenate([lacs, (prior_ac + seg_sum)[inflight]])
            lexp = np.concatenate([lexp, seg_exp[inflight]])
            order = np.argsort(lks, kind="stable")
            lks, lns, lacs, lexp = lks[order], lns[order], lacs[order], lexp[order]
        if seg_done.any():
            dks = np.concatenate([dks, seg_keys[seg_done]])
            dexp = np.concatenate([dexp, seg_exp[seg_done]])
        out = pd.DataFrame(
            {
                "l_orderkey": batch["l_orderkey"],
                "l_linenumber": batch["l_linenumber"],
                "l_partkey": batch["l_partkey"],
                "final_detail_amount": shares,
            }
        )
        return _prune(state, lks, lns, lacs, lexp, dks, dexp, wm), out

    return kernel


def streaming_allocation_split(
    details: DataFrame,
    detail_order_by: list[str],
    ts_col: str = "l_commit_ts",
    ttl_ms: int = STATE_TTL_MS,
) -> DataFrame:
    """F1 allocation over a detail STREAM whose orders may split
    across micro-batches.

    `details` must carry: l_orderkey, l_linenumber, l_partkey,
    l_extendedprice, o_totalprice (the paid total), o_weight_total
    (Σ l_extendedprice over the order — the reference's
    original_total_amount, stamped on order_info at creation),
    o_detail_count (the order's detail-row count, same provenance),
    and `ts_col` (timestamp — the CDC commit time; drives the
    watermark and the TTL eviction). Emits one (l_orderkey,
    l_linenumber, l_partkey, final_detail_amount) row per arriving
    detail, update mode.

    State per IN-FLIGHT order is (n_seen, Σ allocated) — the weight
    running sum the reference also keeps (`:ori`) exists only for its
    float-equality last-row test, which the detail-count detection
    replaces. Completed orders persist until the TTL as
    presence-with-expiry records (the compact done-set) so a
    post-completion duplicate raises the over-delivery error (it
    would otherwise silently restart at n_seen=1 and over-allocate the
    order total). TTL semantics: an order's state times out once
    the watermark (max event time − ttl) passes the order's last-arrival
    time + ttl — the event-time rendering of the reference's 100 s
    Redis expire. The watermark delay is the TTL itself — expressed
    in milliseconds, so delay == TTL exactly for any value — and
    same-timestamp waves are never dropped as late. `ttl_ms` must be
    ≥ 1000 (a sub-second TTL is degenerate for the reference's 100 s
    semantics).

    Within a batch, a group's rows are processed in `detail_order_by`
    (the batch operator's deterministic total order); across batches,
    arrival order governs — so a feed delivering chunks in detail
    order reproduces the batch `allocation` result exactly."""
    if ttl_ms < 1000:
        raise ValueError(
            f"streaming_allocation_split: ttl_ms={ttl_ms} < 1000 — a "
            f"sub-second TTL is degenerate for the reference's 100 s "
            f"Redis-expire semantics and risks timeouts landing at or "
            f"below the current watermark"
        )
    carry = list(dict.fromkeys(_PASS_COLS + [ts_col] + detail_order_by))
    # the delay is expressed in MILLISECONDS so it equals the TTL
    # exactly for any value ("{ttl_ms // 1000} seconds" would silently
    # truncate a fractional-second TTL, dropping in-TTL stragglers as
    # late)
    watermarked = details.select(*carry).withWatermark(
        ts_col, f"{ttl_ms} milliseconds"
    )
    return apply_bucketed(
        watermarked,
        "l_orderkey",
        allocation_kernel(detail_order_by, ts_col, ttl_ms),
        STATE_DTYPES,
        _OUT_SCHEMA,
        GroupStateTimeout.EventTimeTimeout,
    )


def co_arrival_guard(
    spark,
    keys_dir: str,
    checkpoint_dir: str | None = None,
):
    """Runtime enforcement of the PER-BATCH allocation's co-arrival
    contract (the alternative to this module's running-sum state): the
    per-batch F1 normalizes by the batch-local weight sum, so an order
    whose details span two batches absorbs the full order total in
    EACH fragment — a silent double-count. The guard commits each
    batch's order-key set (synopsis-sized, idempotent by batchId) and
    RAISES when a key reappears in a LATER batch; replays of the same
    batch are exempt because every row (in the per-batch files AND the
    compacted base) carries its committing batch_id and the check reads
    only batch_id < current.

    The key log COMPACTS every `compaction.COMPACT_EVERY` batches (same
    base-snapshot protocol as the ANN partials: fold everything into
    one `(key, max batch_id)` base, marker-committed, stragglers
    excluded by watermark) — an
    always-on stage would otherwise re-read every batch's key file on
    every batch, O(batches²) I/O over the run.

    GROWTH is bounded by an EVENT-TIME horizon, `GUARD_HORIZON_MS`:
    each committed key carries its batch's max `l_commit_ts`; at
    compaction, keys whose last-seen event time is more than the
    horizon behind the log's newest event time are pruned. Sound
    because the horizon is the upstream join tolerance + state TTL: a
    detail for an order last seen that far back in EVENT time can no
    longer traverse the watermarked DWS join (it would be dropped and
    FAIL the loud watermark-drop check there), so the guard can never
    legally be asked about it again. Pruning compares event time to
    event time, so it is immune to trigger-cadence drift and replay
    wall-clock skew, and the at-rest log stays O(orders inside the
    horizon), never O(total distinct orders).

    RUN SCOPING: the log is keyed by batch_id, and
    batch ids RESTART at 0 with a fresh checkpoint — so reusing an
    out_dir-derived keys_dir across runs would falsely flag new keys
    against a prior run's higher-numbered batches. Pass the query's
    `checkpoint_dir`: when the checkpoint has no committed offsets
    (fresh run — including `None`, an ephemeral checkpoint), any
    existing key log is RESET at construction. A restart from a live
    checkpoint (offsets present) keeps the log, since its batch ids
    continue the same sequence.

    Returns ``check(keys_df, batch_id)`` for use inside foreachBatch;
    `keys_df` is the batch's (l_orderkey, l_commit_ts) projection (not
    necessarily distinct; the guard folds per-key max event time)."""
    import os
    import shutil

    from realtime0523_spark.streaming.compaction import (
        base_watermark,
        committed_relation,
        maybe_compact,
        partial_ids,
    )
    from realtime0523_spark.streaming.sinks import idempotent_batch_writer

    commit = idempotent_batch_writer(keys_dir)
    base_dir = keys_dir.rstrip("/") + "_base"

    def _checkpoint_has_commits(ckpt: str | None) -> bool:
        if not ckpt:
            return False
        off = os.path.join(ckpt, "offsets")
        return os.path.isdir(off) and any(
            not f.startswith(".") for f in os.listdir(off)
        )

    has_log = bool(partial_ids(keys_dir)) or base_watermark(base_dir) >= 0
    if has_log and not _checkpoint_has_commits(checkpoint_dir):
        # fresh run (batch ids restart at 0) over a leftover key log →
        # the stale keys would falsely raise on legitimately new
        # batches; the log belongs to the checkpoint's batch-id
        # sequence, so a fresh sequence starts a fresh log
        shutil.rmtree(keys_dir, ignore_errors=True)
        shutil.rmtree(base_dir, ignore_errors=True)
        has_log = False
    if has_log:
        # a live-checkpoint restart KEEPS the log; one written by an
        # older build has no last-seen event times, and the first
        # check()'s union would fail opaquely mid-stream
        wm = base_watermark(base_dir)
        stored = [os.path.join(base_dir, f"v_{wm:09d}")] if wm >= 0 else []
        if any(i > wm for i in partial_ids(keys_dir)):
            stored.append(keys_dir)
        if any("__ts_ms" not in spark.read.parquet(p).columns for p in stored):
            raise ValueError(
                f"co_arrival_guard: the key log at {keys_dir!r} has no "
                f"__ts_ms column (written without event times, which the "
                f"horizon prune needs). Delete {keys_dir!r} and "
                f"{base_dir!r} to start a fresh log."
            )

    def _fold(df: "DataFrame") -> "DataFrame":
        # per-key MAX batch_id: replays of a compacted-away batch
        # stay exempt because the check below still sees their
        # batch_id
        out = df.groupBy("l_orderkey").agg(
            F.max("batch_id").alias("batch_id"),
            F.max("__ts_ms").alias("__ts_ms"),
        )
        # the log's newest event time: one scalar reduce over the
        # relation being folded (compaction cadence only, never per
        # batch). Pruning against it is conservative under
        # non-monotonic event time — a stale max prunes LESS, never a
        # key that could still legally reappear.
        newest = df.agg(F.max("__ts_ms")).collect()[0][0]
        if newest is not None:
            # >= : a key EXACTLY the horizon behind the newest event
            # time survives the prune. Spark keeps rows exactly at the
            # watermark, so the boundary key is the last one the
            # upstream join could still legally emit a detail for
            # (pinned by the boundary test).
            out = out.filter(F.col("__ts_ms") >= newest - GUARD_HORIZON_MS)
        return out

    def check(keys: "DataFrame", batch_id: int) -> None:
        os.makedirs(keys_dir, exist_ok=True)
        # per-key max event time, epoch ms — the provenance the
        # event-time prune reads at compaction
        keys = keys.groupBy("l_orderkey").agg(
            F.unix_millis(F.max("l_commit_ts").cast("timestamp")).alias("__ts_ms")
        )
        committed = committed_relation(
            spark, keys_dir, base_dir, keep_batch_id=True
        )
        if committed is not None:
            prior = committed.filter(F.col("batch_id") < batch_id)
            dupes = [
                r[0]
                for r in keys.join(prior, "l_orderkey", "semi").limit(5).collect()
            ]
            if dupes:
                raise RuntimeError(
                    f"ADS co-arrival contract violated: order key(s) "
                    f"{dupes} reappeared in batch {batch_id} after being "
                    f"allocated in an earlier batch — the per-batch "
                    f"allocation would double-count the order total. "
                    f"Feed all of an order's details in one CDC file, or "
                    f"use the cross-batch running-sum allocation "
                    f"(streaming_allocation_split / split_arrival=True)."
                )
        commit(keys, batch_id)
        maybe_compact(spark, keys_dir, base_dir, _fold, keep_batch_id=True)

    return check
