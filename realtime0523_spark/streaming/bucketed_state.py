"""Bucketed keyed state — the one keying of the engine's per-key
streaming state (streaming/first_seen.py, streaming/allocation.py).

Reference: each stateful fact lives in one external keyed store — the
"ever ordered" user set in Phoenix
(scala/…/dwd/Ods_to_DWD_order_info.scala:83-104), the per-order
`:split` running sum in Redis (scala/…/dws/OrderWiderApp.scala:157-199).

Ours: the query's checkpointed state store, keyed by BUCKET. Every row
gets `pmod(xxhash64(key), n)`; `applyInPandasWithState` groups on the
bucket, and the operator's kernel folds the bucket's whole batch into
the bucket's state with numpy passes. That is one Python crossing and
one state row per bucket per batch. A per-key `GroupState` pays its
fixed Arrow/state crossing (~70 µs-0.5 ms) once per KEY per batch, so
a 100k-key batch spent seconds in pure per-group overhead.

Sizing: `n = state_buckets(spark)` (2 × defaultParallelism, env
SPARK_GRAFT_STATE_BUCKETS). One bucket is one task and one state row,
so n follows the cores, never the key cardinality: more buckets than
cores buy no parallelism and multiply the fixed crossing cost; fewer
leave cores idle during the state pass.

State encoding: one `binary` cell per bucket holding fixed-width
numpy columns. Layout, little-endian: byte 0 the format version, byte
1 the column count k, bytes 4-7 the bucket count n (uint32), then k
int64 column lengths, then each column's raw 8-byte values back to
back. A cell is one memcpy out (`tobytes`) and a zero-copy read-only
view in (`frombuffer`); array state paid a per-element list
conversion on every load and persist. Kernels never write into the
decoded views; they build new arrays.

The bucket count keys the state: a key's bucket is a function of n,
so a restart under another n reads each bucket's state for keys that
now hash elsewhere and silently loses their in-flight entries. The
header records n and the format version, and decoding raises
`BucketStateMismatch` when either differs — the first time the
restarted query reads a bucket with recorded state. Checkpoints
written before this encoding (first-seen's `array<long>` state,
allocation's two-blob state) do not reload either: the state schema
changed, so such a query must replay from its source.
"""

from __future__ import annotations

import struct
from typing import Any, Callable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from realtime0523_spark.core.session import state_buckets

STATE_FORMAT = 1
STATE_SCHEMA = "state binary"
_HEADER = struct.Struct("<BBxxI")


class BucketStateMismatch(RuntimeError):
    """A bucket's recorded state was written under another format
    version or bucket count than the running query's."""


def encode_state(
    n_buckets: int, cols: Sequence[np.ndarray], dtypes: Sequence
) -> bytes:
    """One cell: header, column lengths, then the columns as `dtypes`."""
    head = _HEADER.pack(STATE_FORMAT, len(cols), n_buckets)
    lens = np.array([c.size for c in cols], dtype=np.int64).tobytes()
    body = (
        np.ascontiguousarray(c, dtype=dt).tobytes()
        for c, dt in zip(cols, dtypes)
    )
    return b"".join([head, lens, *body])


def decode_state(
    blob: bytes, n_buckets: int, dtypes: Sequence
) -> tuple[np.ndarray, ...]:
    """Read-only numpy views over a cell's columns; raises
    BucketStateMismatch on another format version, column count or
    bucket count."""
    version, k, n = _HEADER.unpack_from(blob)
    if version != STATE_FORMAT or k != len(dtypes):
        raise BucketStateMismatch(
            f"bucketed state cell has format version {version} with {k} "
            f"columns; this engine reads version {STATE_FORMAT} with "
            f"{len(dtypes)}. The checkpoint was written by another "
            f"state encoding: replay the query from its source with a "
            f"fresh checkpoint."
        )
    if n != n_buckets:
        raise BucketStateMismatch(
            f"bucketed state was recorded under {n} buckets but the "
            f"query now runs {n_buckets}; a key's bucket depends on the "
            f"count, so in-flight state would be silently re-keyed. "
            f"Restart with SPARK_GRAFT_STATE_BUCKETS={n}, or replay the "
            f"query from its source with a fresh checkpoint."
        )
    lens = np.frombuffer(blob, np.int64, k, _HEADER.size)
    off = _HEADER.size + 8 * k
    cols = []
    for dt, length in zip(dtypes, lens.tolist()):
        cols.append(np.frombuffer(blob, dt, length, off))
        off += 8 * length
    return tuple(cols)


def state_fn(kernel: Callable, dtypes: Sequence, n_buckets: int):
    """The `applyInPandasWithState` function running `kernel` over one
    bucket. `kernel(columns, batch, state)` gets the decoded columns
    (empty ones when the bucket has no state), the bucket's batch rows
    (None on a timeout call) and the GroupState (for the watermark and
    timeouts); it returns (new columns, output rows), either None. New
    columns are persisted, None removes the state."""
    empty = tuple(np.empty(0, dtype=dt) for dt in dtypes)

    def fn(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        cols = empty
        if state.exists:
            cols = decode_state(state.get[0], n_buckets, dtypes)
        chunks = list(pdfs)
        if len(chunks) == 1:
            batch = chunks[0]
        else:
            batch = pd.concat(chunks, ignore_index=True) if chunks else None
        new_cols, out = kernel(cols, batch, state)
        if new_cols is not None:
            state.update((encode_state(n_buckets, new_cols, dtypes),))
        elif state.exists:
            state.remove()
        if out is not None:
            yield out

    return fn


def apply_bucketed(
    df: DataFrame,
    key_col: str,
    kernel: Callable,
    dtypes: Sequence,
    output_schema: str,
    timeout_conf: str = GroupStateTimeout.NoTimeout,
) -> DataFrame:
    """Run `kernel` over `df` grouped by `pmod(xxhash64(key_col), n)`,
    n = state_buckets(spark), in update mode with one binary state
    cell per bucket."""
    n = state_buckets(df.sparkSession)
    return (
        df.withColumn("__bucket", F.pmod(F.xxhash64(key_col), F.lit(n)))
        .groupBy("__bucket")
        .applyInPandasWithState(
            state_fn(kernel, dtypes, n),
            outputStructType=output_schema,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=timeout_conf,
        )
    )
