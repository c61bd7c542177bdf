"""One size gate for every operator with a small-input path.

Each large-input operator measures its input (a count over a
materialized checkpoint, never a planner estimate) and asks
`small(gate, measured)` whether to take its small-input path: a
driver-side computation over one collect, or a broadcast join hint.
Above the threshold the distributed path runs, with an identical
result (each operator's parity test pins it).

`SPARK_GRAFT_DRIVER_GATES=off` sends every gate to its large-input
path, which is how the oracle and the tests exercise the 100 TB plans
on small fixtures. It is read at call time. Every decision is appended
to `DECISIONS` as `(gate, measured, threshold, path)`; `drain()` hands
them to a caller such as the bench sidecar.
"""

from __future__ import annotations

import os
from collections import deque

# gate -> (threshold, small-input path, large-input path). A driver
# gate bounds what the driver holds, like a broadcast build side.
GATES = {
    # undirected pair edges: union-find over one collect (≈16 MB)
    # instead of 40+ label-propagation jobs
    "cc_driver": (1_000_000, "driver", "distributed"),
    # edges: pagerank/kcore/BFS rounds as numpy passes. Set by
    # measurement: collect + index prep costs ~2 s per million edges
    # against ~5 s of per-query round fixed costs, so break-even is
    # ~1M; the sf0.1 co-purchase graph (2.39M edges) stays distributed
    "graph_driver": (500_000, "driver", "distributed"),
    # rows of node state, removal sets and frontiers: ~64 B/row in a
    # broadcast hash relation, so ~128 MB on the driver and each executor
    "graph_broadcast": (2_000_000, "broadcast", "shuffle"),
    # customers: numpy quintile scoring
    "rfm_driver": (2_000_000, "driver", "distributed"),
    # distinct values: the equi-depth finisher
    "hist_driver": (2_000_000, "driver", "distributed"),
    # vocabulary words: the BPE/WordPiece trainer and segmenter
    "vocab_driver": (2_000_000, "driver", "distributed"),
}

# bounded so a long-running stream that nobody drains cannot grow it
DECISIONS: deque = deque(maxlen=10_000)


def _enabled() -> bool:
    flag = os.environ.get("SPARK_GRAFT_DRIVER_GATES", "on")
    if flag not in ("on", "off"):
        raise ValueError(f"SPARK_GRAFT_DRIVER_GATES must be on|off, got {flag!r}")
    return flag == "on"


def small(gate: str, measured: int) -> bool:
    """True when `measured` fits under `gate`'s threshold and the gates
    are on; records the decision either way."""
    threshold, small_path, large_path = GATES[gate]
    ok = _enabled() and measured <= threshold
    DECISIONS.append((gate, measured, threshold, small_path if ok else large_path))
    return ok


def drain() -> list[tuple[str, int, int, str]]:
    """Remove and return the recorded decisions, oldest first."""
    return [DECISIONS.popleft() for _ in range(len(DECISIONS))]
