"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads: `backlog_catchup` (the live five-layer topology catching up
on the CDC an ingest outage left behind) and `inventory_sample` (a
fixed slice of the query registry over the sf0.01 test fixtures). See
perfbench/README.md for what each metric means on each workload.

The last stdout line is one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones; with `--trace 1` the per-layer ones.
The line before it is `{"diagnostics": {...}}`. The exit code is 0
only if the run completed; a run that cannot import the program exits
non-zero and prints no result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402

WORKLOADS = ("backlog_catchup", "inventory_sample")
DEADLINE_S = 170.0


def _overrun(signum, frame):
    raise TimeoutError("run overran its deadline")


def layer_names() -> list[str]:
    import backlog
    import inventory

    return backlog.layer_names() + inventory.layer_names()


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    return "count"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    start = time.time()
    signal.signal(signal.SIGALRM, _overrun)
    signal.alarm(int(DEADLINE_S) + 5)
    work = harness.prepare_env(f"{a.workload}-{os.getpid()}")
    try:
        # a checkout without the program fails here, before any result
        import realtime0523_spark  # noqa: F401

        if a.workload == "backlog_catchup":
            import backlog as workload
        else:
            import inventory as workload
        out = workload.run(a.seed, a.seconds, bool(a.trace), work, start + DEADLINE_S)
    finally:
        left = harness.reap_descendants()
        shutil.rmtree(work, ignore_errors=True)
    out["diag"]["leftover_processes"] = len(left)
    out["diag"]["run_wall_s"] = time.time() - start
    out["diag"]["py_ref_cpu_s"] = harness.reference_cpu_s()
    if a.trace:
        # every per-layer metric on every workload: a layer this workload
        # does not run reads 0; the traced run's own end-to-end numbers,
        # set against an untraced run's, give the tracing overhead
        metrics = {n: out["layers"].get(n, 0.0) for n in layer_names()}
        metrics["traced.cpu_s"] = out["e2e"]["cpu_s"]
        metrics["traced.wall_s"] = out["wall_s"]
    else:
        metrics = out["e2e"]
    print(json.dumps({"diagnostics": out["diag"]}, default=str))
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": int(out["attempted"]),
        "failed": int(out["failed"]),
        "metrics": {k: {"value": float(v), "unit": _unit(k)} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
