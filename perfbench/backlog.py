"""The `backlog_catchup` workload: a running `FiveLayerTopology` whose
two ingest stages come back from an outage to a backlog of CDC.

Set-up (timed as `setup_s`): start the session, write the dim bootstrap
wave, start the six stages and wait until the dim snapshot is
committed (ADS refuses a fact batch that arrives before it). Then the
outage: the ODS and DAU stages, the two that read the external feeds,
are stopped, and the generator process writes `gen.RATE` waves per
second of outage for `--seconds` s. Measured: the two stages restart
and every stage drains; `cpu_s` is the CPU seconds of the run's
processes over that window, and the catch-up time (a diagnostic) runs
from the restart to the commit of the last ADS batch that covers a
backlog wave. Each stage sees about one large batch, so per-row cost
and the first data batch of DWD, DWS and ADS dominate, not trigger
cadence. Outputs are checked after the topology stops.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import harness
from lineage import TopologyLineage

TRIGGER_S = 1.0
STAGES = ("ods", "dim", "dwd", "dws", "ads", "dau")
INGEST = ("ods", "dau")  # the stages the outage stops
GEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "gen.py")

SPANS = [
    # (module, attribute, span name, returns a per-batch writer)
    ("realtime0523_spark.streaming.topology", "topic_append_writer",
     "streaming.topology.topic_append_writer", True),
    ("realtime0523_spark.streaming.topology", "versioned_dim_upsert",
     "streaming.topology.versioned_dim_upsert", False),
    ("realtime0523_spark.streaming.allocation", "co_arrival_guard",
     "streaming.allocation.co_arrival_guard", True),
    # the topology imported these two by name, so its binding is wrapped
    ("realtime0523_spark.streaming.topology", "idempotent_batch_writer",
     "streaming.sinks.idempotent_batch_writer", True),
    ("realtime0523_spark.streaming.topology", "maybe_compact",
     "streaming.compaction.maybe_compact", False),
]
SPAN_NAMES = [s[2] for s in SPANS]


def _gen(*args: str) -> None:
    subprocess.run([sys.executable, GEN, *args], check=True)


def _bootstrap(spark, root: str, seed: int, deadline: float):
    """Start the topology on the dims wave and return it once the dim
    snapshot is committed."""
    from realtime0523_spark.streaming.topology import FiveLayerTopology

    _gen("dims", "--root", root, "--seed", str(seed))
    topo = FiveLayerTopology(spark, root, trigger_seconds=TRIGGER_S).start()
    try:
        while not any(f.startswith("_ready_") for f in os.listdir(topo.dim_store)):
            running = {q.name for q in spark.streams.active}
            if len(running) < len(STAGES):
                raise RuntimeError(f"a stage stopped during the dim bootstrap: {sorted(running)}")
            if time.time() > deadline:
                raise TimeoutError("the dim bootstrap left no committed snapshot")
            time.sleep(0.05)
    except BaseException:
        topo.stop()
        raise
    return topo


def _stamps(root: str) -> list[dict]:
    with open(os.path.join(root, "stamps.jsonl")) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _expected(seed: int, waves: list[int]):
    """Brand totals and DAU from the generated rows, computed by DuckDB
    with the inventory's own allocation oracle."""
    import duckdb
    import pandas as pd

    from gen import Feed
    from realtime0523_spark.plans import REGISTRY

    feed = Feed(seed)
    heads, details, starts = [], [], []
    for i in waves:
        w = feed.wave(i)
        heads += w["heads"]
        details += w["details"]
        starts += w["starts"]
    con = duckdb.connect()
    con.register("orders", pd.DataFrame(heads))
    con.register("lineitem", pd.DataFrame(details))
    con.register("part", pd.DataFrame(feed.dim_rows()).drop(columns="ts"))
    brand = con.execute(REGISTRY["brand_amount"].oracle).df()
    st = pd.DataFrame(starts)
    st["dt"] = pd.to_datetime(st["ts"], unit="ms", utc=True).dt.strftime("%Y-%m-%d")
    dau = st.groupby("dt")["mid"].nunique()
    con.close()
    return dict(zip(brand["p_brand"], brand["amount"])), dict(dau)


def _check(topo, seed: int, waves: list[int]) -> list[str]:
    want_brand, want_dau = _expected(seed, waves)
    got_brand = {r["p_brand"]: r["amount"] for r in topo.ads_result().collect()}
    got_dau = {r["dt"]: r["dau"] for r in topo.dau_result().collect()}
    issues = []
    bad = sorted(b for b in set(got_brand) | set(want_brand)
                 if b not in got_brand or b not in want_brand
                 or abs(got_brand[b] - want_brand[b]) > 0.001)
    if bad:
        issues.append(f"ADS brand totals differ from the oracle on {bad[:5]}")
    if got_dau != want_dau:
        issues.append(f"DAU {got_dau} != distinct (dt, mid) {want_dau}")
    return issues


def layer_names() -> list[str]:
    names = [f"topology.{n}.{k}" for n in STAGES
             for k in ("batches", "batch_s", "add_batch_s", "rows_in")]
    names += [f"topology.{n}.queue_s" for n in ("dim", "dwd", "dws", "ads")]
    names += ["topology.dws.state_rows", "topology.dws.state_commit_s",
              "topology.dau.state_rows"]
    for span in SPAN_NAMES:
        names += [f"{span}_s", f"{span}_calls"]
    return names


def run(seed: int, seconds: float, trace: bool, work: str, deadline: float) -> dict:
    import tracing

    spans = tracing.Spans()
    phases, progress = {}, {}
    host0 = harness.host_stamp()
    root = os.path.join(work, "topo")
    os.makedirs(root)
    with harness.RssSampler() as rss:
        t0 = time.time()
        spark = harness.start_spark("perfbench-backlog")
        phases["session_s"] = time.time() - t0
        try:
            with tracing.patched(SPANS if trace else [], spans):
                t0 = time.time()
                topo = _bootstrap(spark, root, seed, deadline - 90.0)
                phases["bootstrap_s"] = time.time() - t0
                try:
                    for name in INGEST:
                        topo.stop_stage(name)
                    t0 = time.time()
                    _gen("backlog", "--root", root, "--seed", str(seed),
                         "--seconds", str(seconds))
                    phases["gen_s"] = time.time() - t0
                    spans.total.clear()
                    spans.calls.clear()
                    restart, cpu0 = time.time(), harness.tree_cpu_s()
                    for name in INGEST:
                        topo.start_stage(name)
                    topo.drain()
                    phases["drain_s"] = time.time() - restart
                    cpu_s = harness.tree_cpu_s() - cpu0
                    if trace:
                        queries = {q.name: q for q in spark.streams.active}
                        progress = {
                            n: tracing.since(queries[f"topology_{n}"].recentProgress, restart)
                            for n in STAGES
                        }
                finally:
                    topo.stop()
                stamps = _stamps(root)
                t0 = time.time()
                issues = _check(topo, seed, [s["wave"] for s in stamps])
                phases["check_s"] = time.time() - t0
        finally:
            harness.stop_spark(spark)
    host1 = harness.host_stamp()

    lin = TopologyLineage(root)
    done, failed = [], len(issues)
    for s in stamps:
        t = lin.ads_commit_for(os.path.join(root, "in", s["name"]))
        if t is None:
            failed += 1
            issues.append(f"{s['name']}: no ADS commit covers it")
        else:
            done.append(t)
    if not done:
        raise RuntimeError(f"no backlog wave reached ADS: {issues[:3]}")
    rows = sum(s["orders"] + s["details"] + s["skus"] for s in stamps)
    catchup_s = max(done) - restart
    e2e = {
        "setup_s": phases["session_s"] + phases["bootstrap_s"],
        "cpu_s": cpu_s,
        "peak_rss_mb": rss.peak_mb,
    }
    diag = {
        "catchup_s": catchup_s,
        "catchup_rows_per_s": rows / catchup_s,
        "cdc_rows": rows,
        "waves": len(stamps),
        "ads_batches": len(set(done)),
        "dau_last_commit_s": max(lin.logs["dau"].commit.values(), default=restart) - restart,
        "phases_s": phases,
        "failed_frac": failed / (len(stamps) + 2),
        "issues": issues,
        **harness.host_summary(host0, host1),
    }
    layers = {}
    if trace:
        for n in STAGES:
            p = tracing.stage_progress(progress[n])
            for k in ("batches", "batch_s", "add_batch_s", "rows_in"):
                layers[f"topology.{n}.{k}"] = p[k]
            if n == "dws":
                layers["topology.dws.state_rows"] = p["state_rows"]
                layers["topology.dws.state_commit_s"] = p["state_commit_s"]
            if n == "dau":
                layers["topology.dau.state_rows"] = p["state_rows"]
        for n, q in lin.queue_s(since=restart).items():
            layers[f"topology.{n}.queue_s"] = q
        layers.update(spans.metrics(SPAN_NAMES))
    # every backlog wave, plus the ADS and DAU checks
    return {"attempted": len(stamps) + 2, "failed": failed, "e2e": e2e, "wall_s": catchup_s,
            "layers": layers, "diag": diag}
