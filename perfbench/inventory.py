"""The `inventory_sample` workload: a fixed slice of the query registry,
one query at a time, over the repository's sf0.01 test fixtures
(`data/sf0.01`, a read-only copy of the seed-42 tables TESTDATA.md
describes). The inputs are fixed, so every `--seed` runs the same work.

Set-up (timed as `setup_s`): the session start plus one warm-up that
touches the parquet reader, a shuffle and a Python worker in the fresh
JVM.
Measured (`cpu_s`): the CPU seconds of the run's processes summed over
each query's window, from calling its registry function to holding its
result as pandas; the windows' wall times are diagnostics. Between
queries the harness drops caches, memory-sink views, persisted RDDs and
state-store providers, and reports each step that fails. Every result is compared
with the query's DuckDB oracle after the pass, outside the timed
windows.
"""

from __future__ import annotations

import os
import time

import harness

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
# One query per family the ROADMAP's open items aim at: the allocation
# operator ADS shares, the `parts_*` graph family, and the RFM and
# vocabulary driver gates (the last one the `llm` package's). Cheap
# queries first: the graph family pays most for a cold JIT, and measured
# first its wall time swung by a quarter between runs.
SLICE = [
    "allocation",
    "parts_kcore",
    "customers_rfm",
    "docs_wordpiece_merges",
]
LAYER_KEYS = ("wall_s", "jobs", "driver_gap_s", "shuffle_mb", "python_s")


def layer_names() -> list[str]:
    return [f"inventory.{q}.{k}" for q in SLICE for k in LAYER_KEYS]


def _warm_up(spark, data: str) -> None:
    from pyspark.sql import functions as F

    def echo(batches):
        yield from batches

    li = spark.read.parquet(os.path.join(data, "lineitem.parquet"))
    li.groupBy("l_returnflag").agg(F.sum("l_quantity")).collect()
    li.select("l_orderkey").mapInPandas(echo, "l_orderkey long").limit(10).collect()


def _release(spark) -> list[str]:
    """Between-query cleanup. Returns the steps that failed."""
    failed = []
    steps = [
        ("clear_cache", lambda: spark.catalog.clearCache()),
        ("drop_memory_views", lambda: [
            spark.catalog.dropTempView(t.name)
            for t in spark.catalog.listTables() if t.name.startswith("mem_")
        ]),
        ("unpersist_rdds", lambda: [
            r.unpersist(False)
            for r in list(spark.sparkContext._jsc.getPersistentRDDs().values())
        ]),
        ("stop_state_stores", lambda: (
            spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
        )),
        ("gc", lambda: spark._jvm.System.gc()),
    ]
    for name, step in steps:
        try:
            step()
        except Exception as e:  # noqa: BLE001 - reported, never swallowed
            failed.append(f"{name}: {type(e).__name__}: {str(e).splitlines()[0][:120]}")
    return failed


def run(seed: int, seconds: float, trace: bool, work: str, deadline: float) -> dict:
    from realtime0523_spark.plans import REGISTRY
    from tools.check_oracle import compare, duckdb_con

    import tracing

    host0 = harness.host_stamp()
    walls, cpus, results, layers = {}, {}, {}, {}
    errors, hygiene = {}, []
    with harness.RssSampler() as rss:
        t0 = time.time()
        spark = harness.start_spark("perfbench-inventory")
        session_s = time.time() - t0
        try:
            t0 = time.time()
            _warm_up(spark, DATA)
            warm_up_s = time.time() - t0
            hygiene += _release(spark)
            status = tracing.StatusReader(spark) if trace else None
            for name in SLICE:
                if time.time() > deadline:
                    raise TimeoutError(f"deadline reached before {name}")
                if status is not None:
                    job0, exec0 = status.last_job_id(), status.last_execution_id()
                t0, cpu0 = time.perf_counter(), harness.tree_cpu_s()
                try:
                    results[name] = REGISTRY[name].fn(spark, DATA).toPandas()
                except Exception as e:  # noqa: BLE001 - counted as a failed op
                    errors[name] = f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
                walls[name] = time.perf_counter() - t0
                cpus[name] = harness.tree_cpu_s() - cpu0
                if status is not None:
                    w = status.window(job0, exec0, walls[name])
                    w["wall_s"] = walls[name]
                    for k in LAYER_KEYS:
                        layers[f"inventory.{name}.{k}"] = w[k]
                hygiene += [f"after {name}: {h}" for h in _release(spark)]
        finally:
            harness.stop_spark(spark)
    host1 = harness.host_stamp()

    con = duckdb_con(DATA)
    for name, pdf in results.items():
        issues = compare(pdf, con.execute(REGISTRY[name].oracle).df())
        if issues:
            errors[name] = "; ".join(issues)[:300]
    con.close()
    per_query = [walls[n] for n in SLICE if n in walls]
    e2e = {
        "setup_s": session_s + warm_up_s,
        "cpu_s": sum(cpus.values()),
        "peak_rss_mb": rss.peak_mb,
    }
    diag = {
        "inventory_s": sum(per_query),
        "per_query_cpu_s": cpus,
        "per_query_s": walls,
        "slowest_query": max(walls, key=walls.get),
        "failed_frac": len(errors) / len(SLICE),
        "errors": errors,
        "hygiene_failures": hygiene,
        "session_s": session_s,
        "warm_up_s": warm_up_s,
        **harness.host_summary(host0, host1),
    }
    return {"attempted": len(SLICE), "failed": len(errors), "e2e": e2e,
            "wall_s": diag["inventory_s"],
            "layers": layers, "diag": diag}
