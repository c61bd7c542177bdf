from __future__ import annotations

import os

import pytest

from realtime0523_spark.core.catalog import TABLES, Catalog
from tests.conftest import SF_SMOKE

EXPECTED_MIN_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 100,
    "supplier": 5,
    "part": 100,
    "orders": 1000,
    "lineitem": 5000,
    "events": 500,
    "documents": 100,
    "embeddings": 100,
}


def test_all_tables_load_with_registered_schema(spark):
    cat = Catalog(spark, SF_SMOKE)
    for name in TABLES:
        df = cat.table(name)
        assert df.count() >= EXPECTED_MIN_ROWS[name], name
        assert [f.name for f in df.schema.fields] == [
            f.name for f in TABLES[name].fields
        ], name


def test_timestamp_columns_are_timestamps(spark):
    cat = Catalog(spark, SF_SMOKE)
    assert dict(cat.table("events").dtypes)["ts"] == "timestamp"
    assert dict(cat.table("orders").dtypes)["o_orderdate"] == "timestamp"
    row = cat.table("events").selectExpr("min(year(ts)) y").first()
    assert row.y >= 2000  # nano→micro conversion didn't land in 1970


def test_unknown_table_raises(spark):
    with pytest.raises(KeyError):
        Catalog(spark, SF_SMOKE).table("nope")


def _write_events_fixture(path, unit):
    """A 3-row events.parquet with `ts` stored at the given unit
    ('int96' = legacy INT96 physical encoding, which pyarrow reports
    as timestamp[ns] but Spark reads natively)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    int96 = unit == "int96"
    if int96:
        unit = "ns"
    ts = pa.array([1704067200_000_000, 1704067260_000_000, 1704067320_000_000]).cast(
        pa.timestamp("us")
    ).cast(pa.timestamp(unit))
    table = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": ts,
            "user_id": pa.array([10, 11, 12], pa.int64()),
            "event_type": pa.array(["click", "view", "click"]),
            "value": pa.array([1.0, 2.0, 3.0]),
            "props": pa.array(["{}", "{}", "{}"]),
        }
    )
    pq.write_table(table, path, use_deprecated_int96_timestamps=int96)


@pytest.mark.parametrize("unit", ["ns", "us", "ms", "int96"])
def test_timestamp_unit_probed_from_footer(spark, tmp_path, unit):
    # The loader must read the SAME logical instants whatever physical
    # unit the fixture generator chose — the round-3 regression was a
    # hard-coded nanos assumption against a micros file.
    from realtime0523_spark.core.catalog import nano_ts_cols

    sf_dir = tmp_path / unit
    sf_dir.mkdir()
    _write_events_fixture(str(sf_dir / "events.parquet"), unit)
    probed = nano_ts_cols(str(sf_dir / "events.parquet"), TABLES["events"])
    assert probed == (["ts"] if unit == "ns" else [])
    rows = (
        Catalog(spark, str(sf_dir))
        .table("events")
        .selectExpr("date_format(ts, 'yyyy-MM-dd HH:mm:ss') s")
        .orderBy("s")
        .collect()
    )
    assert [r.s for r in rows] == [
        "2024-01-01 00:00:00",
        "2024-01-01 00:01:00",
        "2024-01-01 00:02:00",
    ]


def test_epoch_collapsed_fixture_fails_loudly(spark, tmp_path):
    # Tripwire: a fixture whose timestamps actually sit near 1970 (the
    # symptom of a unit mix-up upstream) must refuse to load, not emit
    # six opaque hash mismatches downstream.
    import pyarrow as pa
    import pyarrow.parquet as pq

    ts = pa.array([1704067200_000, 1704067260_000]).cast(pa.timestamp("us"))
    table = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": ts,  # 1970-01-20 — micros that were divided as if nanos
            "user_id": pa.array([10, 11], pa.int64()),
            "event_type": pa.array(["click", "view"]),
            "value": pa.array([1.0, 2.0]),
            "props": pa.array(["{}", "{}"]),
        }
    )
    pq.write_table(table, str(tmp_path / "events.parquet"))
    with pytest.raises(ValueError, match="1970 epoch"):
        Catalog(spark, str(tmp_path)).table("events")


# ---------------------------------------------------------------------------
# partitioned layout (core.layout)
# ---------------------------------------------------------------------------


def test_write_partitioned_one_file_per_partition_and_sorted(spark, tmp_path):
    """File count = |partitions| regardless of writer parallelism (the
    small-files trap), and rows inside each file are sorted by the
    sort column (row-group min/max locality)."""
    import glob

    from realtime0523_spark.core.layout import write_partitioned

    ev = Catalog(spark, SF_SMOKE).table("events")
    dest = str(tmp_path / "ev_by_type")
    write_partitioned(ev, dest, "event_type", sort_cols="ts")

    n_types = ev.select("event_type").distinct().count()
    files = glob.glob(f"{dest}/event_type=*/*.parquet")
    dirs = glob.glob(f"{dest}/event_type=*")
    assert len(dirs) == n_types
    assert len(files) == n_types  # exactly one file per partition dir

    import pyarrow.parquet as pq

    t = pq.read_table(files[0], columns=["ts"]).to_pandas()
    assert t["ts"].is_monotonic_increasing


def test_scan_pruned_prunes_and_refuses(spark, tmp_path):
    """A partition-column predicate must reach the scan as a
    PartitionFilter (tree-walked, not string-matched); a predicate on
    a non-partition column must be refused loudly."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from realtime0523_spark.core.layout import (
        partition_filter_count,
        scan_pruned,
        write_partitioned,
    )

    ev = Catalog(spark, SF_SMOKE).table("events")
    dest = str(tmp_path / "ev_by_type")
    write_partitioned(ev, dest, "event_type", sort_cols="ts")

    clicks = scan_pruned(spark, dest, F.col("event_type") == "click")
    assert partition_filter_count(clicks) >= 1
    assert clicks.count() == ev.filter(F.col("event_type") == "click").count()

    with _pytest.raises(RuntimeError, match="ZERO partition filters"):
        scan_pruned(spark, dest, F.col("value") > 5.0)

    # the escape hatch still reads correctly, it just pays the full scan
    full = scan_pruned(spark, dest, F.col("value") > 5.0, require_pruning=False)
    assert full.count() == ev.filter(F.col("value") > 5.0).count()


def test_write_partitioned_files_per_partition_salt(spark, tmp_path):
    """The salt spreads each partition over several files. AQE's
    partition coalescing rightly merges this toy-sized shuffle into
    one task (at 100 TB, partitions above the advisory size stay
    separate and the salt takes effect) — disable coalescing here to
    observe the at-scale layout."""
    import glob

    from realtime0523_spark.core.layout import write_partitioned

    ev = Catalog(spark, SF_SMOKE).table("events")
    dest = str(tmp_path / "ev_salted")
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        write_partitioned(ev, dest, "event_type", files_per_partition=3)
    finally:
        spark.conf.set(key, prev)
    n_types = ev.select("event_type").distinct().count()
    files = glob.glob(f"{dest}/event_type=*/*.parquet")
    # ≤ files×|partitions|, > |partitions| (salt actually spreads)
    assert n_types < len(files) <= 3 * n_types


def test_bench_host_factor_normalization_contract():
    """bench.py's sidecar host_factor is the per-metric MIN of the
    run's before/after probes over the BASELINE quiet-host reference
    values (PROBE_REF) — 1.0 means the regime the results table was
    recorded in. Absent/partial probes degrade to null / the metrics
    present; non-positive probe values are ignored (a failed probe
    must not fabricate a factor)."""
    import bench

    ref = bench.PROBE_REF
    assert set(ref) == {"shuffle_s", "arrow_s", "sched_s"}
    # identical-to-reference probes → exactly 1.0 on every axis
    assert bench._host_factor(dict(ref)) == {k: 1.0 for k in ref}
    # min across before/after picks the better (steady-state) probe
    before = {k: v * 3 for k, v in ref.items()}
    after = {k: v * 1.5 for k, v in ref.items()}
    assert bench._host_factor(before, after) == {k: 1.5 for k in ref}
    # degraded host reads > 1, and the factor is per-metric
    skewed = dict(ref, sched_s=ref["sched_s"] * 4)
    assert bench._host_factor(skewed)["sched_s"] == 4.0
    assert bench._host_factor(skewed)["arrow_s"] == 1.0
    # no probes → null; partial probes → partial factor
    assert bench._host_factor(None, None) is None
    assert bench._host_factor({"arrow_s": ref["arrow_s"]}, None) == {
        "arrow_s": 1.0
    }
    assert bench._host_factor({"arrow_s": 0.0}) is None


def test_bench_sidecar_never_overwrites(tmp_path, monkeypatch):
    """The sidecar is named one past the highest BENCH_r{N}.json; when
    that name is taken, the first free `_run{K}` name follows it."""
    import bench

    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    assert bench._local_artifact_path() == str(tmp_path / "BENCH_LOCAL.json")
    (tmp_path / "BENCH_r14.json").write_text("{}")
    names = []
    for _ in range(3):
        path = bench._local_artifact_path()
        names.append(os.path.basename(path))
        open(path, "w").close()
    assert names == [
        "BENCH_LOCAL_r15.json",
        "BENCH_LOCAL_r15_run1.json",
        "BENCH_LOCAL_r15_run2.json",
    ]


def test_bench_chunk_reports_failed_warm_up(spark, monkeypatch):
    """A query whose sf0.001 warm-up raises still gets measured, and the
    failure lands in the chunk's hygiene failures, not in silence."""
    from types import SimpleNamespace

    import bench
    from realtime0523_spark.core import session

    def fn(spark_, sf_dir):
        if sf_dir.endswith("sf0.001"):
            raise RuntimeError("warm-up broke\nsecond line")
        return spark_.range(3)

    monkeypatch.setattr(session, "get_spark", lambda name: spark)
    monkeypatch.setattr(bench, "REGISTRY", {"boom": SimpleNamespace(fn=fn)})
    timings, _, hygiene, _ = bench._run_chunk(["boom"], "/no/such/sf")
    assert set(timings) == {"boom"}
    assert "warm-up boom: RuntimeError: warm-up broke" in hygiene


def test_bench_release_reports_failed_hygiene_steps(spark):
    """bench.py's between-query release runs every step and returns
    the ones that raised (for the sidecar) instead of swallowing them:
    clean on a live session, one line per step on a broken one."""
    import bench

    assert bench._release_query_state(spark) == []

    class Broken:
        def __getattr__(self, name):
            raise RuntimeError(f"no {name}\nsecond line")

    failed = bench._release_query_state(Broken())
    assert [f.split(":")[0] for f in failed] == [
        "clear_cache", "drop_memory_views", "unpersist_rdds",
        "stop_state_stores", "gc",
    ]
    assert failed[0] == "clear_cache: RuntimeError: no catalog"


def test_tool_runs_python_udfs_from_outside_repo_root(tmp_path):
    """A tool started from another directory runs its Python UDFs: the
    tools put the repo root on the driver's sys.path only, so the
    workers find the package through get_spark's PYTHONPATH conf."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "2"
    res = subprocess.run(
        [
            sys.executable,
            os.path.join(repo, "tools", "check_oracle.py"),
            SF_SMOKE,
            "emb_cosine_topk",
        ],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert res.returncode == 0, res.stdout[-2000:] + res.stderr[-3000:]
    assert "emb_cosine_topk: ok" in res.stdout
