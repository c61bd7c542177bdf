"""Streaming-layer tests (SURVEY §5.4): file sources + memory/foreachBatch
sinks; replay, late-data, and restart semantics."""

from __future__ import annotations

import datetime
import json
import os
import time

import pytest
from pyspark.sql import functions as F

from realtime0523_spark.core.catalog import Catalog
from realtime0523_spark.streaming.dau import streaming_dau
from realtime0523_spark.streaming.first_seen import streaming_first_seen
from realtime0523_spark.streaming.order_wide import streaming_order_wide
from realtime0523_spark.streaming.router import route_cdc
from realtime0523_spark.streaming.runner import run_foreach_batch, run_to_memory
from realtime0523_spark.streaming.sinks import (
    idempotent_batch_writer,
    latest_dim_version,
    versioned_dim_upsert,
)
from realtime0523_spark.streaming.sources import CDC_ENVELOPE, stream_table
from tests.conftest import SF_SMOKE


@pytest.fixture(params=["hdfs", "rocksdb"], ids=["hdfs-state", "rocksdb-state"])
def state_provider(request, monkeypatch):
    """Run the stateful-streaming correctness tests under BOTH state
    store providers: the default HDFS-backed heap store and RocksDB
    (the off-heap provider for 100 TB-scale keyed state). State
    storage is an executor concern, never a semantics one — every
    assertion must hold bit-identically under either provider."""
    if request.param == "rocksdb":
        monkeypatch.setenv("SPARK_GRAFT_STATE_STORE", "rocksdb")
    else:
        monkeypatch.delenv("SPARK_GRAFT_STATE_STORE", raising=False)
    return request.param


@pytest.fixture(params=["4"], ids=["bucketed"])
def bucketed(request, monkeypatch):
    """Run the bucketed keyed-state operators at a fixed bucket count
    (SPARK_GRAFT_STATE_BUCKETS), independent of the session's cores."""
    monkeypatch.setenv("SPARK_GRAFT_STATE_BUCKETS", request.param)


def test_stream_dau_equals_batch_dau(spark, state_provider):
    got = run_to_memory(
        streaming_dau(stream_table(spark, SF_SMOKE, "events")), output_mode="complete"
    )
    ev = Catalog(spark, SF_SMOKE).table("events")
    want = (
        ev.select(F.date_format("ts", "yyyy-MM-dd").alias("dt"), "user_id")
        .distinct()
        .groupBy("dt")
        .agg(F.count(F.lit(1)).alias("dau"))
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_stream_windowed_counts_matches_batch(spark, state_provider):
    """The streaming tumbling-window aggregate (complete mode, windowed
    state) must reproduce the batch windowed counts under either state
    provider."""
    from realtime0523_spark.plans import REGISTRY

    got = REGISTRY["stream_windowed_counts"].fn(spark, SF_SMOKE)
    want = REGISTRY["windowed_event_counts"].fn(spark, SF_SMOKE)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_stream_order_wide_equals_batch_join(spark):
    orders = stream_table(spark, SF_SMOKE, "orders")
    details = stream_table(spark, SF_SMOKE, "lineitem")
    wide = streaming_order_wide(orders, details).select(
        "o_orderkey", "l_linenumber", "o_totalprice", "l_extendedprice"
    )
    got = run_to_memory(wide)
    cat = Catalog(spark, SF_SMOKE)
    want = cat.table("orders").join(
        cat.table("lineitem"),
        F.col("o_orderkey") == F.col("l_orderkey"),
    )
    assert got.count() == want.count()


def test_inventory_stream_order_wide_is_watermark_bounded(spark):
    """The driver-checked stream_order_wide must run the BOUNDED-state
    branch: watermarks on both inputs (visible in the analyzed plan)
    and engine-managed symmetric hash-join state — not the unbounded
    equi-join that melts down at 100× scale — while still emitting
    every header×detail pair (cdc_commit_time gives matching keys
    identical event times)."""
    from realtime0523_spark.streaming.order_wide import cdc_commit_time

    o = stream_table(spark, SF_SMOKE, "orders").withColumn(
        "o_commit_ts", cdc_commit_time("o_orderkey")
    )
    d = stream_table(spark, SF_SMOKE, "lineitem").withColumn(
        "l_commit_ts", cdc_commit_time("l_orderkey")
    )
    wide = streaming_order_wide(
        o, d, order_ts="o_commit_ts", detail_ts="l_commit_ts", tolerance="50 seconds"
    )
    analyzed = str(wide._jdf.queryExecution().analyzed())
    assert analyzed.count("EventTimeWatermark") == 2, analyzed

    q = (
        wide.select("o_orderkey", "l_linenumber")
        .writeStream.format("memory")
        .queryName("wm_join_probe")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    state_ops = [
        op
        for p in q.recentProgress
        for op in (p["stateOperators"] or [])
    ]
    q.stop()
    assert any(op["operatorName"] == "symmetricHashJoin" for op in state_ops), state_ops

    cat = Catalog(spark, SF_SMOKE)
    want = cat.table("orders").join(
        cat.table("lineitem"), F.col("o_orderkey") == F.col("l_orderkey")
    )
    assert spark.table("wm_join_probe").count() == want.count()


def _write_cdc_batch(path: str, rows: list[dict]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


CDC_ROWS = [
    {"table": "order_info", "type": "insert", "data": {"id": "1", "amt": "10.5"}, "ts": 1},
    {"table": "order_info", "type": "update", "data": {"id": "1", "amt": "99"}, "ts": 2},  # dropped: fact non-insert
    {"table": "order_detail", "type": "insert", "data": {"id": "7", "order_id": "1"}, "ts": 3},
    {"table": "user_info", "type": "update", "data": {"id": "u1", "name": "n"}, "ts": 4},  # kept: dim any-op
    {"table": "noise_table", "type": "insert", "data": {"id": "x"}, "ts": 5},  # dropped: unrouted table
    {"table": "base_trademark", "type": "insert", "data": {}, "ts": 6},  # dropped: empty data
    {"table": "sku_info", "type": "bootstrap-insert", "data": {"id": "s1"}, "ts": 7},  # kept: dim any-op
]


def test_cdc_router_predicate_and_fanout(spark, tmp_path):
    in_dir = tmp_path / "cdc_in"
    _write_cdc_batch(str(in_dir / "b0.json"), CDC_ROWS)
    got = route_cdc(spark.read.schema(CDC_ENVELOPE).json(str(in_dir))).select(
        "topic", F.to_json(F.col("data")).alias("value")
    )
    topics = {r.topic: r.n for r in got.groupBy("topic").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert topics == {
        "ods_order_info": 1,
        "ods_order_detail": 1,
        "ods_user_info": 1,
        "ods_sku_info": 1,
    }
    # payload survives as JSON (P1 round-trip)
    row = got.filter(F.col("topic") == "ods_order_info").first()
    assert json.loads(row.value) == {"id": "1", "amt": "10.5"}


def test_windowed_join_keeps_within_tolerance_drops_beyond(spark, tmp_path):
    """J1 semantics: detail arriving within ±50 s of its header joins;
    beyond the watermark horizon it is dropped (T5)."""
    base = 1_700_000_000
    orders_rows = [(1, base), (2, base + 1000)]
    details_rows = [
        (10, 1, base + 20),     # within 50 s → kept
        (11, 1, base + 49),     # boundary-inside → kept
        (12, 1, base + 120),    # 120 s late → outside range condition
        (13, 2, base + 1030),   # within → kept
    ]
    odir, ddir = str(tmp_path / "o"), str(tmp_path / "d")
    spark.createDataFrame(orders_rows, "o_orderkey long, o_ts_s long").withColumn(
        "o_ts", F.timestamp_seconds("o_ts_s")
    ).drop("o_ts_s").write.parquet(odir)
    spark.createDataFrame(details_rows, "d_id long, l_orderkey long, d_ts_s long").withColumn(
        "d_ts", F.timestamp_seconds("d_ts_s")
    ).drop("d_ts_s").write.parquet(ddir)

    o_stream = spark.readStream.schema("o_orderkey long, o_ts timestamp").parquet(odir)
    d_stream = spark.readStream.schema("d_id long, l_orderkey long, d_ts timestamp").parquet(ddir)
    joined = streaming_order_wide(
        o_stream, d_stream, order_ts="o_ts", detail_ts="d_ts", tolerance="50 seconds"
    )
    got = run_to_memory(joined.select("o_orderkey", "d_id"))
    assert sorted(map(tuple, got.collect())) == [(1, 10), (1, 11), (2, 13)]


def test_split_input_join_refuses_watermark_drops(spark, tmp_path):
    """The cdc_commit_time join family promises completeness: every
    header×detail pair joins because matching keys share an event time
    AND partners co-arrive in one drain. Spark's symmetric join is
    forgiving of a synchronized split (co-arriving halves join
    within-batch regardless of watermark — verified while writing
    this test), so the dangerous shape is a DESYNCHRONIZED split:
    high-timestamp halves first, then the low-timestamp orders (batch
    2, below the advanced watermark), then their lineitem partners one
    batch later (an empty gap file forces the offset). The late
    lineitems' join window is entirely below the watermark → dropped
    on input → thousands of pairs silently missing. The drain must
    REFUSE loudly instead of returning that result (VERDICT r2/r3)."""
    import os
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from realtime0523_spark.streaming.order_wide import cdc_commit_time
    from realtime0523_spark.streaming.runner import run_to_memory as _rtm

    cat = Catalog(spark, SF_SMOKE)
    od = cat.table("orders").select("o_orderkey", "o_totalprice").toPandas()
    ld = cat.table("lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    ).toPandas()
    cut = int((od["o_orderkey"] % 86400).median())
    now = _time.time()
    (tmp_path / "o").mkdir()
    (tmp_path / "l").mkdir()

    def write(df, path, mtime):
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False), str(path))
        os.utime(path, (mtime, mtime))

    o_hi = od[od.o_orderkey % 86400 >= cut]
    o_lo = od[od.o_orderkey % 86400 < cut]
    l_hi = ld[ld.l_orderkey % 86400 >= cut]
    l_lo = ld[ld.l_orderkey % 86400 < cut]
    assert len(o_lo) and len(l_lo), "split must be non-trivial"
    # mtime = processing order (maxFilesPerTrigger=1, oldest first):
    # batch 0 = both hi halves; batch 1 = lo orders + empty gap;
    # batch 2 = lo lineitems, one batch after their partners.
    write(o_hi, tmp_path / "o/a.parquet", now - 300)
    write(o_lo, tmp_path / "o/b.parquet", now - 200)
    write(l_hi, tmp_path / "l/a.parquet", now - 300)
    write(ld.iloc[0:0], tmp_path / "l/b.parquet", now - 200)
    write(l_lo, tmp_path / "l/c.parquet", now - 100)

    o = (
        spark.readStream.schema("o_orderkey long, o_totalprice double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "o"))
        .withColumn("o_commit_ts", cdc_commit_time("o_orderkey"))
    )
    d = (
        spark.readStream.schema(
            "l_orderkey long, l_linenumber int, l_extendedprice double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "l"))
        .withColumn("l_commit_ts", cdc_commit_time("l_orderkey"))
    )
    wide = streaming_order_wide(
        o, d, order_ts="o_commit_ts", detail_ts="l_commit_ts", tolerance="50 seconds"
    )
    with pytest.raises(RuntimeError, match="dropped .* at the watermark"):
        _rtm(
            wide.select("o_orderkey", "l_linenumber"),
            no_data_batches=False,
            forbid_watermark_drops=True,
        )


def test_split_input_join_synchronized_matches_batch(spark, tmp_path):
    """The POSITIVE twin of the refusal test above (VERDICT r3/r4): an
    event-time-ordered split across maxFilesPerTrigger=1 micro-batches
    — the shape a real replay produces, each side's slice carrying the
    same key range in the same order — must drain to EXACTLY the batch
    join under the loud completeness contract: partners co-arrive in
    one micro-batch (cdc_commit_time gives matching keys identical
    event times), the watermark only ever advances behind fully-joined
    slices, so zero rows drop and nothing refuses. Together the two
    tests pin the contract: a drain either matches the oracle or
    raises — it never silently loses pairs."""
    import os
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from realtime0523_spark.streaming.order_wide import cdc_commit_time
    from realtime0523_spark.streaming.runner import run_to_memory as _rtm

    cat = Catalog(spark, SF_SMOKE)
    od = cat.table("orders").select("o_orderkey", "o_totalprice").toPandas()
    ld = cat.table("lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    ).toPandas()
    slot_o = od.o_orderkey % 86400
    slot_l = ld.l_orderkey % 86400
    cuts = [slot_o.quantile(q) for q in (0.25, 0.5, 0.75)]
    bounds = [(-1, cuts[0]), (cuts[0], cuts[1]), (cuts[1], cuts[2]), (cuts[2], 86401)]
    now = _time.time()
    (tmp_path / "o").mkdir()
    (tmp_path / "l").mkdir()

    def write(df, path, mtime):
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False), str(path))
        os.utime(path, (mtime, mtime))

    # slices ordered by event time, mtimes aligned across the two
    # sides → maxFilesPerTrigger=1 replays them as synchronized,
    # time-ordered micro-batches
    for i, (lo, hi) in enumerate(bounds):
        o_part = od[(slot_o > lo) & (slot_o <= hi)]
        l_part = ld[(slot_l > lo) & (slot_l <= hi)]
        assert len(o_part), (lo, hi)
        write(o_part, tmp_path / f"o/{i}.parquet", now - 400 + i * 100)
        write(l_part, tmp_path / f"l/{i}.parquet", now - 400 + i * 100)

    o = (
        spark.readStream.schema("o_orderkey long, o_totalprice double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "o"))
        .withColumn("o_commit_ts", cdc_commit_time("o_orderkey"))
    )
    d = (
        spark.readStream.schema(
            "l_orderkey long, l_linenumber int, l_extendedprice double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "l"))
        .withColumn("l_commit_ts", cdc_commit_time("l_orderkey"))
    )
    wide = streaming_order_wide(
        o, d, order_ts="o_commit_ts", detail_ts="l_commit_ts", tolerance="50 seconds"
    )
    got = _rtm(
        wide.select("o_orderkey", "l_linenumber"),
        no_data_batches=False,
        forbid_watermark_drops=True,  # completeness stays a loud contract
    )
    want = cat.table("orders").join(
        cat.table("lineitem"), F.col("o_orderkey") == F.col("l_orderkey")
    ).select("o_orderkey", "l_linenumber")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_outer_streaming_join_emits_null_after_watermark(spark, tmp_path):
    """J3 semantics: the reference's commented fullOuterJoin+Redis-cache
    design (OrderWiderApp.scala:63-115) — an unmatched header is emitted
    with null detail columns only once the watermark proves no partner
    can arrive (the TTL-expiry the reference hand-rolled)."""
    base = 1_700_000_000
    odir, ddir = str(tmp_path / "o"), str(tmp_path / "d")

    def write(path, rows, schema, ts_col):
        df = spark.createDataFrame(rows, schema).withColumn(
            ts_col, F.timestamp_seconds(ts_col + "_s")
        ).drop(ts_col + "_s")
        df.coalesce(1).write.mode("append").parquet(path)

    # batch 0: order 1 has a detail, order 2 never will
    write(odir, [(1, base), (2, base + 1)], "o_orderkey long, o_ts_s long", "o_ts")
    write(ddir, [(10, 1, base + 5)], "d_id long, l_orderkey long, d_ts_s long", "d_ts")
    time.sleep(1.1)  # file source orders batches by mod time
    # batch 1: flush rows far in the future push both watermarks past order 2
    write(odir, [(99, base + 10_000)], "o_orderkey long, o_ts_s long", "o_ts")
    write(ddir, [(999, 999, base + 10_000)], "d_id long, l_orderkey long, d_ts_s long", "d_ts")

    o_stream = (
        spark.readStream.schema("o_orderkey long, o_ts timestamp")
        .option("maxFilesPerTrigger", 1).parquet(odir)
    )
    d_stream = (
        spark.readStream.schema("d_id long, l_orderkey long, d_ts timestamp")
        .option("maxFilesPerTrigger", 1).parquet(ddir)
    )
    joined = streaming_order_wide(
        o_stream, d_stream, order_ts="o_ts", detail_ts="d_ts",
        tolerance="50 seconds", how="left_outer",
    )
    got = sorted(map(tuple, run_to_memory(joined.select("o_orderkey", "d_id")).collect()))
    # (1,10) matched; (2,None) expired-unmatched; flush order 99 still in
    # state (watermark hasn't passed it) so not emitted
    assert got == [(1, 10), (2, None)]


def test_outer_streaming_join_without_watermark_rejected(spark):
    orders = stream_table(spark, SF_SMOKE, "orders")
    details = stream_table(spark, SF_SMOKE, "lineitem")
    with pytest.raises(ValueError, match="watermark"):
        streaming_order_wide(orders, details, how="full_outer")


def test_streaming_dedup_ttl_expiry_reemits(spark, tmp_path, state_provider):
    """D2/T4 semantics: duplicates within the TTL horizon are
    suppressed; once the watermark evicts a key's state, a fresh
    sighting re-emits — exactly the reference's expired Redis set
    (OrderWiderApp.scala:129-147)."""
    from realtime0523_spark.streaming.dedup import streaming_dedup

    base = 1_700_000_000
    d = str(tmp_path / "in")

    def write(rows):
        spark.createDataFrame(rows, "k string, ts_s long").withColumn(
            "ts", F.timestamp_seconds("ts_s")
        ).drop("ts_s").coalesce(1).write.mode("append").parquet(d)

    write([("A", base)])
    time.sleep(1.1)
    # dup within horizon (suppressed) + a row pushing the watermark to
    # base+200, past A's stored event time
    write([("A", base + 10), ("B", base + 300)])
    time.sleep(1.1)
    # eviction applies the advanced watermark at this batch's commit
    # (state removal lags the watermark advance by one batch)
    write([("C", base + 310)])
    time.sleep(1.1)
    write([("A", base + 400)])  # state gone → re-emits

    stream = (
        spark.readStream.schema("k string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    got = sorted(
        (r.k, r.ts.timestamp() - base)
        for r in run_to_memory(
            streaming_dedup(stream, ["k"], "ts", ttl="100 seconds")
        ).collect()
    )
    assert got == [("A", 0.0), ("A", 400.0), ("B", 300.0), ("C", 310.0)]


def test_sliding_window_event_in_size_over_slide_windows(spark):
    """T2 sliding semantics (reference window(50s,5s)): one event falls
    in exactly size/slide overlapping windows, each 15 min apart."""
    from realtime0523_spark.streaming.windowed import streaming_windowed_counts

    df = spark.createDataFrame([("click", 1_700_000_450, 2.0)],
                               "event_type string, ts_s long, value double")
    df = df.withColumn("ts", F.timestamp_seconds("ts_s")).drop("ts_s")
    got = streaming_windowed_counts(df, window_size="1 hour", slide="15 minutes").collect()
    starts = sorted(r.window_start for r in got)
    assert len(starts) == 4 and all(r.n_events == 1 for r in got)
    # consecutive window starts are one slide (15 min) apart
    from datetime import datetime
    parsed = [datetime.strptime(s, "%Y-%m-%d %H:%M:%S") for s in starts]
    assert all((b - a).total_seconds() == 900 for a, b in zip(parsed, parsed[1:]))


def test_first_seen_state_equals_batch_min(spark, state_provider):
    orders = stream_table(spark, SF_SMOKE, "orders")
    got = run_to_memory(
        streaming_first_seen(orders, "o_custkey", "o_orderdate", "o_orderkey"),
        output_mode="update",
    )
    cat = Catalog(spark, SF_SMOKE)
    want = (
        cat.table("orders")
        .groupBy(F.col("o_custkey").alias("key"))
        .agg(F.min(F.struct(F.unix_micros("o_orderdate").alias("ts"), F.col("o_orderkey").alias("id"))).alias("m"))
        .select("key", F.col("m.ts").alias("first_ts"), F.col("m.id").alias("first_id"))
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_first_seen_bucketed_matches_per_key(
    spark, tmp_path, state_provider, monkeypatch
):
    """Each batch emits, for every key it carries, the key's earliest
    (ts, id) so far: a later batch carrying an earlier event time (the
    state-update path), an equal ts with a smaller id (the tiebreak), a
    pure re-sighting that re-emits the old minimum, and new keys
    appended after and inserted between the state's keys. One bucket,
    so every key shares one state cell and the mid-array insert runs."""
    monkeypatch.setenv("SPARK_GRAFT_STATE_BUCKETS", "1")
    base = 1_700_000_000
    d = str(tmp_path / "feed")

    def write(rows):
        spark.createDataFrame(rows, "k long, ts_s long, oid long").withColumn(
            "ts", F.timestamp_seconds("ts_s")
        ).drop("ts_s").coalesce(1).write.mode("append").parquet(d)

    write([(1, base + 500, 11), (2, base + 300, 12), (1, base + 400, 13)])
    time.sleep(1.1)
    write([(1, base + 200, 14), (2, base + 300, 10), (4, base + 700, 16)])
    time.sleep(1.1)
    write([(2, base + 900, 17), (3, base + 100, 15)])
    src = (
        spark.readStream.schema("k long, oid long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    batches: dict = {}

    def collect(batch_df, batch_id):
        rows = sorted(map(tuple, batch_df.collect()))
        if rows:
            batches[batch_id] = rows

    run_foreach_batch(streaming_first_seen(src, "k", "ts", "oid"), collect)

    def us(s):
        return (base + s) * 1_000_000

    assert [batches[b] for b in sorted(batches)] == [
        [(1, us(400), 13), (2, us(300), 12)],
        [(1, us(200), 14), (2, us(300), 10), (4, us(700), 16)],
        [(2, us(300), 10), (3, us(100), 15)],
    ]


def test_first_seen_bucketed_null_key_contract(spark, tmp_path):
    """xxhash64(NULL) buckets a null key like a value, so a null key
    reaches the kernel — it must raise the non-null-key contract by
    name, not an opaque int64-conversion worker error."""
    d = str(tmp_path / "nulls")
    spark.createDataFrame(
        [(None, 1_700_000_000, 1), (2, 1_700_000_000, 2)],
        "k long, ts_s long, oid long",
    ).withColumn("ts", F.timestamp_seconds("ts_s")).drop("ts_s").coalesce(
        1
    ).write.parquet(d)
    src = (
        spark.readStream.schema("k long, oid long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    with pytest.raises(Exception, match="non-null keys"):
        run_to_memory(
            streaming_first_seen(src, "k", "ts", "oid"),
            output_mode="update",
        )


def test_state_buckets_derivation(spark, monkeypatch):
    """The bucket count derives from the cluster's cores (2×
    defaultParallelism), env-overridable."""
    from realtime0523_spark.core.session import state_buckets

    monkeypatch.delenv("SPARK_GRAFT_STATE_BUCKETS", raising=False)
    assert state_buckets(spark) == 2 * spark.sparkContext.defaultParallelism
    monkeypatch.setenv("SPARK_GRAFT_STATE_BUCKETS", "17")
    assert state_buckets(spark) == 17


def test_stream_confs_select_filesystem_checkpoint_manager(spark):
    """Inside the runners' conf block, every checkpoint file manager
    Spark creates from the session is the FileSystem-based one (no
    `readlink` fork per rename on a local filesystem); after the block
    the previous value is restored, or the key unset when none was
    set."""
    from realtime0523_spark.streaming.runner import (
        _CHECKPOINT_MANAGER,
        _stream_shuffle,
    )

    key = "spark.sql.streaming.checkpointFileManagerClass"
    jvm = spark._jvm

    def created() -> str:
        path = jvm.org.apache.hadoop.fs.Path("file:///tmp/ckpt_probe")
        conf = spark._jsparkSession.sessionState().newHadoopConf()
        cfm = jvm.org.apache.spark.sql.execution.streaming.checkpointing
        return cfm.CheckpointFileManager.create(path, conf).getClass().getName()

    assert spark.conf.get(key, None) is None
    with _stream_shuffle(spark):
        assert created() == _CHECKPOINT_MANAGER
    assert spark.conf.get(key, None) is None
    assert created() != _CHECKPOINT_MANAGER
    spark.conf.set(key, "custom.Manager")
    try:
        with _stream_shuffle(spark):
            assert spark.conf.get(key) == _CHECKPOINT_MANAGER
        assert spark.conf.get(key) == "custom.Manager"
    finally:
        spark.conf.unset(key)


def test_idempotent_batch_writer_commits_once(spark, tmp_path):
    out = str(tmp_path / "ads")
    os.makedirs(out)
    df = spark.createDataFrame([(1, 10.0)], "k long, v double")
    w = idempotent_batch_writer(out)
    w(df, 7)
    first = spark.read.parquet(os.path.join(out, "batch_id=7")).collect()
    w(df.union(df), 7)  # replay with different content → must be a no-op
    again = spark.read.parquet(os.path.join(out, "batch_id=7")).collect()
    assert first == again and len(again) == 1


def test_versioned_dim_upsert_scd1(spark, tmp_path):
    dim = str(tmp_path / "dim")
    b1 = spark.createDataFrame([("u1", "alice", 1), ("u2", "bob", 1)], "id string, name string, v int")
    b2 = spark.createDataFrame([("u1", "ALICE", 2), ("u3", "carol", 2)], "id string, name string, v int")
    assert latest_dim_version(spark, dim) is None
    versioned_dim_upsert(spark, b1, dim, ["id"], "v", commit_id=0)
    versioned_dim_upsert(spark, b2, dim, ["id"], "v", commit_id=1)
    got = {r.id: r.name for r in latest_dim_version(spark, dim).collect()}
    assert got == {"u1": "ALICE", "u2": "bob", "u3": "carol"}
    # a replayed commit id is a no-op, whatever it carries
    versioned_dim_upsert(spark, b1, dim, ["id"], "v", commit_id=1)
    again = {r.id: r.name for r in latest_dim_version(spark, dim).collect()}
    assert again == got


def test_daily_idempotent_sink_replay_and_docid_overwrite(spark, tmp_path):
    """K3 contract (MyESUtil.scala:21-37): replaying a committed batch
    is a no-op; a later batch writing the same doc id overwrites (ES
    index-by-id), never duplicates."""
    from realtime0523_spark.streaming.sinks import daily_partitioned_idempotent_sink

    out = str(tmp_path / "idx")
    os.makedirs(out)
    write, read = daily_partitioned_idempotent_sink(out, dt_col="dt", id_cols=["id"])
    b0 = spark.createDataFrame([(1, "2024-01-01", "v1"), (2, "2024-01-02", "v1")],
                               "id long, dt string, payload string")
    write(b0, 0)
    write(b0.union(b0), 0)  # replay with different content → no-op
    assert read(spark).count() == 2
    # batch 1 re-indexes doc 1 → overwrite, not duplicate
    write(spark.createDataFrame([(1, "2024-01-01", "v2")],
                                "id long, dt string, payload string"), 1)
    got = {r.id: r.payload for r in read(spark).collect()}
    assert got == {1: "v2", 2: "v1"}


def test_fanout_sinks_persist_once(spark):
    """T8: the batch is cached while every sink runs (reference caches
    before Phoenix+Kafka+ES, Ods_to_DWD_order_info.scala:218) and
    released after."""
    from realtime0523_spark.streaming.sinks import fanout_sinks

    df = spark.createDataFrame([(1,)], "v long")
    cached_during: list[bool] = []

    def sink(batch_df, batch_id):
        cached_during.append(batch_df.storageLevel.useMemory)

    fanout_sinks(sink, sink)(df, 0)
    assert cached_during == [True, True]
    assert not df.storageLevel.useMemory  # unpersisted after fan-out


def test_streaming_dwd_cross_batch_first_order_flag(spark, tmp_path):
    """The DWD composition's cross-batch contract (D3 write-back,
    Ods_to_DWD_order_info.scala:128-169): a user's second-ever order
    arriving in a LATER batch is flagged 0 because batch N's
    first-timers were upserted into the status dim before batch N+1
    ran; two orders of one user in the SAME batch keep only the
    event-time-earliest flagged (same-batch correction)."""
    from realtime0523_spark.streaming.dwd import streaming_dwd_order

    in_dir = str(tmp_path / "orders_in")
    os.makedirs(in_dir)

    def write(rows):
        spark.createDataFrame(
            rows, "o_orderkey long, o_custkey long, o_dt_s long"
        ).withColumn("o_orderdate", F.timestamp_seconds("o_dt_s")).drop(
            "o_dt_s"
        ).coalesce(1).write.mode("append").parquet(in_dir)

    base = 1_700_000_000
    # batch 0: u1's first order
    write([(100, 1, base)])
    time.sleep(1.1)
    # batch 1: u1's SECOND order (flag 0), u2's first (flag 1),
    # u3 twice in one batch (earliest flag 1, other 0)
    write([(101, 1, base + 100), (102, 2, base + 100),
           (103, 3, base + 100), (104, 3, base + 200)])

    stream = (
        spark.readStream.schema("o_orderkey long, o_custkey long, o_orderdate timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    customer = spark.createDataFrame(
        [(1, "alice", 10), (2, "bob", 10), (3, "carol", 20)],
        "c_custkey long, c_name string, c_nationkey long",
    )
    nation = spark.createDataFrame(
        [(10, "FRANCE"), (20, "PERU")], "n_nationkey long, n_name string"
    )
    out = streaming_dwd_order(
        spark, stream, customer, nation, work_dir=str(tmp_path / "dwd")
    )
    flags = {r.o_orderkey: r.if_first_order for r in out.collect()}
    assert flags == {100: 1, 101: 0, 102: 1, 103: 1, 104: 0}


def test_streaming_dwd_write_back_failure_keeps_status_dim(
    spark, tmp_path, monkeypatch
):
    """A write-back that fails at its rename must not lose the
    user-status dim: the query fails, the restart replays the batch,
    and a later order of a user first seen in an EARLIER batch still
    arrives flagged 0."""
    from realtime0523_spark.streaming.dwd import streaming_dwd_order

    in_dir = str(tmp_path / "orders_in")
    os.makedirs(in_dir)
    base = 1_700_000_000
    # batch 0: u1's first order; batch 1: u2's first order (its
    # write-back fails once); batch 2: u1's second order
    for rows in ([(100, 1, base)], [(101, 2, base + 100)], [(102, 1, base + 200)]):
        spark.createDataFrame(
            rows, "o_orderkey long, o_custkey long, o_dt_s long"
        ).withColumn("o_orderdate", F.timestamp_seconds("o_dt_s")).drop(
            "o_dt_s"
        ).coalesce(1).write.mode("append").parquet(in_dir)
        time.sleep(1.1)
    customer = spark.createDataFrame(
        [(1, "alice", 10), (2, "bob", 10)],
        "c_custkey long, c_name string, c_nationkey long",
    )
    nation = spark.createDataFrame([(10, "FRANCE")], "n_nationkey long, n_name string")

    def run():
        stream = (
            spark.readStream.schema(
                "o_orderkey long, o_custkey long, o_orderdate timestamp"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        return streaming_dwd_order(
            spark, stream, customer, nation, work_dir=str(tmp_path / "dwd")
        )

    real_replace = os.replace
    status_renames: list = []

    def flaky_replace(src, dst):
        if "user_status" in str(dst):
            status_renames.append(dst)
            if len(status_renames) == 2:  # batch 1's write-back
                raise OSError("injected rename failure")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", flaky_replace)
    with pytest.raises(Exception, match="injected rename failure"):
        run()
    monkeypatch.setattr(os, "replace", real_replace)
    flags = {r.o_orderkey: r.if_first_order for r in run().collect()}
    assert flags == {100: 1, 101: 1, 102: 0}


def test_checkpoint_restart_no_reprocessing(spark, tmp_path):
    """T6: restart from checkpoint resumes at committed progress — a
    replayed run must not double-count (replaces the reference's
    Redis/MySQL offset-management tests)."""
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    os.makedirs(out)

    spark.createDataFrame([(1,), (2,)], "v long").write.parquet(os.path.join(in_dir, "f1"))

    def make_stream():
        return spark.readStream.schema("v long").option("latestFirst", "false").parquet(in_dir + "/*")

    seen: list[tuple[int, int]] = []

    def sink(batch_df, batch_id):
        writer = idempotent_batch_writer(out)
        writer(batch_df, batch_id)
        seen.append((batch_id, batch_df.count()))

    run_foreach_batch(make_stream(), sink, checkpoint_dir=ckpt, output_mode="append")
    spark.createDataFrame([(3,)], "v long").write.parquet(os.path.join(in_dir, "f2"))
    run_foreach_batch(make_stream(), sink, checkpoint_dir=ckpt, output_mode="append")

    total = spark.read.parquet(out).count()
    assert total == 3  # 1,2 from batch 0 + 3 from batch 1 — no re-reads


def test_docs_ingest_cross_batch_fingerprint_dedup(spark, tmp_path, state_provider):
    """Same normalized content arriving in a LATER batch must fold into
    the existing fingerprint state: a higher doc_id never displaces the
    winner; a lower doc_id updates it."""
    import pandas as pd

    from realtime0523_spark.streaming.docs_ingest import streaming_docs_ingest
    from realtime0523_spark.streaming.runner import run_to_memory

    d = tmp_path / "docs"
    d.mkdir()
    good = "a perfectly normal different sentence with the many distinct words of it"
    # batch 1: doc 5 (content A), doc 6 (content B)
    texts1 = [good + " alpha", good + " beta"]
    pd.DataFrame({"doc_id": [5, 6], "text": texts1,
                  "lang": ["en"] * 2, "source": ["s"] * 2,
                  "n_chars": [len(t) for t in texts1]}).to_parquet(d / "b1.parquet")
    stream = (
        spark.readStream.schema("doc_id long, text string, lang string, source string, n_chars long")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d))
    )
    out = streaming_docs_ingest(stream, min_quality=0.0, fractions={"train": 1.0})
    first = {r.doc_id for r in run_to_memory(out, output_mode="update").collect()}
    assert first == {5, 6}

    # batch 2 adds: doc 9 duplicating content A (loses to 5), doc 1
    # duplicating content B (beats 6), doc 7 with new content C
    texts2 = [good + " alpha", good + " beta", good + " gamma"]
    pd.DataFrame({"doc_id": [9, 1, 7], "text": texts2,
                  "lang": ["en"] * 3, "source": ["s"] * 3,
                  "n_chars": [len(t) for t in texts2]}).to_parquet(d / "b2.parquet")
    emitted = run_to_memory(out, output_mode="update").collect()
    raw_ids = {r.doc_id for r in emitted}
    # raw update-mode emissions accumulate: batch 1's winner 6 for
    # content B is still present alongside its batch-2 replacement 1
    assert {5, 6, 1, 7} <= raw_ids and 9 not in raw_ids
    # the upsert contract: compacting by key (winners only decrease,
    # min == latest) yields exactly one current winner per content
    compacted = {}
    for r in emitted:
        if r.fingerprint not in compacted or r.doc_id < compacted[r.fingerprint]:
            compacted[r.fingerprint] = r.doc_id
    assert sorted(compacted.values()) == [1, 5, 7]


def test_salted_streaming_join_spreads_hot_key_and_matches_unsalted(spark, tmp_path):
    """The round-5 verdict item: AQE's skew-join never sees a
    micro-batch shuffle, so a planted hot order key would melt one
    join task with no runtime rescue. The salted streaming path must
    (a) emit exactly the unsalted stream's rows and (b) spread the hot
    key across salt buckets so no single shuffle partition owns the
    batch. Partition occupancy is measured with the engine's own hash
    partitioning — repartition(n, keys) IS the join shuffle's
    HashPartitioning."""
    from realtime0523_spark.streaming.order_wide import (
        cdc_commit_time,
        streaming_order_wide,
    )

    n_orders, hot, parts = 40, 7, 8
    odir, ddir = str(tmp_path / "o"), str(tmp_path / "d")
    spark.createDataFrame(
        [(k, float(k)) for k in range(n_orders)],
        "o_orderkey long, o_totalprice double",
    ).write.parquet(odir)
    # hot key owns 600 of 1000 detail rows
    spark.createDataFrame(
        [(hot, i, 1.0) for i in range(600)]
        + [(k, 1000 + i, 2.0) for k in range(n_orders) for i in range(10)],
        "l_orderkey long, l_linenumber long, l_extendedprice double",
    ).write.parquet(ddir)

    def streams():
        o = (
            spark.readStream.schema("o_orderkey long, o_totalprice double")
            .parquet(odir)
            .withColumn("o_ts", cdc_commit_time("o_orderkey"))
        )
        d = (
            spark.readStream.schema(
                "l_orderkey long, l_linenumber long, l_extendedprice double"
            )
            .parquet(ddir)
            .withColumn("l_ts", cdc_commit_time("l_orderkey"))
        )
        return o, d

    cols = ["o_orderkey", "l_linenumber", "o_totalprice", "l_extendedprice"]
    o, d = streams()
    plain = run_to_memory(
        streaming_order_wide(
            o, d, order_ts="o_ts", detail_ts="l_ts", tolerance="50 seconds"
        ).select(*cols),
        no_data_batches=False,
    )
    o, d = streams()
    salted = run_to_memory(
        streaming_order_wide(
            o, d, order_ts="o_ts", detail_ts="l_ts", tolerance="50 seconds",
            salt_buckets=parts,
        ).select(*cols),
        no_data_batches=False,
    )
    want = sorted(map(tuple, plain.collect()))
    assert len(want) == 1000
    assert sorted(map(tuple, salted.collect())) == want

    # shuffle-occupancy proof: the detail side exactly as the salted
    # stream builds it (same columns under the hash, same formula)
    det = (
        spark.read.parquet(ddir)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .withColumn("l_ts", cdc_commit_time("l_orderkey"))
    )
    salted_det = det.withColumn(
        "__salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in det.columns]), F.lit(parts)),
    )

    def max_share(df, keys) -> float:
        occ = (
            df.repartition(parts, *[F.col(k) for k in keys])
            .withColumn("pid", F.spark_partition_id())
            .groupBy("pid")
            .count()
            .collect()
        )
        return max(r["count"] for r in occ) / sum(r["count"] for r in occ)

    unsalted_share = max_share(det, ["l_orderkey"])
    salted_share = max_share(salted_det, ["l_orderkey", "__salt"])
    assert unsalted_share >= 0.6  # the hot key melts one task
    assert salted_share <= 0.25, (unsalted_share, salted_share)

    # outer semantics do not survive replication — refused loudly
    o, d = streams()
    with pytest.raises(ValueError, match="inner"):
        streaming_order_wide(
            o, d, order_ts="o_ts", detail_ts="l_ts",
            how="left_outer", salt_buckets=parts,
        )


def test_funnel_fold_out_of_order_and_requalification():
    """The pure per-key fold behind the streaming funnel: buffered
    events re-qualify when an upstream stage time DECREASES, and the
    watermark prune only drops provably-dead events."""
    from realtime0523_spark.streaming.funnel import INF, fold_funnel

    # click before any view: buffered, not counted
    s = fold_funnel(None, [[], [5], []], 0)
    assert s[0] == INF and s[1] == INF and s[3] == [5]
    # the view arrives later with an EARLIER ts: click qualifies now
    s = fold_funnel(s, [[3], [], []], 0)
    assert s[0] == 3 and s[1] == 5 and s[3] == []

    # t1 decreasing re-qualifies a BETTER buffered click (4 beats 7)
    s = fold_funnel(None, [[5], [4, 7], []], 0)
    assert (s[0], s[1]) == (5, 7) and s[3] == [4]
    s = fold_funnel(s, [[2], [], []], 0)
    assert (s[0], s[1]) == (2, 4) and s[3] == []

    # purchase chain: buffered under t2, qualifies once t2 drops
    s = fold_funnel(None, [[10], [100], [50]], 0)
    assert (s[0], s[1], s[2]) == (10, 100, INF) and s[4] == [50]
    s = fold_funnel(s, [[], [30], []], 0)
    assert (s[0], s[1], s[2]) == (10, 30, 50) and s[4] == []

    # watermark prune: a click <= min(W, t1) is provably dead (future
    # views are >= W, so t1 can never drop below it) and is dropped
    s = fold_funnel(None, [[5], [3], []], 10)
    assert (s[0], s[1]) == (5, INF) and s[3] == []
    # but a click INSIDE the horizon (W < x <= t1) must stay buffered
    s = fold_funnel(None, [[50], [20], []], 10)
    assert s[3] == [20]
    s = fold_funnel(s, [[15], [], []], 10)
    assert (s[0], s[1]) == (15, 20) and s[3] == []


def test_stream_funnel_cross_batch_out_of_order(spark, state_provider, tmp_path):
    """End-to-end cross-batch disorder: the click and purchase arrive
    BEFORE any view; later batches deliver earlier-timestamped views
    that retroactively qualify them, and a later-arriving better click
    displaces the first qualifier. A forward-only stage machine yields
    (t2=base+100, t3=null); the buffered replay must recover the exact
    batch answer. Runs under both state-store providers."""
    from realtime0523_spark.streaming.funnel import (
        funnel_report,
        streaming_funnel_stages,
    )

    in_dir = str(tmp_path / "ev_in")
    os.makedirs(in_dir)
    base = 1_700_000_000

    def write(rows):
        spark.createDataFrame(
            rows, "user_id long, event_type string, ts_s long"
        ).withColumn("ts", F.timestamp_seconds("ts_s")).drop("ts_s").coalesce(
            1
        ).write.mode("append").parquet(in_dir)

    write([(1, "click", base + 100), (1, "purchase", base + 50)])
    time.sleep(1.1)
    write([(1, "view", base + 10), (2, "view", base + 20)])
    time.sleep(1.1)
    write([(1, "view", base + 5), (1, "click", base + 30)])

    stream = (
        spark.readStream.schema("user_id long, event_type string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    stages = ["view", "click", "purchase"]
    per_user = run_to_memory(
        streaming_funnel_stages(
            stream, "user_id", "event_type", "ts", stages, watermark="10 minutes"
        ),
        output_mode="update",
    )
    finals = {
        r.user: (r.t1, r.t2, r.t3)
        for r in per_user.groupBy("user")
        .agg(F.min("t1").alias("t1"), F.min("t2").alias("t2"), F.min("t3").alias("t3"))
        .collect()
    }
    us = 1_000_000
    assert finals[1] == ((base + 5) * us, (base + 30) * us, (base + 50) * us)
    assert finals[2] == ((base + 20) * us, None, None)
    report = {
        r.stage: r.n_users for r in funnel_report(per_user, stages).collect()
    }
    assert report == {"view": 2, "click": 1, "purchase": 1}


def test_decayed_anchor_advance_matches_batch(spark, state_provider, tmp_path):
    """The anchor-advance identity end-to-end: three micro-batches
    whose event times stride ~3 half-lives apart (the anchor advances
    at every batch), partials rescaled to the newest anchor at the
    fold. Must equal the single-anchor batch computation to the 9-dp
    contract, and the early batch's in-batch weights must be O(1)
    (never underflowed) even though its ABSOLUTE age at the end spans
    many half-lives."""
    import math

    from realtime0523_spark.streaming.decayed import (
        decayed_totals,
        run_decayed_partials,
    )

    in_dir = str(tmp_path / "dec_in")
    os.makedirs(in_dir)
    hl = 3600  # 1 h half-life

    def write(rows):
        spark.createDataFrame(
            rows, "k string, ts_s long"
        ).withColumn("ts", F.timestamp_seconds("ts_s")).drop("ts_s").coalesce(
            1
        ).write.mode("append").parquet(in_dir)

    base = 1_700_000_000
    write([("a", base), ("a", base + 600), ("b", base + 300)])
    time.sleep(1.1)
    write([("a", base + 3 * hl), ("b", base + 3 * hl + 60)])
    time.sleep(1.1)
    write([("b", base + 6 * hl), ("a", base + 6 * hl + 120)])

    stream = (
        spark.readStream.schema("k string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    out_dir = str(tmp_path / "sink")
    parts = run_decayed_partials(stream, "k", "ts", hl, out_dir)
    got = {
        r.k: (r.n_events, r.decayed_count)
        for r in decayed_totals(parts, "k", hl).collect()
    }

    # the partial sink must hold three distinct anchors, and every
    # in-batch weight sum is O(1) — the no-underflow property
    parts = spark.read.parquet(out_dir)
    assert parts.select("anchor_us").distinct().count() == 3
    assert parts.filter(F.col("w") < 0.5).count() == 0

    t_ref = base + 6 * hl + 120
    events = {
        "a": [base, base + 600, base + 3 * hl, t_ref],
        "b": [base + 300, base + 3 * hl + 60, base + 6 * hl],
    }
    for k, ts in events.items():
        want = round(sum(0.5 ** ((t_ref - t) / hl) for t in ts), 9)
        assert got[k][0] == len(ts)
        assert abs(got[k][1] - want) < 2e-9, (k, got[k][1], want)


def test_windowed_funnel_fold_disqualification_and_bounds():
    """The conversion-window fold: a later-arriving EARLIER view
    slides the window left and must DISQUALIFY a click that
    previously counted; kept lists stay inside
    (min(W, t1), t1 + k*gap]."""
    from realtime0523_spark.streaming.funnel import (
        INF,
        fold_funnel_windowed,
    )

    gap = 100
    # batch 1: view@50, click@120 (in (50,150]) -> qualifies
    s, emit = fold_funnel_windowed(None, [[50], [120], []], 0, gap)
    assert emit == (50, 120, INF)
    # batch 2: view@10 arrives late: window becomes (10,110] -> the
    # click at 120 falls OUT; t2 unset again
    s, emit = fold_funnel_windowed(s, [[10], [], []], 0, gap)
    assert emit == (10, INF, INF)
    # click at 120 is still kept (<= t1 + gap? 120 > 10+100=110 ->
    # actually now DEAD: it can never re-qualify since t1 only drops)
    assert 120 not in s[2]
    # a click at 90 arrives: in (10,110] -> qualifies; purchase at
    # 150 lands in (90,190] -> full funnel
    s, emit = fold_funnel_windowed(s, [[], [90], [150]], 0, gap)
    assert emit == (10, 90, 150)

    # watermark prune: stage-2 events <= min(W, t1) are dropped
    s, _ = fold_funnel_windowed(None, [[500], [450], []], 480, gap)
    assert 450 not in s[2]  # 450 <= min(480, 500) -> dead
    # but an event inside the horizon stays
    s2, _ = fold_funnel_windowed(None, [[500], [490], []], 480, gap)
    assert 490 in s2[2]

    # seq increments per fold (the last-emission reduce key)
    assert s2[1] == 1
    s3, _ = fold_funnel_windowed(s2, [[], [], []], 480, gap)
    assert s3[1] == 2


def test_stream_windowed_funnel_cross_batch_disqualification(
    spark, state_provider, tmp_path
):
    """End-to-end: the click qualifies in batch 1, the late earlier
    view in batch 2 disqualifies it (window slides left), and a
    qualifying click+purchase in batch 3 completes the funnel. The
    final report must match the batch-windowed computation on the
    union — only a LAST-emission reduce gets this right (a min
    reduce would keep the disqualified stage time)."""
    from realtime0523_spark.streaming.funnel import (
        funnel_report,
        streaming_funnel_stages,
    )

    in_dir = str(tmp_path / "wf_in")
    os.makedirs(in_dir)
    base = 1_700_000_000
    gap_s = 3600  # 1 h window

    def write(rows):
        spark.createDataFrame(
            rows, "user_id long, event_type string, ts_s long"
        ).withColumn("ts", F.timestamp_seconds("ts_s")).drop("ts_s").coalesce(
            1
        ).write.mode("append").parquet(in_dir)

    # u1: click 50 min after the batch-1 view -> inside the window
    write([(1, "view", base + 600), (1, "click", base + 3600)])
    time.sleep(1.1)
    # the TRUE first view is 2h earlier: window slides to
    # (base-6600, base-3000]; the click at base+3600 disqualifies
    write([(1, "view", base - 6600), (2, "view", base)])
    time.sleep(1.1)
    # a click inside the new window + a purchase inside ITS window
    write([(1, "click", base - 4000), (1, "purchase", base - 1000)])

    stream = (
        spark.readStream.schema("user_id long, event_type string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    stages = ["view", "click", "purchase"]
    per_user = run_to_memory(
        streaming_funnel_stages(
            stream, "user_id", "event_type", "ts", stages,
            watermark="6 hours", max_gap_s=gap_s,
        ),
        output_mode="update",
    )
    us = 1_000_000
    finals = {
        r.user: (r.t1, r.t2, r.t3)
        for r in per_user.groupBy("user")
        .agg(
            F.max_by("t1", "seq").alias("t1"),
            F.max_by("t2", "seq").alias("t2"),
            F.max_by("t3", "seq").alias("t3"),
        )
        .collect()
    }
    assert finals[1] == (
        (base - 6600) * us, (base - 4000) * us, (base - 1000) * us
    )
    assert finals[2] == (base * us, None, None)
    report = {
        r.stage: r.n_users for r in funnel_report(per_user, stages).collect()
    }
    assert report == {"view": 2, "click": 1, "purchase": 1}


def test_stream_attribution_multi_batch_equals_batch(spark, tmp_path):
    """Purchases split across micro-batches must produce exactly the
    batch attribution detail: per-batch probes of the static touch
    index are independent, so batch boundaries cannot change any
    credit (each purchase's touch set is fixed at its event time)."""
    from realtime0523_spark.operators.allocation import attribute_linear
    from realtime0523_spark.streaming.sinks import idempotent_batch_writer

    in_dir = str(tmp_path / "pa_in")
    os.makedirs(in_dir)
    base = 1_700_000_000

    def write(rows):
        spark.createDataFrame(
            rows, "user_id long, conv_id long, conv_ts_us long, value_cents long"
        ).coalesce(1).write.mode("append").parquet(in_dir)

    touches = spark.createDataFrame(
        [(1, 100, base - 50), (1, 101, base - 10), (2, 102, base - 5)],
        "user_id long, touch_id long, touch_ts_us long",
    )
    write([(1, 10, base, 1001)])
    time.sleep(1.1)
    write([(1, 11, base + 1, 999), (2, 12, base, 500)])

    stream = (
        spark.readStream.schema(
            "user_id long, conv_id long, conv_ts_us long, value_cents long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    out_dir = str(tmp_path / "pa_out")
    os.makedirs(out_dir)
    sink = idempotent_batch_writer(out_dir)

    def credit(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        sink(attribute_linear(batch_df, touches, "user_id", 100), batch_id)

    run_foreach_batch(stream, credit, output_mode="append")
    got = sorted(
        map(tuple, spark.read.parquet(out_dir)
            .select("conv_id", "touch_id", "credit_cents").collect())
    )
    conv_all = spark.createDataFrame(
        [(1, 10, base, 1001), (1, 11, base + 1, 999), (2, 12, base, 500)],
        "user_id long, conv_id long, conv_ts_us long, value_cents long",
    )
    want = sorted(
        map(tuple, attribute_linear(conv_all, touches, "user_id", 100)
            .select("conv_id", "touch_id", "credit_cents").collect())
    )
    assert got == want and len(got) == 5


def test_stream_retract_agg_multi_batch_equals_state_recompute(spark, tmp_path):
    """A changelog split across micro-batches — inserts in one batch,
    the corrections/cancellations for those SAME rows in a later one —
    must still equal a full latest-state recompute: signed-delta
    partials are associative, so batch boundaries cannot change the
    final aggregate, and a fully-cancelled group disappears."""
    from realtime0523_spark.streaming.retraction import (
        streaming_retract_aggregate,
    )

    schema = "grp string, op string, price_new double, price_old double"
    in_dir = str(tmp_path / "cl_in")
    os.makedirs(in_dir)

    def write(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)

    write([("a", "insert", 10.00, None), ("b", "insert", 7.25, None)])
    time.sleep(1.1)  # mtime = processing order under maxFilesPerTrigger=1
    write([("a", "update", 12.50, 10.00), ("b", "delete", None, 7.25),
           ("c", "insert", 0.07, None)])

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    out = streaming_retract_aggregate(
        stream,
        ["grp"],
        out_dir=str(tmp_path / "cl_out"),
        checkpoint_dir=str(tmp_path / "cl_ckpt"),
    )
    got = {r["grp"]: (r["net_amount"], r["net_rows"]) for r in out.collect()}
    assert got == {"a": (12.50, 1), "c": (0.07, 1)}
    # two committed batch directories prove it actually ran multi-batch
    committed = [d for d in os.listdir(str(tmp_path / "cl_out"))
                 if d.startswith("batch_id=")]
    assert len(committed) == 2


def test_stream_customers_rfm_multibatch_equals_batch(spark, tmp_path):
    """Online RFM: orders arriving in three micro-batches must produce
    the identical segment report as the batch scorer — every fold is a
    commutative monoid (max last-day, sum count, sum cents), so batch
    boundaries cannot move a quintile."""
    from realtime0523_spark.plans.inventory import REGISTRY

    orders = Catalog(spark, SF_SMOKE).table("orders")
    in_dir = str(tmp_path / "rfm_in")
    os.makedirs(in_dir)
    for i in range(3):
        orders.filter(F.col("o_orderkey") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        time.sleep(1.1)

    from realtime0523_spark.plans.inventory import (
        _rfm_report,
        _rfm_scores_from_metrics,
        q_stream_customers_rfm,
    )
    from realtime0523_spark.streaming.cells import drain_partials, sum_fold

    stream = (
        spark.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )

    def cell_fn(b):
        return b.groupBy(
            F.col("o_custkey").alias("ck"),
            F.col("o_orderdate").cast("date").alias("d"),
        ).agg(
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
            ).cast("long").alias("mon"),
        )

    def finish(cells):
        metrics = cells.groupBy("ck").agg(
            F.max("d").alias("last_day"),
            F.sum("freq").cast("long").alias("freq"),
            F.sum("mon").cast("long").alias("mon"),
        )
        return _rfm_report(_rfm_scores_from_metrics(metrics))

    got = finish(drain_partials(
        stream, cell_fn, str(tmp_path / "rfm_cells"),
        fold=sum_fold(["ck", "d"], ["freq", "mon"]),
        checkpoint_dir=str(tmp_path / "rfm_ckpt"),
    ))
    committed = [d for d in os.listdir(str(tmp_path / "rfm_cells"))
                 if d.startswith("batch_id=")]
    assert len(committed) == 3
    want = REGISTRY["customers_rfm"].fn(spark, SF_SMOKE)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    _ = q_stream_customers_rfm


def test_stream_monitor_report_multibatch_equals_batch(spark, tmp_path):
    """The four-synopsis single-reader monitor must reproduce the batch
    dashboard bit-for-bit when the events arrive in THREE micro-batches
    — every cell family is additive exact integers, so batch boundaries
    cannot move any alert."""
    from realtime0523_spark.plans.inventory import (
        JEFFREYS_ALERT,
        VALUE_DRIFT_BUCKETS,
        REGISTRY,
    )
    from realtime0523_spark.streaming.monitor import streaming_monitor_report

    ev = Catalog(spark, SF_SMOKE).table("events")
    in_dir = str(tmp_path / "mon_in")
    os.makedirs(in_dir)
    for i in range(3):
        ev.filter(F.col("event_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        time.sleep(1.1)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    got = streaming_monitor_report(
        spark,
        stream,
        work_dir=str(tmp_path / "mon_work"),
        n_drift_buckets=VALUE_DRIFT_BUCKETS,
        jeffreys_alert=JEFFREYS_ALERT,
        checkpoint_dir=str(tmp_path / "mon_ckpt"),
    )
    # three committed batches in every family
    for fam in ("trend", "cusum", "ks", "drift"):
        committed = [
            d
            for d in os.listdir(str(tmp_path / "mon_work" / fam))
            if d.startswith("batch_id=")
        ]
        assert len(committed) == 3, fam
    want = REGISTRY["events_monitor_report"].fn(spark, SF_SMOKE)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


@pytest.mark.parametrize("refresh_every", [1, 2])
def test_streamed_ivf_index_multibatch_equals_batch_built(
    spark, tmp_path, refresh_every
):
    """The incrementally-maintained IVF index, drained over MULTIPLE
    micro-batches (vectors arriving in three waves) and then
    compacted, must answer queries IDENTICALLY to an index built by
    the batch path on the same corpus — the drained-equals-batch
    contract — under BOTH quantizer cadences (refresh every batch and
    the cached every-2nd-batch reindex path; live assignments differ,
    the compacted answer cannot). Also pins the live index's
    eventual-consistency shape: every ingested vector has exactly one
    live cell row."""
    from realtime0523_spark.core.catalog import Catalog
    from realtime0523_spark.llm.similarity import ann_topk_ivf, label_centroids
    from realtime0523_spark.streaming.ann_index import streaming_ivf_index_append
    from realtime0523_spark.streaming.compaction import partial_ids

    emb = Catalog(spark, SF_SMOKE).table("embeddings").select(
        "vec_id", "label", "embedding"
    )
    in_dir = str(tmp_path / "vec_in")
    os.makedirs(in_dir)
    # three waves by vec_id stripe → three micro-batches
    for i in range(3):
        emb.filter(F.col("vec_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        time.sleep(1.1)  # mtime ordering under maxFilesPerTrigger=1

    stream = (
        spark.readStream.schema(
            "vec_id long, label int, embedding array<float>"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    idx = streaming_ivf_index_append(
        spark, stream, work_dir=str(tmp_path / "ivf"),
        checkpoint_dir=str(tmp_path / "ivf_ckpt"),
        refresh_every=refresh_every,
    )
    # it genuinely ran multi-batch
    committed = [d for d in os.listdir(idx.vec_dir) if d.startswith("batch_id=")]
    assert len(committed) == 3
    # every ingested vector has exactly one live cell row
    n = emb.count()
    assert idx.live_index().count() == n
    assert idx.live_index().select("vec_id").distinct().count() == n
    # centroid partials are synopsis-sized: ≤ |labels|×dims rows per
    # batch regardless of batch row count (the 100 TB commit bound);
    # compaction (round-10) folds consumed partial files into one base
    # snapshot, so the live relation is ≤ base + refresh_every partials
    n_labels = emb.select("label").distinct().count()
    assert idx._cent_frames().count() <= (1 + refresh_every) * n_labels * 64
    assert len(partial_ids(idx.cent_dir)) < 3  # compaction consumed partials

    queries = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    got = sorted(map(tuple, idx.query(queries, nprobe=4, k=5).collect()))
    want = sorted(
        map(
            tuple,
            ann_topk_ivf(
                emb, queries, nprobe=4, k=5, centroids=label_centroids(emb)
            )
            .select("qid", "vec_id", "score", "rk")
            .collect(),
        )
    )
    # idx.query returns qid, vec_id, score, rk plus nothing else
    got = [(q, v, round(s, 9), r) for q, v, s, r in got]
    want = [(q, v, round(s, 9), r) for q, v, s, r in want]
    assert got == want and len(got) == 30

    # the IVFADC serving path over the SAME streamed state must equal
    # the batch-built combined index too (quantizer pair from one
    # partial family: centroids = normalized sums, codebooks = means)
    from realtime0523_spark.llm.similarity import ann_topk_ivfpq, pq_codebooks

    got_adc = sorted(
        map(tuple, idx.query_adc(queries, nprobe=4, k=5).collect())
    )
    want_adc = sorted(
        map(
            tuple,
            ann_topk_ivfpq(
                emb,
                queries,
                centroids=label_centroids(emb),
                codebooks=pq_codebooks(emb),
                nprobe=4,
                k=5,
            )
            .select("qid", "vec_id", "score", "rk")
            .collect(),
        )
    )
    got_adc = [(q, v, round(s, 9), r) for q, v, s, r in got_adc]
    want_adc = [(q, v, round(s, 9), r) for q, v, s, r in want_adc]
    assert got_adc == want_adc and len(got_adc) == 30


# ---------------------------------------------------------------------------
# Backfill/replay delivery contract (round-8 verdict item 5): ANY
# prefix/remainder split of a changelog — drained by two incarnations
# of the query sharing one checkpoint, i.e. a restart that can land
# MID-KEY — must converge to the batch answer, under both providers.
# Strategies shared with the batch property suite.
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

from tests.test_properties import changelogs, join_changelogs  # noqa: E402

_REPLAY_SETTINGS = dict(
    max_examples=4,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,  # provider is constant per run
    ],
)

_CL_SCHEMA = "grp string, op string, price_new double, price_old double"


def _write_rows(spark, rows, schema, in_dir, name) -> None:
    if rows:
        (
            spark.createDataFrame(rows, schema)
            .coalesce(1)
            .write.mode("append")
            .parquet(in_dir)
        )
        time.sleep(0.05)  # distinct mtimes → stable file-source ordering


@given(data=changelogs(), seed=st.integers(0, 10**6))
@settings(**_REPLAY_SETTINGS)
def test_retract_backfill_any_split_converges(
    spark, state_provider, data, seed
):
    """Replaying an arbitrary changelog prefix through one query
    incarnation and the remainder through a checkpoint-restarted one
    must equal the full live-state recompute — for EVERY split point,
    including mid-key."""
    import tempfile

    from realtime0523_spark.streaming.retraction import (
        streaming_retract_aggregate,
    )

    rows, live = data
    split = seed % (len(rows) + 1)
    root = tempfile.mkdtemp(prefix="replay_agg_")
    in_dir = os.path.join(root, "in")
    os.makedirs(in_dir)

    def run():
        stream = spark.readStream.schema(_CL_SCHEMA).parquet(in_dir)
        return streaming_retract_aggregate(
            stream, ["grp"],
            out_dir=os.path.join(root, "out"),
            checkpoint_dir=os.path.join(root, "ckpt"),
        )

    _write_rows(spark, rows[:split], _CL_SCHEMA, in_dir, "prefix")
    run()  # first incarnation drains the prefix and stops
    _write_rows(spark, rows[split:], _CL_SCHEMA, in_dir, "rest")
    final = run()  # restarted incarnation resumes from the checkpoint

    got = {
        r["grp"]: (round(r["net_amount"], 2), r["net_rows"])
        for r in final.collect()
    }
    want: dict[str, list] = {}
    for grp, price in live.values():
        want.setdefault(grp, []).append(round(price * 100))
    expect = {
        g: (round(sum(c) / 100.0, 2), len(c)) for g, c in want.items()
    }
    assert got == expect, (split, got, expect)


@given(data=join_changelogs(), seed=st.integers(0, 10**6))
@settings(**_REPLAY_SETTINGS)
def test_retract_backfill_any_split_converges_join(
    spark, state_provider, data, seed
):
    """Same contract for the two-sided retractable join: each side's
    changelog splits at its own arbitrary point, both queries restart
    from their checkpoints, and the folded join equals the brute-force
    live-state join."""
    import tempfile

    from realtime0523_spark.streaming.retraction import streaming_retract_join

    fact_rows, dim_rows, fact_live, dim_live = data
    f_split = seed % (len(fact_rows) + 1)
    d_split = (seed // 7) % (len(dim_rows) + 1)
    root = tempfile.mkdtemp(prefix="replay_join_")
    f_in = os.path.join(root, "f_in")
    d_in = os.path.join(root, "d_in")
    os.makedirs(f_in)
    os.makedirs(d_in)
    f_schema = "k long, op string, price_new double, price_old double"
    d_schema = (
        "k long, attr string, op string, price_new double, price_old double"
    )

    def run():
        return streaming_retract_join(
            spark.readStream.schema(f_schema).parquet(f_in),
            spark.readStream.schema(d_schema).parquet(d_in),
            key_cols=["k"],
            group_cols=["attr"],
            fact_dir=os.path.join(root, "f_out"),
            dim_dir=os.path.join(root, "d_out"),
            checkpoint_root=os.path.join(root, "ckpt"),
        )

    _write_rows(spark, fact_rows[:f_split], f_schema, f_in, "prefix")
    _write_rows(spark, dim_rows[:d_split], d_schema, d_in, "prefix")
    run()
    _write_rows(spark, fact_rows[f_split:], f_schema, f_in, "rest")
    _write_rows(spark, dim_rows[d_split:], d_schema, d_in, "rest")
    final = run()

    got = {
        r["attr"]: (r["n_pairs"], round(r["fact_amount"], 2),
                    round(r["dim_amount"], 2))
        for r in final.collect()
    }
    expect: dict[str, list] = {}
    for k, (attr, bal) in dim_live.items():
        for price_c in fact_live.get(k, []):
            expect.setdefault(attr, []).append((price_c, round(bal * 100)))
    expected = {
        a: (
            len(pairs),
            round(sum(p for p, _ in pairs) / 100.0, 2),
            round(sum(b for _, b in pairs) / 100.0, 2),
        )
        for a, pairs in expect.items()
    }
    assert got == expected, (f_split, d_split, got, expected)


_EV_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)
_EV_ROW = (1, datetime.datetime(2024, 1, 3, 10), 1, "a", 10.0, "{}")
_INT_KEY_CL_SCHEMA = "grp bigint, op string, price_new double, price_old double"
_LINK_SCHEMA = (
    "rec_key long, name string, nationkey int, acctbal double, "
    "mktsegment string"
)


def _twin_cusum(spark, feed, out):
    from realtime0523_spark.streaming.changepoint import streaming_cusum

    return streaming_cusum(
        feed(_EV_SCHEMA, [_EV_ROW]), f"{out}/p", checkpoint_dir=f"{out}/ck"
    )


def _twin_trend(spark, feed, out):
    from realtime0523_spark.streaming.regression import streaming_trend_slope

    x = F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).cast("long")
    y = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    return streaming_trend_slope(
        feed(_EV_SCHEMA, [_EV_ROW]), "event_type", x, y, f"{out}/p",
        checkpoint_dir=f"{out}/ck",
    )


def _twin_kmv(spark, feed, out):
    from realtime0523_spark.streaming.synopsis import streaming_kmv_overlap

    return streaming_kmv_overlap(
        feed("seg string, uid long", [("a", 1), ("b", 1)]), "seg", "uid",
        f"{out}/p", checkpoint_dir=f"{out}/ck", k=8,
    )


def _twin_dd(spark, feed, out):
    from realtime0523_spark.streaming.synopsis import streaming_dd_quantiles

    return streaming_dd_quantiles(
        feed(_EV_SCHEMA, [_EV_ROW]), "event_type", "value", [("p50", 1, 2)],
        f"{out}/p", checkpoint_dir=f"{out}/ck",
    )


def _twin_linkage(spark, feed, out):
    from realtime0523_spark.streaming.linkage import streaming_record_linkage

    base = spark.createDataFrame(
        [(1, "Customer#000000001", 1, 5.0, "AUTO")], _LINK_SCHEMA
    )
    return streaming_record_linkage(
        base, feed(_LINK_SCHEMA, [(1, "CUST 000000001", 1, 5.0, "AUTO")]),
        f"{out}/p", checkpoint_dir=f"{out}/ck",
    )


def _twin_decayed(spark, feed, out):
    from realtime0523_spark.streaming.decayed import (
        decayed_totals,
        run_decayed_partials,
    )

    rows = [("a", datetime.datetime(2024, 1, 3, 10))]
    parts = run_decayed_partials(
        feed("k string, ts timestamp", rows), "k", "ts", 3600, f"{out}/p"
    )
    return decayed_totals(parts, "k", 3600)


def _twin_retract_agg(spark, feed, out):
    from realtime0523_spark.streaming.retraction import (
        streaming_retract_aggregate,
    )

    return streaming_retract_aggregate(
        feed(_INT_KEY_CL_SCHEMA, [(7, "insert", 1.25, None)]),
        ["grp"],
        f"{out}/p",
        checkpoint_dir=f"{out}/ck",
    )


def _twin_retract_join(spark, feed, out):
    from realtime0523_spark.streaming.retraction import streaming_retract_join

    d_schema = "grp bigint, attr int, op string, price_new double, price_old double"
    return streaming_retract_join(
        feed(_INT_KEY_CL_SCHEMA, [(7, "insert", 1.25, None)]),
        feed(d_schema, [(7, 3, "insert", 2.5, None)]),
        key_cols=["grp"], group_cols=["attr"], fact_dir=f"{out}/f",
        dim_dir=f"{out}/d", checkpoint_root=f"{out}/ck",
    )


def _twin_cells_dau(spark, feed, out):
    from realtime0523_spark.plans.inventory import _rolling_dau_from_cells
    from realtime0523_spark.streaming.cells import drain_partials

    cells = drain_partials(
        feed(_EV_SCHEMA, [_EV_ROW]),
        lambda b: b.select(
            "user_id", F.col("ts").cast("date").alias("d")
        ).distinct(),
        f"{out}/p",
        fold=lambda df: df.distinct(),
        checkpoint_dir=f"{out}/ck",
    )
    return _rolling_dau_from_cells(cells)


_STREAM_TWINS = {
    "cells_dau": _twin_cells_dau,
    "cusum": _twin_cusum,
    "trend": _twin_trend,
    "kmv": _twin_kmv,
    "dd": _twin_dd,
    "linkage": _twin_linkage,
    "decayed": _twin_decayed,
    "retract_agg": _twin_retract_agg,
    "retract_join": _twin_retract_join,
}


@pytest.mark.parametrize("twin", sorted(_STREAM_TWINS))
def test_stream_twin_empty_result_matches_nonempty(spark, tmp_path, twin):
    """Every drained twin derives its no-batches result from the same
    partial function and finisher as a non-empty drain, so a stream
    over a schema'd but file-less directory (zero batches) must return
    zero rows in EXACTLY the schema a one-file drain returns — key
    types included (a hand-written fallback once typed an int key as
    string)."""

    def drain(tag, with_rows):
        dirs = iter(range(10))

        def feed(schema, rows):
            in_dir = str(tmp_path / f"{tag}_in{next(dirs)}")
            os.makedirs(in_dir)
            if with_rows:
                spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                    "append"
                ).parquet(in_dir)
            return spark.readStream.schema(schema).parquet(in_dir)

        return _STREAM_TWINS[twin](spark, feed, str(tmp_path / tag))

    empty = drain("empty", False)
    full = drain("full", True)
    assert empty.schema.simpleString() == full.schema.simpleString()
    assert empty.count() == 0
    assert full.count() > 0


def test_stream_kmv_multi_batch_equals_single_pass(spark, tmp_path):
    """KMV partials committed per batch must merge to EXACTLY the
    single-pass sketch (k-min of a union = k-min of concatenated
    k-mins), so the streaming overlap report equals the batch one
    bit-for-bit — including when a batch re-delivers users already
    sketched (set-union merge is idempotent)."""
    from realtime0523_spark.operators.kmv import kmv_overlap, kmv_sketch
    from realtime0523_spark.streaming.synopsis import streaming_kmv_overlap

    schema = "seg string, uid long"
    in_dir = str(tmp_path / "kmv_in")
    os.makedirs(in_dir)

    def write(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)

    b1 = [("a", i) for i in range(300)] + [("b", i) for i in range(200, 500)]
    b2 = [("a", i) for i in range(250, 400)] + [("b", i) for i in range(650)]
    write(b1)
    time.sleep(1.1)
    write(b2)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    got = streaming_kmv_overlap(
        stream,
        "seg",
        "uid",
        out_dir=str(tmp_path / "kmv_out"),
        checkpoint_dir=str(tmp_path / "kmv_ckpt"),
        k=32,
    ).collect()
    want = kmv_overlap(
        kmv_sketch(spark.createDataFrame(b1 + b2, schema), "seg", "uid", k=32),
        k=32,
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    committed = [d for d in os.listdir(str(tmp_path / "kmv_out"))
                 if d.startswith("batch_id=")]
    assert len(committed) == 2


def test_stream_cusum_split_hour_equals_batch(spark, tmp_path):
    """The SAME hour split across two micro-batches must fold to the
    exact hourly cell (additivity is the twin's whole argument), and
    the drained report must equal the batch summary bit-for-bit —
    including an injected level shift both paths must alarm on."""
    from realtime0523_spark.operators.stattests import cusum_summary
    from realtime0523_spark.streaming.changepoint import (
        hourly_cents_partials,
        streaming_cusum,
    )

    in_dir = str(tmp_path / "cusum_in")
    os.makedirs(in_dir)
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"

    def rows(day_hours_vals):
        out = []
        for i, (d, h, v) in enumerate(day_hours_vals):
            out.append((len(out) + i, f"2024-01-{d:02d} {h:02d}:30:00", 1, "kpi", v, "{}"))
        return out

    def write(rws):
        spark.createDataFrame(rws, schema.replace("timestamp", "string")) \
            .withColumn("ts", F.col("ts").cast("timestamp")) \
            .coalesce(1).write.mode("append").parquet(in_dir)

    # 20 quiet hours at ~100.00 then 6 shifted hours at ~220.00;
    # hour (1, 0) is split across BOTH batches (60 + 40 = the cell)
    quiet = [(1, h, 100.0) for h in range(10)]
    write(rows([(1, 0, 60.0)] + quiet[1:]))
    time.sleep(1.1)
    write(
        rows(
            [(1, 0, 40.0)]
            + [(2, h, 100.0) for h in range(10)]
            + [(3, h, 220.0) for h in range(6)]
        )
    )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    got = streaming_cusum(
        stream, out_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    ).collect()[0]

    want = cusum_summary(
        hourly_cents_partials(spark.read.parquet(in_dir))
    ).collect()[0]
    assert got.asDict() == want.asDict()
    # the shift is real: the upward side must have fired
    assert got.n_alarms_up > 0 and got.first_alarm_hr is not None
    # and the split hour folded exactly: 26 points, not 27
    assert got.n_points == 26


def test_streaming_cells_additive_and_distinct_modes(spark, tmp_path):
    """The generalized additive-synopsis machinery: (1) additive mode
    — a (key, v) cell split across two micro-batches folds to the
    exact sum; (2) distinct mode — the SAME (user, day) presence cell
    re-delivered in both batches is absorbed by union idempotence.
    Both drained results must equal the batch finisher on the union
    of inputs, bit-for-bit."""
    from realtime0523_spark.operators.stattests import ks_2sample
    from realtime0523_spark.plans.inventory import (
        _ks_cells,
        _rolling_dau_from_cells,
    )
    from realtime0523_spark.streaming.cells import drain_partials, sum_fold

    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)

    def write(rws):
        spark.createDataFrame(
            rws, schema.replace("timestamp", "string")
        ).withColumn("ts", F.col("ts").cast("timestamp")) \
            .coalesce(1).write.mode("append").parquet(in_dir)

    # value 10.00 for type "a" lands in BOTH halves and BOTH batches;
    # user 1 on Jan 3 appears in both batches (duplicate presence)
    write([
        (1, "2024-01-03 10:00:00", 1, "a", 10.0, "{}"),
        (2, "2024-01-20 10:00:00", 1, "a", 10.0, "{}"),
        (3, "2024-01-05 10:00:00", 2, "a", 7.5, "{}"),
    ])
    time.sleep(1.1)
    write([
        (4, "2024-01-04 11:00:00", 1, "a", 10.0, "{}"),
        (5, "2024-01-03 12:00:00", 1, "a", 3.25, "{}"),
        (6, "2024-01-22 09:00:00", 3, "a", 7.5, "{}"),
    ])

    def stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )

    got_ks = ks_2sample(drain_partials(
        stream(), _ks_cells, str(tmp_path / "ks_out"),
        fold=sum_fold(["key", "v"], ["c1", "c2"]),
        checkpoint_dir=str(tmp_path / "ks_ckpt"),
    )).collect()
    want_ks = ks_2sample(_ks_cells(spark.read.parquet(in_dir))).collect()
    assert [r.asDict() for r in got_ks] == [r.asDict() for r in want_ks]
    # the split cell really folded: type a, 1000 cents → c1=2 (batch 1
    # + batch 2), c2=1
    ks_cells = _ks_cells(spark.read.parquet(in_dir)).collect()
    cell = {(r.key, r.v): (r.c1, r.c2) for r in ks_cells}[("a", 1000)]
    assert cell == (2, 1)

    def dau_cells(b):
        return b.select(
            "user_id", F.col("ts").cast("date").alias("d")
        ).distinct()

    got_dau = _rolling_dau_from_cells(drain_partials(
        stream(), dau_cells, str(tmp_path / "dau_out"),
        fold=lambda df: df.distinct(),
        checkpoint_dir=str(tmp_path / "dau_ckpt"),
    )).orderBy("day").collect()
    want_dau = _rolling_dau_from_cells(
        dau_cells(spark.read.parquet(in_dir))
    ).orderBy("day").collect()
    assert [r.asDict() for r in got_dau] == [r.asDict() for r in want_dau]
    # duplicate presence absorbed: Jan 3 dau is 1 (user 1 twice in
    # two batches), and both batch dirs committed
    by_day = {str(r.day): r.dau for r in got_dau}
    assert by_day["2024-01-03"] == 1
    assert len(os.listdir(str(tmp_path / "dau_out"))) >= 2


# ---------------------------------------------------------------------------
# Cross-batch running-sum allocation (F1 under split arrival; round-10
# verdict item #1 — the reference's Redis accumulator design,
# OrderWiderApp.scala:157-199)
# ---------------------------------------------------------------------------

_ALLOC_SCHEMA = (
    "l_orderkey long, l_linenumber int, l_partkey long, l_suppkey long, "
    "l_quantity double, l_extendedprice double, o_totalprice double, "
    "o_weight_total double, o_detail_count int, l_commit_ts timestamp"
)
_ALLOC_ORDER = ["l_linenumber", "l_partkey", "l_suppkey",
                "l_extendedprice", "l_quantity"]


def _alloc_orders():
    """(orderkey, totalprice, [(partkey, extendedprice), ...]) — mixed
    detail counts incl. single-detail orders and 2-dp-awkward weights."""
    return {
        1: (100.00, [(10, 30.00), (11, 50.00)]),
        2: (250.50, [(12, 80.25), (13, 99.99), (14, 20.01)]),
        3: (77.77, [(15, 77.77)]),
        4: (1000.00, [(10, 333.33), (10, 333.33), (11, 333.34)]),
        5: (19.99, [(12, 3.33), (13, 3.33), (14, 3.33), (15, 3.34),
                    (10, 6.66)]),
    }


def _alloc_rows(orders, ts):
    rows = []
    for ok, (total, details) in orders.items():
        wtot = round(sum(w for _, w in details), 2)
        for ln, (pk, w) in enumerate(details, start=1):
            rows.append((ok, ln, pk, 100 + ln, 1.0, w, total, wtot,
                         len(details), ts))
    return rows


def _write_split_feed(spark, feed_dir, waves):
    """One parquet file per wave, strictly ascending mtimes so the
    file source delivers them as separate ordered micro-batches."""
    os.makedirs(feed_dir, exist_ok=True)
    t0 = time.time()
    for j, rows in enumerate(waves):
        tmp = os.path.join(feed_dir, f"_tmp{j}")
        spark.createDataFrame(rows, _ALLOC_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        dst = os.path.join(feed_dir, f"wave_{j}.parquet")
        os.replace(os.path.join(tmp, part), dst)
        os.utime(dst, (t0 + j, t0 + j))
        import shutil

        shutil.rmtree(tmp)


def _split_by_rank(orders, ts, n_chunks):
    """Chunk c carries every order's c-th contiguous slice of details
    (rank order) — every multi-detail order spans >= 2 waves."""
    all_rows = _alloc_rows(orders, ts)
    waves = [[] for _ in range(n_chunks)]
    by_order: dict = {}
    for r in all_rows:
        by_order.setdefault(r[0], []).append(r)
    for rows in by_order.values():
        rows.sort(key=lambda r: (r[1], r[2], r[3], r[5], r[4]))
        n = len(rows)
        for i, r in enumerate(rows):
            waves[(i * n_chunks) // n].append(r)
    return waves


def test_stream_allocation_split_equals_batch(
    spark, state_provider, tmp_path, bucketed
):
    """The operator must reproduce the batch allocation operator
    exactly when an order's details are split across micro-batches in
    detail order — the semantics the per-batch path refuses
    (co-arrival contract)."""
    import datetime

    from realtime0523_spark.operators.allocation import allocate_order_amount
    from realtime0523_spark.streaming.allocation import streaming_allocation_split

    orders = _alloc_orders()
    ts = datetime.datetime(2025, 6, 15)
    feed = str(tmp_path / "feed")
    _write_split_feed(spark, feed, _split_by_rank(orders, ts, 3))
    src = (
        spark.readStream.schema(_ALLOC_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(feed)
    )
    got = run_to_memory(
        streaming_allocation_split(src, _ALLOC_ORDER),
        output_mode="update",
    )
    batch = spark.createDataFrame(_alloc_rows(orders, ts), _ALLOC_SCHEMA)
    want = allocate_order_amount(
        batch,
        order_key="l_orderkey",
        detail_order_by=_ALLOC_ORDER,
        weight="l_extendedprice",
        order_total="o_totalprice",
    ).select("l_orderkey", "l_linenumber", "l_partkey", "final_detail_amount")
    got_rows = sorted(map(tuple, got.collect()))
    want_rows = sorted(map(tuple, want.collect()))
    assert got_rows == want_rows
    # exact-sum contract: per order the shares add to round2(total)
    sums: dict = {}
    for ok, _, _, amt in got_rows:
        sums[ok] = round(sums.get(ok, 0.0) + amt, 2)
    for ok, (total, _) in orders.items():
        assert sums[ok] == round(total, 2)


def test_stream_allocation_ttl_evicts_incomplete_orders(
    spark, tmp_path, bucketed
):
    """Event-time TTL = the reference's Redis expire: an incomplete
    order whose state aged past the TTL horizon restarts its running
    sums (the reference's own accepted failure mode) — observable as a
    proportional share where a live state would have emitted the
    remainder."""
    import datetime

    from realtime0523_spark.streaming.allocation import streaming_allocation_split

    t0 = datetime.datetime(2025, 6, 15)
    late = t0 + datetime.timedelta(seconds=400)
    # order 1: 3 equal 30.00 weights, weight_total 90, total 100 —
    # proportional share 33.33 vs last-row remainder 33.34, so the two
    # behaviors are DISTINGUISHABLE. Lines 1-2 co-arrive; line 3 is a
    # straggler past the TTL horizon.
    w1 = [(1, 1, 10, 101, 1.0, 30.0, 100.0, 90.0, 3, t0),
          (1, 2, 11, 102, 1.0, 30.0, 100.0, 90.0, 3, t0)]
    # unrelated complete order advances the watermark past t0+ttl …
    w2 = [(2, 1, 11, 102, 1.0, 50.0, 50.0, 50.0, 1,
           t0 + datetime.timedelta(seconds=300))]
    # … and a second unrelated wave gives the engine a batch in which
    # order 1 has an EXPIRED timer but no data — the batch where the
    # eviction actually runs (a timed-out group with fresh data in the
    # same batch is served the data path instead)
    w2b = [(3, 1, 12, 103, 1.0, 25.0, 25.0, 25.0, 1,
            t0 + datetime.timedelta(seconds=310))]
    w3 = [(1, 3, 12, 103, 1.0, 30.0, 100.0, 90.0, 3, late)]
    feed = str(tmp_path / "ttlfeed")
    _write_split_feed(spark, feed, [w1, w2, w2b, w3])
    src = (
        spark.readStream.schema(_ALLOC_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(feed)
    )
    got = run_to_memory(
        streaming_allocation_split(src, _ALLOC_ORDER),
        output_mode="update",
    )
    by_line = {
        (r.l_orderkey, r.l_linenumber): r.final_detail_amount
        for r in got.collect()
    }
    assert by_line[(1, 1)] == 33.33  # proportional: round2(100*30/90)
    assert by_line[(1, 2)] == 33.33
    assert by_line[(2, 1)] == 50.0  # single-detail remainder
    # state evicted at the TTL horizon → the straggler RESTARTS the
    # running sums (n_seen=1 of 3) and emits the PROPORTIONAL 33.33;
    # surviving state would have emitted the remainder 100-66.66=33.34
    assert by_line[(1, 3)] == 33.33


def test_streamed_ivf_long_horizon_flat_fold_and_unique_ids(spark, tmp_path):
    """Long-horizon contract (round-10 verdict item #4): 100+
    micro-batches through the incremental IVF appender with a
    10-batch reindex cadence. compact_partials() must keep the
    at-rest partials BOUNDED (≤ one base + refresh_every fresh files
    — never the 100 files an uncompacted run accretes, the
    O(batches²) fold), the drained+compacted index must still equal
    the batch-built oracle, and the unique-id append contract check
    passes on a clean feed / fails loudly on a duplicated one."""
    import numpy as np

    from realtime0523_spark.llm.similarity import ann_topk_ivf, label_centroids
    from realtime0523_spark.streaming.ann_index import streaming_ivf_index_append
    from realtime0523_spark.streaming.compaction import base_watermark, partial_ids

    n_batches, per_batch, dims = 100, 4, 8
    rows = [
        (
            b * per_batch + i,
            (b * per_batch + i) % 3,
            [float(((b * per_batch + i) * 7 + d * 13) % 29) for d in range(dims)],
        )
        for b in range(n_batches)
        for i in range(per_batch)
    ]
    in_dir = str(tmp_path / "vin")
    os.makedirs(in_dir)
    schema = "vec_id long, label int, embedding array<float>"
    t0 = time.time()
    for b in range(n_batches):
        chunk = spark.createDataFrame(
            rows[b * per_batch : (b + 1) * per_batch], schema
        )
        tmp = str(tmp_path / f"_t{b}")
        chunk.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        dst = os.path.join(in_dir, f"b{b:04d}.parquet")
        os.replace(os.path.join(tmp, part), dst)
        os.utime(dst, (t0 + b, t0 + b))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    refresh_every = 10
    idx = streaming_ivf_index_append(
        spark, stream, work_dir=str(tmp_path / "ivf"),
        checkpoint_dir=str(tmp_path / "ckpt"), refresh_every=refresh_every,
    )
    committed = [d for d in os.listdir(idx.vec_dir) if d.startswith("batch_id=")]
    assert len(committed) == n_batches  # genuinely 100 micro-batches
    # FLAT fold cost, structurally: at most refresh_every partial files
    # remain fresh and exactly one base snapshot holds the rest — a
    # refresh reads ≤ 1 + refresh_every files whatever the horizon
    assert len(partial_ids(idx.cent_dir)) <= refresh_every
    assert base_watermark(idx.base_dir) >= 0
    bases = [f for f in os.listdir(idx.base_dir) if f.startswith("v_")]
    assert len(bases) == 1  # superseded bases garbage-collected
    # drained-equals-batch still holds after 10 compactions
    emb = spark.createDataFrame(rows, schema)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    got = sorted(
        (q, v, round(s, 9), r)
        for q, v, s, r in map(tuple, idx.query(queries, nprobe=3, k=3).collect())
    )
    want = sorted(
        (q, v, round(s, 9), r)
        for q, v, s, r in map(
            tuple,
            ann_topk_ivf(
                emb, queries, nprobe=3, k=3, centroids=label_centroids(emb)
            )
            .select("qid", "vec_id", "score", "rk")
            .collect(),
        )
    )
    assert got == want and len(got) == 9
    # unique-id contract: clean feed passes; a duplicated id raises
    idx.assert_unique_ids()
    emb.filter(F.col("vec_id") == 0).write.mode("append").parquet(
        os.path.join(idx.vec_dir, f"batch_id={n_batches}")
    )
    with pytest.raises(ValueError, match="duplicate vec_ids"):
        idx.assert_unique_ids()


def test_stream_allocation_split_restart_resumes_state(
    spark, state_provider, tmp_path, bucketed
):
    """T6 for the running-sum allocation state: the query is STOPPED
    between an order's chunks; the second incarnation must resume the
    (n_seen, Σweight, Σallocated) state from the checkpoint — the
    straggler chunks then complete each order with the exact remainder,
    and the union of both incarnations' idempotent commits equals the
    batch operator. Both state-store providers."""
    import datetime

    from realtime0523_spark.operators.allocation import allocate_order_amount
    from realtime0523_spark.streaming.allocation import streaming_allocation_split

    orders = _alloc_orders()
    ts = datetime.datetime(2025, 6, 15)
    waves = _split_by_rank(orders, ts, 3)
    feed = str(tmp_path / "feed")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    os.makedirs(out)
    _write_split_feed(spark, feed, waves[:2])

    def run_incarnation():
        src = (
            spark.readStream.schema(_ALLOC_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(feed)
        )
        run_foreach_batch(
            streaming_allocation_split(src, _ALLOC_ORDER),
            idempotent_batch_writer(out),
            checkpoint_dir=ckpt,
            output_mode="update",
        )

    run_incarnation()  # chunks 0-1 drain; multi-detail orders in flight
    import shutil
    import time as _time

    tmp = str(tmp_path / "_w2")
    spark.createDataFrame(waves[2], _ALLOC_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(tmp)
    part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
    dst = os.path.join(feed, "wave_2.parquet")
    os.replace(os.path.join(tmp, part), dst)
    os.utime(dst, (_time.time() + 60, _time.time() + 60))
    shutil.rmtree(tmp)
    run_incarnation()  # resumes from the checkpoint; completes the orders

    got = sorted(
        map(
            tuple,
            spark.read.parquet(out)
            .select("l_orderkey", "l_linenumber", "l_partkey",
                    "final_detail_amount")
            .collect(),
        )
    )
    batch = spark.createDataFrame(_alloc_rows(orders, ts), _ALLOC_SCHEMA)
    want = sorted(
        map(
            tuple,
            allocate_order_amount(
                batch,
                order_key="l_orderkey",
                detail_order_by=_ALLOC_ORDER,
                weight="l_extendedprice",
                order_total="o_totalprice",
            )
            .select("l_orderkey", "l_linenumber", "l_partkey",
                    "final_detail_amount")
            .collect(),
        )
    )
    assert got == want


def test_streaming_brand_amount_guard_refuses_split_feed(spark, tmp_path):
    """The registered streaming ADS path (streaming_brand_amount)
    enforces the co-arrival contract at runtime: an order whose detail
    rows land in two micro-batches must RAISE (the per-batch allocation
    would double-count o_totalprice), naming the split-arrival
    alternative."""
    import datetime
    import time as _time

    from realtime0523_spark.streaming.ads import streaming_brand_amount

    wide_schema = (
        "l_orderkey long, l_linenumber int, l_partkey long, l_suppkey long, "
        "l_quantity double, l_extendedprice double, o_totalprice double, "
        "l_commit_ts timestamp"
    )
    feed = str(tmp_path / "wide")
    os.makedirs(feed)
    t0 = _time.time()
    ts = datetime.datetime(2025, 6, 15)
    waves = [
        [(1, 1, 10, 100, 1.0, 30.0, 100.0, ts)],
        [(1, 2, 11, 101, 1.0, 70.0, 100.0, ts)],  # same order, later batch
    ]
    for j, rows in enumerate(waves):
        tmp = str(tmp_path / f"_t{j}")
        spark.createDataFrame(rows, wide_schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        dst = os.path.join(feed, f"w{j}.parquet")
        os.replace(os.path.join(tmp, part), dst)
        os.utime(dst, (t0 + j, t0 + j))
    part_dim = spark.createDataFrame(
        [(10, "Brand#A"), (11, "Brand#B")], "p_partkey long, p_brand string"
    )
    src = (
        spark.readStream.schema(wide_schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(feed)
    )
    with pytest.raises(Exception, match="co-arrival contract violated"):
        streaming_brand_amount(
            spark, src, part_dim,
            out_dir=str(tmp_path / "out"),
            checkpoint_dir=str(tmp_path / "ck"),
            forbid_watermark_drops=False,
        )


def test_co_arrival_guard_compacts_key_log_and_stays_replay_exempt(
    spark, tmp_path, monkeypatch
):
    """The guard's key log must stay BOUNDED (base snapshot + at most
    COMPACT_EVERY fresh files — an always-on stage re-reading every
    batch's key file forever is an O(batches²) accretion), keep
    raising on a key from a compacted-away batch, and stay exempt on a
    replay of the latest batch even after its keys were folded into
    the base."""
    from realtime0523_spark.streaming import compaction
    from realtime0523_spark.streaming.allocation import co_arrival_guard

    monkeypatch.setattr(compaction, "COMPACT_EVERY", 2)
    keys_dir = str(tmp_path / "keys")
    guard = co_arrival_guard(spark, keys_dir)

    def batch(*ks):
        return _keys_batch(spark, *ks)

    for i in range(6):
        guard(batch(100 + i), i)
    # bounded: everything folded into one base, < COMPACT_EVERY fresh
    partials = [d for d in os.listdir(keys_dir) if d.startswith("batch_id=")]
    assert len(partials) < 2
    base = keys_dir + "_base"
    assert len([f for f in os.listdir(base) if f.startswith("v_")]) == 1
    # a key committed in batch 0 (long since compacted) still raises
    with pytest.raises(RuntimeError, match="co-arrival contract violated"):
        guard(batch(100), 6)
    # replaying the LAST batch is exempt even though its key sits in
    # the base (the base carries per-key max batch_id)
    guard(batch(105), 5)


def test_streaming_dau_state_evicts_at_ttl(spark, tmp_path):
    """The DAU dedup must use dropDuplicatesWithinWatermark so the 24 h
    TTL actually EVICTS state (plain dropDuplicates on a subset without
    the time column never does — the round-10 review finding): after a
    wave 3 days later advances the watermark, day-1 keys must be gone
    from the state store while counts stay correct."""
    import time as _time

    from realtime0523_spark.streaming.dau import streaming_dau
    from realtime0523_spark.streaming.runner import _stream_shuffle

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    day1 = "2025-06-15 12:00:00"
    day4 = "2025-06-18 12:00:00"
    waves = [
        [(1, day1), (2, day1), (1, day1)],  # 2 distinct day-1 keys
        [(3, day4)],  # watermark → day4 - 24h, evicting day-1 state
    ]
    t0 = _time.time()
    for j, rows in enumerate(waves):
        df = spark.createDataFrame(
            rows, "user_id long, ts_s string"
        ).select("user_id", F.col("ts_s").cast("timestamp").alias("ts"))
        tmp = str(tmp_path / f"_t{j}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        dst = os.path.join(in_dir, f"w{j}.parquet")
        os.replace(os.path.join(tmp, part), dst)
        os.utime(dst, (t0 + j, t0 + j))
    src = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
    )
    with _stream_shuffle(spark, no_data_batches=True):
        q = (
            streaming_dau(src)
            .writeStream.format("memory")
            .queryName("dau_ttl")
            .outputMode("complete")
            .start()
        )
        try:
            q.processAllAvailable()
            dedup_state = next(
                op
                for op in q.lastProgress["stateOperators"]
                if "dedupe" in op["operatorName"].lower()
            )
            rows = sorted(map(tuple, spark.table("dau_ttl").collect()))
        finally:
            q.stop()
    assert rows == [("2025-06-15", 2), ("2025-06-18", 1)]
    # day-1 keys evicted: only day-4's single key remains in state
    assert dedup_state["numRowsTotal"] == 1


def test_stream_allocation_restart_under_other_bucket_count_raises(
    spark, tmp_path, monkeypatch
):
    """The bucket count keys the state: a query stopped with orders in
    flight and restarted under another SPARK_GRAFT_STATE_BUCKETS must
    raise BucketStateMismatch, naming the recorded count, instead of
    silently re-keying the in-flight orders."""
    import datetime

    from realtime0523_spark.streaming.allocation import streaming_allocation_split

    waves = _split_by_rank(_alloc_orders(), datetime.datetime(2025, 6, 15), 3)
    feed = str(tmp_path / "feed")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    _write_split_feed(spark, feed, waves[:2])

    def run_incarnation():
        src = (
            spark.readStream.schema(_ALLOC_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(feed)
        )
        run_foreach_batch(
            streaming_allocation_split(src, _ALLOC_ORDER),
            idempotent_batch_writer(out),
            checkpoint_dir=ckpt,
            output_mode="update",
        )

    monkeypatch.setenv("SPARK_GRAFT_STATE_BUCKETS", "2")
    run_incarnation()  # chunks 0-1 drain; multi-detail orders in flight
    tmp = str(tmp_path / "_w2")
    spark.createDataFrame(waves[2], _ALLOC_SCHEMA).coalesce(1).write.parquet(tmp)
    part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
    dst = os.path.join(feed, "wave_2.parquet")
    os.replace(os.path.join(tmp, part), dst)
    os.utime(dst, (time.time() + 60, time.time() + 60))
    monkeypatch.setenv("SPARK_GRAFT_STATE_BUCKETS", "1")
    with pytest.raises(Exception, match="BucketStateMismatch") as err:
        run_incarnation()
    assert "SPARK_GRAFT_STATE_BUCKETS=2" in str(err.value)


# ----------------------------------------------------------------------
# Round-11: allocation tombstones, TTL validation, guard scoping/horizon,
# cells compaction long-horizon
# ----------------------------------------------------------------------


def test_stream_allocation_post_completion_duplicate_raises(
    spark, tmp_path, bucketed
):
    """Over-delivery must be LOUD: after an order completes, its state
    persists as a done-set entry until the TTL, so a duplicate detail
    arriving in a LATER batch raises — it must never silently restart
    the running sums at n_seen=1 and emit another proportional share
    (over-allocating the order total)."""
    import datetime

    from realtime0523_spark.streaming.allocation import streaming_allocation_split

    ts = datetime.datetime(2025, 6, 15)
    w1 = [
        (1, 1, 10, 101, 1.0, 30.0, 100.0, 80.0, 2, ts),
        (1, 2, 11, 102, 1.0, 50.0, 100.0, 80.0, 2, ts),  # completes
    ]
    # the duplicate arrives 5 s later — far inside the 100 s TTL
    w2 = [(1, 2, 11, 102, 1.0, 50.0, 100.0, 80.0, 2,
           ts + datetime.timedelta(seconds=5))]
    feed = str(tmp_path / "dupfeed")
    _write_split_feed(spark, feed, [w1, w2])
    src = (
        spark.readStream.schema(_ALLOC_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(feed)
    )
    with pytest.raises(Exception, match="over-allocate"):
        run_to_memory(
            streaming_allocation_split(src, _ALLOC_ORDER),
            output_mode="update",
        )


def test_stream_allocation_bucketed_same_batch_duplicate_raises(
    spark, tmp_path
):
    """The kernel's single O(rows) pass must keep the within-batch
    over-delivery contract: completion + duplicate inside ONE batch
    raises (a pop-on-completion shape would silently re-emit here)."""
    import datetime

    from realtime0523_spark.streaming.allocation import streaming_allocation_split

    ts = datetime.datetime(2025, 6, 15)
    w1 = [
        (1, 1, 10, 101, 1.0, 30.0, 100.0, 80.0, 2, ts),
        (1, 2, 11, 102, 1.0, 50.0, 100.0, 80.0, 2, ts),  # completes
        (1, 3, 11, 103, 1.0, 50.0, 100.0, 80.0, 2, ts),  # dup, same batch
    ]
    feed = str(tmp_path / "dupfeed_samebatch")
    _write_split_feed(spark, feed, [w1])
    src = (
        spark.readStream.schema(_ALLOC_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(feed)
    )
    with pytest.raises(Exception, match="over-allocate"):
        run_to_memory(
            streaming_allocation_split(src, _ALLOC_ORDER),
            output_mode="update",
        )


def test_stream_allocation_split_rejects_subsecond_ttl(spark):
    """ttl_ms // 1000 would silently truncate a sub-second TTL to a
    0 s watermark delay (round-10 advice): the operator must refuse
    instead."""
    from realtime0523_spark.streaming.allocation import streaming_allocation_split

    df = spark.createDataFrame([], _ALLOC_SCHEMA)
    with pytest.raises(ValueError, match="ttl_ms"):
        streaming_allocation_split(df, _ALLOC_ORDER, ttl_ms=500)


def _keys_batch(spark, *ks):
    """A guard input: the order keys, all at one event time (the guard
    prunes only keys a horizon older than the newest)."""
    import datetime

    ts = datetime.datetime(2025, 6, 15)
    return spark.createDataFrame(
        [(k, ts) for k in ks], "l_orderkey long, l_commit_ts timestamp"
    )


def test_co_arrival_guard_scopes_key_log_to_checkpoint(spark, tmp_path):
    """Batch ids restart at 0 with a fresh checkpoint, so a key log left by a prior run would falsely flag legitimately
    new batches. The guard RESETS the log when the checkpoint has no
    committed offsets, and KEEPS it when offsets exist (a live restart
    whose batch ids continue the same sequence)."""
    from realtime0523_spark.streaming.allocation import co_arrival_guard

    keys_dir = str(tmp_path / "keys")
    g1 = co_arrival_guard(spark, keys_dir, checkpoint_dir=str(tmp_path / "ck1"))
    g1(_keys_batch(spark, 100), 5)  # prior run: key 100 at batch 5
    # fresh checkpoint → log reset → key 100 in batch 0 is legitimate
    g2 = co_arrival_guard(spark, keys_dir, checkpoint_dir=str(tmp_path / "ck2"))
    g2(_keys_batch(spark, 100), 0)
    # live checkpoint (offsets committed) → log kept → reappearance raises
    ck3 = str(tmp_path / "ck3")
    os.makedirs(os.path.join(ck3, "offsets"))
    with open(os.path.join(ck3, "offsets", "0"), "w") as fh:
        fh.write("{}")
    g3 = co_arrival_guard(spark, keys_dir, checkpoint_dir=ck3)
    with pytest.raises(RuntimeError, match="co-arrival contract violated"):
        g3(_keys_batch(spark, 100), 1)


def test_streaming_cells_long_horizon_flat_fold(spark, tmp_path, monkeypatch):
    """Round-10 verdict item #1: 100+ micro-batches through the
    additive-cells machinery with a 10-batch compaction cadence. The
    at-rest partials must stay BOUNDED (exactly one base snapshot +
    fewer than COMPACT_EVERY fresh files — never the 100 files an
    uncompacted always-on monitor accretes, the O(batches²) fold), and
    the drained result must still equal the batch fold."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from realtime0523_spark.streaming import compaction
    from realtime0523_spark.streaming.cells import drain_partials, sum_fold
    from realtime0523_spark.streaming.compaction import (
        base_watermark,
        partial_ids,
    )

    n_batches, compact_every = 100, 10
    monkeypatch.setattr(compaction, "COMPACT_EVERY", compact_every)
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    t0 = time.time()
    for b in range(n_batches):
        pth = os.path.join(in_dir, f"b{b:04d}.parquet")
        pq.write_table(
            pa.table({"k": [f"k{b % 7}", f"k{(b + 1) % 7}"],
                      "v": [b, 2 * b]}),
            pth,
        )
        os.utime(pth, (t0 + b, t0 + b))
    src = (
        spark.readStream.schema("k string, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )

    def cell_fn(b):
        return b.groupBy("k").agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum("v").cast("long").alias("s"),
        )

    out_dir = str(tmp_path / "cells")
    got = drain_partials(
        src,
        cell_fn,
        out_dir,
        fold=sum_fold(["k"], ["cnt", "s"]),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    got_rows = sorted(map(tuple, got.collect()))
    # flat fold cost, structurally: one base, < compact_every fresh
    assert len(partial_ids(out_dir)) < compact_every
    assert base_watermark(out_dir + "_base") >= 0
    bases = [f for f in os.listdir(out_dir + "_base") if f.startswith("v_")]
    assert len(bases) == 1  # superseded bases garbage-collected
    # drained equals batch
    batch = spark.read.parquet(in_dir)
    want_rows = sorted(map(tuple, cell_fn(batch).collect()))
    assert got_rows == want_rows


def test_stream_order_wide_skewed_key_completes_with_bounded_state(
    spark, state_provider, tmp_path
):
    """Round-10 verdict item #7: the DWS watermarked join under a
    deliberately SKEWED order key — one order owns ~50% of a batch's
    detail rows. Under both state-store providers the join must (a)
    COMPLETE: every header×detail pair emitted, zero watermark drops;
    and (b) keep state BOUNDED: once a later wave advances the
    watermark past the first wave + tolerance, the hot key's hundreds
    of buffered rows are evicted — final state holds only the last
    wave's horizon, never the accumulated feed."""
    from realtime0523_spark.streaming.order_wide import streaming_order_wide
    from realtime0523_spark.streaming.runner import (
        _stream_shuffle,
        watermark_drops,
    )

    t0 = 1_750_000_000  # epoch s, far from the epoch-0 watermark
    hot, n_hot = 7, 300
    odir, ddir = str(tmp_path / "o"), str(tmp_path / "d")
    os.makedirs(odir)
    os.makedirs(ddir)

    def _emit(side_dir, name, df, mtime):
        tmp = str(tmp_path / f"_t_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        dst = os.path.join(side_dir, f"{name}.parquet")
        os.replace(os.path.join(tmp, part), dst)
        os.utime(dst, (mtime, mtime))

    # wave 1: orders 0..7, the hot key holds 300 of ~335 detail rows
    o1 = spark.createDataFrame(
        [(k, float(k), t0 + k) for k in range(8)],
        "o_orderkey long, o_totalprice double, ts_s long",
    ).selectExpr("o_orderkey", "o_totalprice",
                 "timestamp_seconds(ts_s) AS o_ts")
    d1 = spark.createDataFrame(
        [(hot, i, 1.0, t0 + hot) for i in range(n_hot)]
        + [(k, 1000 + i, 2.0, t0 + k)
           for k in range(7) for i in range(5)],
        "l_orderkey long, l_linenumber long, l_extendedprice double, ts_s long",
    ).selectExpr("l_orderkey", "l_linenumber", "l_extendedprice",
                 "timestamp_seconds(ts_s) AS l_ts")
    # wave 2: an hour later — advances the watermark past wave 1
    o2 = spark.createDataFrame(
        [(k, float(k), t0 + 3600 + k) for k in (8, 9)],
        "o_orderkey long, o_totalprice double, ts_s long",
    ).selectExpr("o_orderkey", "o_totalprice",
                 "timestamp_seconds(ts_s) AS o_ts")
    d2 = spark.createDataFrame(
        [(k, 2000 + i, 3.0, t0 + 3600 + k)
         for k in (8, 9) for i in range(5)],
        "l_orderkey long, l_linenumber long, l_extendedprice double, ts_s long",
    ).selectExpr("l_orderkey", "l_linenumber", "l_extendedprice",
                 "timestamp_seconds(ts_s) AS l_ts")
    now = time.time()
    _emit(odir, "w0", o1, now)
    _emit(odir, "w1", o2, now + 60)
    _emit(ddir, "w0", d1, now)
    _emit(ddir, "w1", d2, now + 60)

    o = (
        spark.readStream.schema(
            "o_orderkey long, o_totalprice double, o_ts timestamp"
        ).option("maxFilesPerTrigger", "1").parquet(odir)
    )
    d = (
        spark.readStream.schema(
            "l_orderkey long, l_linenumber long, l_extendedprice double, "
            "l_ts timestamp"
        ).option("maxFilesPerTrigger", "1").parquet(ddir)
    )
    wide = streaming_order_wide(
        o, d, order_ts="o_ts", detail_ts="l_ts", tolerance="50 seconds"
    ).select("o_orderkey", "l_linenumber")
    with _stream_shuffle(spark, no_data_batches=True):
        q = (
            wide.writeStream.format("memory")
            .queryName("skew_wide")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
            drops = watermark_drops(q)
            state_rows = sum(
                op["numRowsTotal"]
                for op in q.lastProgress["stateOperators"]
            )
            got = spark.table("skew_wide").collect()
        finally:
            q.stop()
    # completion: every pair exactly once, nothing dropped
    assert drops == 0
    n_expected = n_hot + 7 * 5 + 2 * 5
    assert len(got) == n_expected
    assert len(set(map(tuple, got))) == n_expected
    assert sum(1 for r in got if r.o_orderkey == hot) == n_hot
    # bounded state: wave 1 (hot key included) evicted at the
    # watermark — the retained horizon is wave 2's dozen rows, never
    # the ~343 accumulated input rows
    assert state_rows <= 30, state_rows


# ----------------------------------------------------------------------
# Round-12: allocation skew stress + compact done-set state shape
# ----------------------------------------------------------------------


def test_stream_allocation_skewed_order_completes_with_bounded_state(
    spark, state_provider, tmp_path, monkeypatch
):
    """The allocation under a deliberately SKEWED order key — one
    order owns ~50% of each batch's detail rows, so one bucket's O(rows) pass dwarfs the
    others. Under both state-store providers the operator must
    (a) COMPLETE: every detail allocated exactly once, the hot
    order's shares summing exactly to its total; and (b) keep state
    BOUNDED: the hot order occupies ONE live entry while in flight
    (state keys = buckets, never rows), and once a later wave advances
    the watermark past the TTL every earlier order's done-set record
    is evicted — final state holds only the last wave's horizon."""
    import datetime

    from realtime0523_spark.streaming.allocation import (
        streaming_allocation_split,
    )
    from realtime0523_spark.streaming.runner import _stream_shuffle

    t0 = datetime.datetime(2025, 6, 15)
    hot, n_hot, total_hot = 7, 300, 12345.67
    monkeypatch.setenv("SPARK_GRAFT_STATE_BUCKETS", "4")
    # wave 1: first half of the hot order's details + 6 small orders
    # (5 details each, all completing in-wave) — hot is ~50% of rows
    hot_rows = [
        (hot, i, 10 + (i % 3), 100, 1.0, 2.5, total_hot, n_hot * 2.5,
         n_hot, t0)
        for i in range(n_hot)
    ]
    small = [
        (k, i, 20, 200, 1.0, 10.0, 50.0, 50.0, 5, t0)
        for k in range(100, 106)
        for i in range(5)
    ]
    w1 = hot_rows[: n_hot // 2] + small
    # wave 2: the hot order's second half — completes it cross-batch
    w2 = hot_rows[n_hot // 2:]
    # wave 3: one fresh single-detail order 400 s later — advances the
    # watermark past every wave-1/2 expiry (TTL 100 s)
    late_ts = t0 + datetime.timedelta(seconds=400)
    w3 = [(900, 1, 30, 300, 1.0, 9.99, 9.99, 9.99, 1, late_ts)]
    feed = str(tmp_path / "skewfeed")
    _write_split_feed(spark, feed, [w1, w2, w3])
    src = (
        spark.readStream.schema(_ALLOC_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(feed)
    )
    out = streaming_allocation_split(src, _ALLOC_ORDER)
    with _stream_shuffle(spark, no_data_batches=True):
        q = (
            out.writeStream.format("memory")
            .queryName("skew_alloc")
            .outputMode("update")
            .start()
        )
        try:
            q.processAllAvailable()
            state_rows = sum(
                op["numRowsTotal"]
                for op in q.lastProgress["stateOperators"]
            )
            got = spark.table("skew_alloc").collect()
        finally:
            q.stop()
    # completion: every detail allocated exactly once
    assert len(got) == n_hot + 6 * 5 + 1
    hot_shares = [r.final_detail_amount for r in got if r.l_orderkey == hot]
    assert len(hot_shares) == n_hot
    # exact-sum contract survives the skew + the cross-batch split
    assert round(sum(hot_shares), 2) == total_hot
    for k in range(100, 106):
        s = sum(r.final_detail_amount for r in got if r.l_orderkey == k)
        assert round(s, 2) == 50.0
    # bounded state: keys are BUCKETS (≤ 4 at peak, by schema),
    # and the TTL-advancing wave evicted every earlier entry — only the
    # late order's bucket survives the drain
    assert state_rows <= 1, state_rows


def test_stream_allocation_done_set_is_compact():
    """A completed order's record in the bucket state must be
    presence-with-expiry ONLY (the done-set's key and expiry columns),
    with the live columns holding in-flight orders exclusively — the
    tombstone shape that re-serialized full [n_seen, Σalloc, expiry]
    entries per batch is the thing this guards against regressing."""
    import pandas as pd

    from realtime0523_spark.streaming.allocation import (
        STATE_DTYPES,
        allocation_kernel,
    )
    from realtime0523_spark.streaming.bucketed_state import (
        STATE_SCHEMA,
        decode_state,
        state_fn,
    )
    from tests.fake_state import FakeState

    # one binary cell per bucket; live and done sets stay separate
    # columns inside it
    assert STATE_SCHEMA == "state binary"
    fn = state_fn(
        allocation_kernel(_ALLOC_ORDER, "l_commit_ts", 100_000), STATE_DTYPES, 1
    )
    ts = pd.Timestamp("2025-06-15")
    batch = pd.DataFrame(
        {
            "l_orderkey": [1, 1, 2],
            "l_linenumber": [1, 2, 1],
            "l_partkey": [10, 11, 12],
            "l_suppkey": [100, 101, 102],
            "l_quantity": [1.0, 1.0, 1.0],
            "l_extendedprice": [30.0, 50.0, 5.0],
            "o_totalprice": [100.0, 100.0, 40.0],
            "o_weight_total": [80.0, 80.0, 10.0],
            "o_detail_count": [2, 2, 2],
            "l_commit_ts": [ts, ts, ts],
        }
    )
    state = FakeState()
    out = pd.concat(list(fn((0,), iter([batch]), state)))
    assert sorted(out["final_detail_amount"].tolist()) == [20.0, 37.5, 62.5]
    ks, ns, als, exp, dks, dexp = decode_state(state.get[0], 1, STATE_DTYPES)
    # order 1 completed -> compact done-set record, no live entry;
    # order 2 in flight -> live entry with running sums (cents)
    assert list(dks) == [1]
    assert list(ks) == [2] and list(ns) == [1] and list(als) == [2000.0]
    exp_ms = int(ts.value // 1_000_000) + 100_000
    assert list(dexp) == [exp_ms] and list(exp) == [exp_ms]
    assert state.timeout_ms == exp_ms


def test_bucketed_state_codec_refuses_other_version_and_bucket_count():
    """Every cell records the format version and the bucket count; a
    cell with another version byte, or decoded under another bucket
    count, raises BucketStateMismatch by name instead of being read."""
    import numpy as np

    from realtime0523_spark.streaming.bucketed_state import (
        BucketStateMismatch,
        decode_state,
        encode_state,
    )

    dtypes = (np.int64, np.float64)
    blob = encode_state(
        4, (np.array([3, 1]), np.array([0.5])), dtypes
    )
    ks, vs = decode_state(blob, 4, dtypes)
    assert ks.tolist() == [3, 1] and vs.tolist() == [0.5]
    assert blob[0] == 1
    with pytest.raises(BucketStateMismatch, match="format version 2"):
        decode_state(bytes([2]) + blob[1:], 4, dtypes)
    with pytest.raises(
        BucketStateMismatch, match="SPARK_GRAFT_STATE_BUCKETS=4"
    ):
        decode_state(blob, 8, dtypes)


def test_co_arrival_guard_event_time_horizon_bounds_key_log(
    spark, tmp_path, monkeypatch
):
    """The guard's at-rest key log must stay bounded by its EVENT-TIME
    horizon (GUARD_HORIZON_MS, 150 s) over a long run — keys whose
    last-seen event time fell more than the horizon behind the log's
    newest event time are pruned at compaction (they can no longer
    traverse the upstream watermarked join, so the guard can never
    legally be asked about them again). Flat-fold shape mirrors the
    cells long-horizon test: one base snapshot, < COMPACT_EVERY fresh
    partials, base row count bounded by the horizon — never O(total
    distinct keys). False-raise semantics unchanged inside the
    horizon."""
    import datetime

    from realtime0523_spark.streaming import compaction
    from realtime0523_spark.streaming.allocation import (
        GUARD_HORIZON_MS,
        co_arrival_guard,
    )

    keys_dir = str(tmp_path / "keys_ev")
    compact_every, step_s = 4, 75
    assert GUARD_HORIZON_MS == 150_000
    monkeypatch.setattr(compaction, "COMPACT_EVERY", compact_every)
    guard = co_arrival_guard(spark, keys_dir)
    t0 = datetime.datetime(2025, 6, 15)

    def batch(k, sec):
        return spark.createDataFrame(
            [(k, t0 + datetime.timedelta(seconds=sec))],
            "l_orderkey long, l_commit_ts timestamp",
        )

    n = 30  # long horizon: one distinct key per batch, 75 s apart
    for i in range(n):
        guard(batch(100 + i, step_s * i), i)
    # flat fold, structurally: one live base, < compact_every fresh
    base = keys_dir + "_base"
    bases = [f for f in os.listdir(base) if f.startswith("v_")]
    assert len(bases) == 1
    partials = [d for d in os.listdir(keys_dir) if d.startswith("batch_id=")]
    assert len(partials) < compact_every
    # horizon-bounded: the base holds only keys seen within the horizon
    # of its newest folded event time (150 s / 75 s-steps = ~2 keys),
    # never the 30 distinct keys of the run
    base_rows = spark.read.parquet(os.path.join(base, bases[0])).collect()
    assert len(base_rows) <= GUARD_HORIZON_MS // (step_s * 1000) + 1, base_rows
    # false-raise semantics inside the horizon: the newest key raises
    with pytest.raises(RuntimeError, match="co-arrival contract violated"):
        guard(batch(100 + n - 1, step_s * n), n)
    # a long-pruned key no longer raises — it was compacted out
    # (legally unreachable through the upstream watermarked join)
    guard(batch(100, step_s * n), n)


def test_co_arrival_guard_horizon_never_prunes_early_on_backward_time(
    spark, tmp_path, state_provider, monkeypatch
):
    """Event time goes BACKWARD across batches (a late replay wave).
    The prune compares each key's last-seen event time to the LOG's
    max event time — a max can only grow, so a backward wave can never
    advance it, and keys within the 150 s horizon of the true newest must survive compaction and still
    raise. (The guard's log is parquet + foreachBatch, not a state
    store, but the contract must hold regardless of the session's
    configured provider — hence the parametrization.)"""
    import datetime

    from realtime0523_spark.streaming import compaction
    from realtime0523_spark.streaming.allocation import co_arrival_guard

    monkeypatch.setattr(compaction, "COMPACT_EVERY", 3)
    keys_dir = str(tmp_path / "keys_back")
    guard = co_arrival_guard(spark, keys_dir)
    t0 = datetime.datetime(2025, 6, 15)

    def batch(k, ms):
        return spark.createDataFrame(
            [(k, t0 + datetime.timedelta(milliseconds=ms))],
            "l_orderkey long, l_commit_ts timestamp",
        )

    guard(batch(1, 1_500_000), 0)  # the newest event time the log sees
    guard(batch(2, 750_000), 1)  # 750 s BACKWARD (late replay)
    guard(batch(3, 1_425_000), 2)  # backward too; triggers compaction
    # compaction folded with newest = 1500 s: keys 1 (1500 s) and
    # 3 (1425 s) are inside the 150 s horizon and MUST survive — a
    # backward wave must never lower the reference point and prune
    # them early
    for key in (1, 3):
        with pytest.raises(RuntimeError, match="co-arrival contract"):
            guard(batch(key, 600_000), 3)
    # key 2 (750 s behind the newest) is legally pruned → accepted
    guard(batch(2, 900_000), 3)


def test_co_arrival_guard_horizon_boundary_key_survives(
    spark, tmp_path, state_provider, monkeypatch
):
    """A key whose last-seen event time is EXACTLY the horizon
    (150 s) behind the log's newest survives the prune (>=). Spark keeps rows exactly at the watermark, so with
    H = tolerance + TTL the boundary key is the last one the upstream
    join could still legally emit a detail for; pruning it would be
    an off-by-one unsoundness. One millisecond older is pruned."""
    import datetime

    from realtime0523_spark.streaming import compaction
    from realtime0523_spark.streaming.allocation import co_arrival_guard

    monkeypatch.setattr(compaction, "COMPACT_EVERY", 3)
    keys_dir = str(tmp_path / "keys_bound")
    guard = co_arrival_guard(spark, keys_dir)
    t0 = datetime.datetime(2025, 6, 15)

    def batch(k, ms):
        return spark.createDataFrame(
            [(k, t0 + datetime.timedelta(milliseconds=ms))],
            "l_orderkey long, l_commit_ts timestamp",
        )

    guard(batch(1, 150_000), 0)  # exactly newest - horizon
    guard(batch(2, 149_999), 1)  # 1 ms past the boundary
    guard(batch(3, 300_000), 2)  # newest; triggers compaction
    # boundary key KEPT: re-arrival still raises
    with pytest.raises(RuntimeError, match="co-arrival contract"):
        guard(batch(1, 315_000), 3)
    # 1 ms older than the boundary: pruned, accepted as new
    guard(batch(2, 315_000), 3)


def test_co_arrival_guard_rejects_legacy_log_without_event_times(
    spark, tmp_path
):
    """A key log an older build wrote without event times (no __ts_ms
    column), kept by a live-checkpoint restart, must fail at
    construction with a NAMED error — not as an opaque
    AnalysisException at the first mid-stream check."""
    from realtime0523_spark.streaming.allocation import co_arrival_guard

    keys_dir = str(tmp_path / "keys_legacy")
    ckpt = str(tmp_path / "ck")
    # simulate a live checkpoint (offsets committed) so the restart
    # KEEPS the log instead of resetting it
    os.makedirs(os.path.join(ckpt, "offsets"))
    open(os.path.join(ckpt, "offsets", "0"), "w").close()
    # the legacy layout: batch 0's keys, l_orderkey only
    spark.createDataFrame([(1,)], "l_orderkey long").write.parquet(
        os.path.join(keys_dir, "batch_id=0")
    )
    assert spark.read.parquet(keys_dir).columns == ["l_orderkey", "batch_id"]
    with pytest.raises(ValueError, match="no __ts_ms"):
        co_arrival_guard(spark, keys_dir, checkpoint_dir=ckpt)
