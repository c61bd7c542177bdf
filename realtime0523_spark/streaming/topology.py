"""Five-layer CONCURRENT streaming topology — the reference's defining
architecture run as one live pipeline.

Reference: the gmall realtime warehouse is not five isolated jobs but a
layered topology running concurrently, chained by Kafka topics
(SURVEY §3): ODS router (scala/…/ods/KafkaToODS_M.scala) → DIM upserts
(scala/…/dim/SkuInfoApp.scala et al.) → DWD enrich
(scala/…/dwd/Ods_to_DWD_order_info.scala, dwd/OrderDetailApp.scala) →
DWS order-wide join + allocation (scala/…/dws/OrderWiderApp.scala) →
ADS aggregates (scala/…/ads/TradeMarkAmountApp.scala), every stage on a
5 s micro-batch cadence. The test suite proves each stage individually;
this module runs all five AS ONE LIVE TOPOLOGY — five Structured
Streaming queries in one session, directories standing in for the
inter-stage Kafka topics, each stage independently stoppable and
restartable from its checkpoint mid-run.

Inter-stage bus (`topic_append_writer`, read by `topic_batch` or
`topic_stream`): each stage batch is committed once. Its parquet part
files are written at natural parallelism (ODS writes its three topics
in one write partitioned by topic, DWD writes both of its topics),
and only then is ONE manifest file per topic, listing that topic's
files, atomically renamed into place, all of the batch's manifests
back to back. A reader can never observe half a batch (the visibility
guarantee a Kafka transaction gives the reference), no stage funnels
its output through a single partition, and a downstream trigger sees
the whole batch's manifests together. Every consumer streams the
MANIFESTS (`spark.readStream.text` over the topic), so each query's
checkpoint logs which manifests each batch read, and a replayed batch
publishes only the manifests it had not yet published (the K5
idempotence contract). The foreachBatch stages (DIM, DWD,
default-mode ADS) then read the listed files with Spark's own parquet
reader (`topic_batch`): the batch is a plain JVM scan, as the
reference reads its topic as JSON records. The DWS join and
split-arrival ADS feed a stateful streaming operator, which needs a
streaming input, so they keep `topic_stream`, which expands the
manifest lines to rows in a Python kernel on the executors. On a
cluster the bus is Kafka (streaming/sinks.kafka_sink — same
per-record fan-out) or a transactional table format, whose snapshot
commit is exactly this manifest shape; everything in this module
(stage shapes, watermarked join, per-batch dim snapshot, idempotent
commits, manifest visibility) is the 100 TB design.

Dim store (`sinks.versioned_dim_upsert`): the K2 SCD-1 upsert, safe
for CONCURRENT readers — the ADS stage snapshots the dim while DIM
upserts it. Every merge commits a NEW immutable version directory plus
a marker; readers pick the highest committed version.

Event-time contract: the CDC envelope `ts` (epoch ms) is the
create_time both sides of a header/detail pair share in the
reference's feed — DWD stamps it as the event-time column, so the DWS
watermarked time-range join (tolerance 50 s, the reference's window
span) keeps every pair while bounding state, across ANY batch
boundary placement. Monotonically non-decreasing feed `ts` (what a CDC
log delivers) keeps late-arriving waves inside the watermark horizon.

ALLOCATION MODES (the co-arrival contract is both GUARDED and
ESCAPABLE):

- Default (``split_arrival=False``): the F1 exact-sum allocation at
  ADS normalizes by the weight sum of the order's details PRESENT IN
  THE BATCH — so all of an order's detail rows must reach ODS in ONE
  input file (→ one batch end-to-end: the header may arrive in any
  batch, since the join emits every pair of an order together once
  the last side lands, and the manifest topic commits are atomically
  visible). This is the reference's own data contract — an order
  and its details are written in one DB transaction and arrive as one
  CDC batch (the same co-arrival assumption OrderWiderApp's 50 s
  window join + Redis allocation encode). The contract is a RUNTIME
  GUARD, not just a docstring: the ADS stage commits each batch's
  order-key set (synopsis-sized) and RAISES when an order key
  reappears in a later batch — a violating feed fails loudly instead
  of silently double-counting o_totalprice. The stage runs the same
  per-batch step as the registered `streaming_brand_amount` query
  (streaming/ads.guarded_brand_partial).
- ``split_arrival=True``: the ADS stage runs the reference's Redis
  running-sum design instead (streaming/allocation.py —
  applyInPandasWithState, 100 s event-time TTL,
  OrderWiderApp.scala:157-199): each detail is allocated as it
  arrives, the order's last detail takes the exact remainder, and a
  feed that splits one order's details across CDC files is computed
  CORRECTLY. Requires the order_info CDC payload to carry
  original-total metadata (o_weight_total = Σ detail weights,
  o_detail_count), exactly as the reference's order_info carries
  original_total_amount.

DAU STAGE: the reference runs Dau concurrently with the warehouse apps
on a FASTER 3 s trigger against the start-log topic
(scala/…/app/Dau.scala:42, local[4] Seconds(3)); the topology runs it
as a sixth concurrent stage over its own `in_start` directory feed —
the registered query's (dt, mid) first-sighting dedup
(streaming/dau.dau_members; D1, the Redis SADD+TTL analog) with each
batch's NEW members committed idempotently, at 3/5 of the warehouse
cadence.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realtime0523_spark.functions.scalar import round2
from realtime0523_spark.operators.allocation import DETAIL_ORDER
from realtime0523_spark.streaming.ads import (
    brand_partial,
    fold_brand_partials,
    guarded_brand_partial,
)
from realtime0523_spark.streaming.compaction import (
    committed_relation,
    maybe_compact,
)
from realtime0523_spark.streaming.dau import dau_members
from realtime0523_spark.streaming.router import route_cdc
from realtime0523_spark.streaming.runner import _stream_shuffle, watermark_drops
from realtime0523_spark.streaming.sinks import (
    idempotent_batch_writer,
    latest_dim_version,
    versioned_dim_upsert,
)
from realtime0523_spark.streaming.sources import cdc_json_stream

TRIGGER_SECONDS = 5.0  # the reference cadence (Seconds(5) in every app)
# Dau runs on a faster trigger than the warehouse apps
# (scala/…/app/Dau.scala:42 — Seconds(3) vs Seconds(5) everywhere else)
DAU_TRIGGER_RATIO = 3.0 / 5.0
JOIN_TOLERANCE = "50 seconds"  # OrderWiderApp's window span

# ODS topic record: the routed envelope with the payload re-serialized
# (what the reference produces to each ods_* topic).
ODS_RECORD_SCHEMA = "table string, type string, value string, ts long"

DWD_ORDER_INFO_SCHEMA = (
    "o_orderkey long, o_custkey long, o_totalprice double, "
    "order_dt string, o_commit_ts timestamp"
)
# split-arrival mode: the header additionally carries the reference's
# original-total metadata (original_total_amount analog) the running-
# sum allocation needs per row
DWD_ORDER_INFO_SCHEMA_SPLIT = (
    DWD_ORDER_INFO_SCHEMA + ", o_weight_total double, o_detail_count int"
)
DWD_ORDER_DETAIL_SCHEMA = (
    "l_orderkey long, l_linenumber int, l_partkey long, l_suppkey long, "
    "l_quantity double, l_extendedprice double, l_commit_ts timestamp"
)
DWS_WIDE_SCHEMA = (
    "o_orderkey long, o_custkey long, o_totalprice double, order_dt string, "
    "l_orderkey long, l_linenumber int, l_partkey long, l_suppkey long, "
    "l_quantity double, l_extendedprice double, l_commit_ts timestamp"
)
DWS_WIDE_SCHEMA_SPLIT = (
    DWS_WIDE_SCHEMA + ", o_weight_total double, o_detail_count int"
)
START_LOG_SCHEMA = "mid string, ts long"


def _row_parts(data_dir: str) -> list[str]:
    """A finished data write's part files that hold rows, sorted. Spark
    writes one row-less part file when every partition of a write is
    empty, so an empty batch leaves nothing to publish. A parquet file
    is its magic, its row groups, then its footer, the footer's length
    and the magic again: it holds rows iff any bytes sit between the
    leading magic and the footer."""
    if not os.path.isdir(data_dir):
        return []
    out = []
    for f in sorted(os.listdir(data_dir)):
        if not f.endswith(".parquet"):
            continue
        path = os.path.join(data_dir, f)
        with open(path, "rb") as fh:
            size = fh.seek(-8, os.SEEK_END) + 8
            footer = int.from_bytes(fh.read(4), "little")
        if size > 4 + footer + 8:
            out.append(path)
    return out


def topic_append_writer(topics: str | dict[str, str]):
    """foreachBatch writer emulating transactional Kafka topics on
    directories — MANIFEST COMMIT: a stage batch's parquet part files
    are written at the plan's NATURAL write parallelism, then ONE
    manifest file per topic listing them is atomically renamed into
    place. Readers (`topic_batch`, `topic_stream`) consume manifests,
    never directory listings of data files — a batch is either fully
    visible (its manifest committed) or not at all, the visibility
    guarantee a Kafka transaction gives the reference
    (scala/…/utils/KafkaStreamSink.scala:25), with no
    single-output-partition bottleneck. Underscore-prefixed names keep
    the data dirs and scratch invisible to Spark's file listing, so the
    manifest stream over a topic dir sees only committed manifests.

    One call commits every topic of a stage batch. `topics` is one
    topic directory (the batch is a DataFrame, written under
    `<dir>/_data/batch_<id>/`) or a map name → directory; then the
    batch is a map name → DataFrame, each written under its own
    topic's `_data/batch_<id>/`, or ONE DataFrame whose `topic` column
    names each row's topic, written by a single `partitionBy("topic")`
    write under `<common parent>/_data/batch_<id>/topic=<name>/`. All
    data is written before any manifest is published, and the
    manifests are published back to back. The batch is evaluated by
    its write alone (no persist, no emptiness job): a topic whose part
    files hold no rows publishes no manifest.

    Replay (K5): a published manifest proves the batch's data write
    finished, so when any manifest of the batch exists the data is
    left alone and only the missing manifests are published; when none
    exists the data is overwritten, which heals a crash between the
    data write and the first manifest rename (the rename IS the
    commit)."""
    dirs = {None: topics} if isinstance(topics, str) else dict(topics)
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    shared = os.path.join(os.path.commonpath(list(dirs.values())), "_data")

    def write(batch, batch_id: int) -> None:
        tag = f"{batch_id:09d}"
        manifests = {
            t: os.path.join(d, f"manifest_{tag}.txt") for t, d in dirs.items()
        }
        missing = [t for t, m in manifests.items() if not os.path.exists(m)]
        if not missing:  # replayed batch → already committed
            return
        one_write = isinstance(batch, DataFrame) and not isinstance(topics, str)
        root = os.path.join(shared, f"batch_{tag}")
        data = {
            t: os.path.join(root, f"topic={t}")
            if one_write
            else os.path.join(d, "_data", f"batch_{tag}")
            for t, d in dirs.items()
        }
        if len(missing) == len(dirs):  # nothing published: (re)write it all
            if one_write:
                batch.write.mode("overwrite").partitionBy("topic").parquet(root)
            else:
                frames = batch if isinstance(batch, dict) else {None: batch}
                for t, df in frames.items():
                    df.write.mode("overwrite").parquet(data[t])
        for t in missing:
            parts = _row_parts(data[t])
            if not parts:
                continue
            tmp = os.path.join(dirs[t], f"_tmp_manifest_{tag}")
            with open(tmp, "w") as fh:
                fh.write("\n".join(parts) + "\n")
            os.replace(tmp, manifests[t])

    return write


def topic_batch(
    spark: SparkSession, manifests: DataFrame, schema: str
) -> DataFrame | None:
    """Per-batch reader for a manifest-committed topic, for
    foreachBatch stages: `manifests` is one micro-batch of
    `spark.readStream.text(topic_dir)`, whose rows are the part-file
    paths of the manifests committed since the last batch. The paths
    are collected to the driver and exactly those files are read with
    Spark's parquet reader — a JVM scan with no Python crossing and no
    shuffle, re-run cheaply by each action of the stage. Returns None
    when the batch lists no files, so an empty batch runs no further
    job."""
    paths = [r.value for r in manifests.collect() if r.value]
    if not paths:
        return None
    return spark.read.schema(schema).parquet(*paths)


def topic_stream(
    spark: SparkSession,
    out_dir: str,
    schema: str,
    parallelism: int | None = None,
) -> DataFrame:
    """Streaming reader for a manifest-committed topic, for stages that
    feed a stateful streaming operator (the DWS join, split-arrival
    ADS) and so need a streaming DataFrame of rows rather than a
    per-batch read (`topic_batch`): a text file stream over the
    manifest files (each atomically published, so a batch is never
    half-visible), expanded to typed data rows by reading the listed
    parquet files inside an Arrow-batched kernel on the executors.
    Only manifest LINES shuffle — `parallelism` (default: the
    session's shuffle-partition setting) spreads the file reads across
    tasks, because a manifest is a tiny text file that would otherwise
    land in a single input split however large the data behind it.
    Globs work.

    Timestamp columns are tz-localized to UTC inside the kernel:
    Spark-written parquet holds UTC instants (INT96/micros), and a
    naive datetime yielded back through Arrow would be re-interpreted
    in the session timezone.

    This is the sandbox bus: on a cluster the topic is Kafka
    (streaming/sinks.kafka_sink) or a transactional table format —
    whose commit protocol is exactly this manifest shape (Delta/
    Iceberg snapshot = an atomically published file list)."""
    paths = spark.readStream.text(out_dir).repartition(
        parallelism or int(spark.conf.get("spark.sql.shuffle.partitions"))
    )

    def expand(pdfs):
        import pyarrow.parquet as pq

        for pdf in pdfs:
            for p in pdf["value"].tolist():
                if not p:
                    continue
                out = pq.read_table(p).to_pandas()
                for c in out.columns:
                    if (
                        out[c].dtype.kind == "M"
                        and getattr(out[c].dtype, "tz", None) is None
                    ):
                        out[c] = out[c].dt.tz_localize("UTC")
                yield out

    return paths.mapInPandas(expand, schema=schema)


def _parse_payload(df: DataFrame, casts: dict[str, str]) -> DataFrame:
    """P1/P2 permissive payload parse: JSON → map<string,string>, then
    explicit casts (absent keys → null, the reference's fastjson
    leniency)."""
    m = F.from_json(F.col("value"), "map<string,string>")
    return df.select(
        *[m.getItem(k).cast(t).alias(k) for k, t in casts.items()],
        F.col("ts"),
    )


class FiveLayerTopology:
    """The five concurrently-running stages, directory-chained.

    Lifecycle: `start()` → feed CDC JSON into `in_dir` → `drain()`
    (topological processAllAvailable — deterministic test barrier; a
    production deployment just lets the triggers run) → `ads_result()`.
    Any stage can be stopped and restarted mid-run via
    `stop_stage`/`start_stage`; its checkpoint resumes it and the
    idempotent topic commits make replays no-ops.
    """

    STAGES = ("ods", "dim", "dwd", "dws", "ads", "dau")

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        trigger_seconds: float = TRIGGER_SECONDS,
        split_arrival: bool = False,
    ) -> None:
        self.spark = spark
        self.root = root
        self.trigger = trigger_seconds
        self.split_arrival = split_arrival
        self.in_dir = os.path.join(root, "in")
        self.in_start_dir = os.path.join(root, "in_start")  # start-log topic
        self.ods_dirs = {
            t: os.path.join(root, "ods", f"ods_{t}")
            for t in ("order_info", "order_detail", "sku_info")
        }
        self.dwd_info_dir = os.path.join(root, "dwd_order_info")
        self.dwd_detail_dir = os.path.join(root, "dwd_order_detail")
        self.dws_dir = os.path.join(root, "dws_order_wide")
        self.dim_store = os.path.join(root, "dim_sku")
        self.ads_dir = os.path.join(root, "ads_partials")
        self.ads_base_dir = self.ads_dir + "_base"
        self.ads_keys_dir = os.path.join(root, "ads_seen_keys")
        self.dau_dir = os.path.join(root, "dau_members")
        self.dau_base_dir = self.dau_dir + "_base"
        for d in (
            [self.in_dir, self.in_start_dir, self.dwd_info_dir,
             self.dwd_detail_dir, self.dws_dir, self.dim_store,
             self.ads_dir, self.ads_keys_dir, self.dau_dir]
            + list(self.ods_dirs.values())
        ):
            os.makedirs(d, exist_ok=True)
        self._queries: dict = {}
        self._conf_cm = None

    # ---- stage definitions -------------------------------------------

    def _start_ods(self):
        """ODS router: CDC envelope in, per-table topic fan-out (P9/P10;
        KafkaToODS_M.scala:45-71). One commit per batch: the routed
        rows of the three topics go out in ONE write partitioned by
        topic, then the three manifests are published back to back (T8
        — the reference sends every record to its topic in one pass)."""
        topics = {f"ods_{t}": d for t, d in self.ods_dirs.items()}
        commit = topic_append_writer(topics)

        def process(batch_df: DataFrame, batch_id: int) -> None:
            routed = route_cdc(batch_df).filter(F.col("topic").isin(*topics))
            commit(
                routed.select(
                    "topic", "table", "type",
                    F.to_json(F.col("data")).alias("value"), "ts",
                ),
                batch_id,
            )

        return self._foreach_batch_query(
            "ods", cdc_json_stream(self.spark, self.in_dir), process
        )

    def _start_dim(self):
        """DIM upsert (K2; dim/SkuInfoApp.scala): sku CDC → versioned
        SCD-1 store, latest envelope ts wins per key."""
        src = self.spark.readStream.text(self.ods_dirs["sku_info"])

        def process(batch_df: DataFrame, batch_id: int) -> None:
            rows = topic_batch(self.spark, batch_df, ODS_RECORD_SCHEMA)
            if rows is None:
                return
            parsed = _parse_payload(
                rows,
                {"p_partkey": "long", "p_brand": "string", "p_name": "string"},
            )
            versioned_dim_upsert(
                self.spark, parsed, self.dim_store,
                key_cols=["p_partkey"], version_col="ts", commit_id=batch_id,
            )

        return self._foreach_batch_query("dim", src, process)

    def _start_dwd(self):
        """DWD typed enrich (P1-P4; dwd/Ods_to_DWD_order_info.scala +
        dwd/OrderDetailApp.scala as one fan-out): parse both fact
        topics, stamp the shared CDC create-time as the event-time
        column, emit typed header/detail topics — both written before
        either manifest is published."""
        src = self.spark.readStream.text(
            os.path.join(self.root, "ods", "ods_order_{info,detail}")
        )
        commit = topic_append_writer(
            {"info": self.dwd_info_dir, "detail": self.dwd_detail_dir}
        )

        def process(batch_df: DataFrame, batch_id: int) -> None:
            rows = topic_batch(self.spark, batch_df, ODS_RECORD_SCHEMA)
            if rows is None:
                return
            info_casts = {
                "o_orderkey": "long",
                "o_custkey": "long",
                "o_totalprice": "double",
            }
            split_cols = []
            if self.split_arrival:
                # original_total_amount analog: order_info carries the
                # detail-weight total + count at creation
                info_casts |= {
                    "o_weight_total": "double",
                    "o_detail_count": "int",
                }
                split_cols = ["o_weight_total", "o_detail_count"]
            info = _parse_payload(
                rows.filter(F.col("table") == "order_info"), info_casts
            ).select(
                "o_orderkey", "o_custkey", "o_totalprice",
                F.date_format(F.timestamp_millis(F.col("ts")), "yyyy-MM-dd")
                 .alias("order_dt"),
                F.timestamp_millis(F.col("ts")).alias("o_commit_ts"),
                *split_cols,
            )
            detail = _parse_payload(
                rows.filter(F.col("table") == "order_detail"),
                {
                    "l_orderkey": "long",
                    "l_linenumber": "int",
                    "l_partkey": "long",
                    "l_suppkey": "long",
                    "l_quantity": "double",
                    "l_extendedprice": "double",
                },
            ).select(
                "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
                "l_quantity", "l_extendedprice",
                F.timestamp_millis(F.col("ts")).alias("l_commit_ts"),
            )
            commit({"info": info, "detail": detail}, batch_id)

        return self._foreach_batch_query("dwd", src, process)

    def _start_dws(self):
        """DWS order-wide: watermarked stream-stream time-range join
        (J1; OrderWiderApp.scala:117-199), state bounded to the 50 s
        tolerance, every header×detail pair emitted exactly once."""
        from realtime0523_spark.streaming.order_wide import streaming_order_wide

        info_schema = (
            DWD_ORDER_INFO_SCHEMA_SPLIT
            if self.split_arrival
            else DWD_ORDER_INFO_SCHEMA
        )
        o = topic_stream(self.spark, self.dwd_info_dir, info_schema)
        d = topic_stream(
            self.spark, self.dwd_detail_dir, DWD_ORDER_DETAIL_SCHEMA
        )
        extra = (
            ["o_weight_total", "o_detail_count"]
            if self.split_arrival
            else []
        )
        # l_commit_ts rides on the DWS topic in BOTH modes: split mode
        # feeds it to the running-sum allocation's watermark, per-batch
        # mode to the co-arrival guard's event-time horizon
        wide = streaming_order_wide(
            o, d,
            order_ts="o_commit_ts",
            detail_ts="l_commit_ts",
            tolerance=JOIN_TOLERANCE,
        ).select(
            "o_orderkey", "o_custkey", "o_totalprice", "order_dt",
            "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
            "l_quantity", "l_extendedprice", "l_commit_ts", *extra,
        )
        writer = topic_append_writer(self.dws_dir)
        return self._foreach_batch_query("dws", wide, writer)

    def _require_dim(self) -> DataFrame:
        dim = latest_dim_version(self.spark, self.dim_store)
        if dim is None:
            raise RuntimeError(
                "ADS batch arrived before any committed dim snapshot — "
                "the topology contract (reference parity) is dims "
                "bootstrapped before facts flow; refusing to commit "
                "brand-less partials silently."
            )
        return dim

    # ---- partials compaction: the fold each family's reader applies
    # is distributive (a sum per brand; a set union of member cells),
    # so base ∪ fresh re-folded equals folding all history ------------

    @staticmethod
    def _dau_fold(df: DataFrame) -> DataFrame:
        return df.select("dt", "mid").distinct()

    def _maybe_compact(self, partial_dir: str, base_dir: str, fold) -> None:
        # ADS/DAU partials fold into a base snapshot every COMPACT_EVERY
        # batches (shared protocol, streaming/compaction.py) — an
        # always-on topology would otherwise re-read every committed
        # partial per report, O(batches²) I/O over an unbounded run.
        # gc_grace: ads_result()/dau_result() may run CONCURRENTLY with
        # a live stage's compaction — one superseded generation is kept
        # so an in-flight reader's resolved snapshot stays scannable
        # (see compaction.compact_to_base)
        maybe_compact(self.spark, partial_dir, base_dir, fold, gc_grace=True)

    def _start_ads(self):
        """ADS brand revenue (F1+J5+K5; ads/TradeMarkAmountApp.scala):
        brand enrich against the CURRENT committed dim snapshot (the
        reference's per-batch dim read), partial sums committed
        idempotently. Two allocation modes (module docstring):

        - default: the registered query's per-batch step
          (ads.guarded_brand_partial) — exact-sum allocation REQUIRING
          the co-arrival contract, enforced at runtime: each batch's
          order-key set is committed (synopsis-sized, idempotent) and
          a key reappearing in a later batch RAISES, because the
          per-batch allocation would absorb the full o_totalprice in
          EACH fragment (silent double-count);
        - split_arrival: the reference's cross-batch running-sum
          state (streaming/allocation.py, bucketed keyed state) allocates
          each detail as it arrives — split feeds are CORRECT, no
          co-arrival needed — and only the brand sum
          (ads.brand_partial) follows."""
        commit = idempotent_batch_writer(self.ads_dir)

        def commit_partial(partial: DataFrame, batch_id: int) -> None:
            commit(partial, batch_id)
            self._maybe_compact(self.ads_dir, self.ads_base_dir, fold_brand_partials)

        if self.split_arrival:
            from realtime0523_spark.streaming.allocation import (
                streaming_allocation_split,
            )

            src = topic_stream(
                self.spark, self.dws_dir, DWS_WIDE_SCHEMA_SPLIT
            )
            # the state is keyed by bucket: a restart under another
            # bucket count raises BucketStateMismatch instead of
            # re-keying in-flight orders
            alloc_stream = streaming_allocation_split(
                src, DETAIL_ORDER, ts_col="l_commit_ts"
            )

            def process_split(batch_df: DataFrame, batch_id: int) -> None:
                # one evaluation of the stateful allocation per batch,
                # shared by the emptiness check and the commit
                batch_df.persist()
                try:
                    if batch_df.isEmpty():
                        return
                    commit_partial(
                        brand_partial(batch_df, self._require_dim()), batch_id
                    )
                finally:
                    batch_df.unpersist()

            return self._foreach_batch_query(
                "ads", alloc_stream, process_split, output_mode="update"
            )

        src = self.spark.readStream.text(self.dws_dir)
        from realtime0523_spark.streaming.allocation import co_arrival_guard

        guard = co_arrival_guard(
            self.spark,
            self.ads_keys_dir,
            checkpoint_dir=os.path.join(self.root, "ckpt", "ads"),
        )

        def process(batch_df: DataFrame, batch_id: int) -> None:
            rows = topic_batch(self.spark, batch_df, DWS_WIDE_SCHEMA)
            if rows is None:
                return
            commit_partial(
                guarded_brand_partial(rows, batch_id, guard, self._require_dim()),
                batch_id,
            )

        return self._foreach_batch_query("ads", src, process)

    def _start_dau(self):
        """Sixth concurrent stage — the reference's Dau app at its
        faster cadence (scala/…/app/Dau.scala:42 Seconds(3);
        :104-123 Redis SADD + 24 h TTL): the registered query's
        (dt, mid) first sighting (dau.dau_members) over the start-log
        feed, each batch's NEW members committed idempotently. The
        final count is a groupBy over committed members — associative,
        so batch boundaries, replays, and the mid-run restart cannot
        change it."""
        events = (
            self.spark.readStream.schema(START_LOG_SCHEMA)
            .json(self.in_start_dir)
            .select(
                F.col("mid"), F.timestamp_millis(F.col("ts")).alias("event_ts")
            )
        )
        src = dau_members(events, "event_ts", "mid").select("dt", "mid")
        commit = idempotent_batch_writer(self.dau_dir)

        def process(batch_df: DataFrame, batch_id: int) -> None:
            if batch_df.isEmpty():
                return
            commit(batch_df, batch_id)
            self._maybe_compact(self.dau_dir, self.dau_base_dir, self._dau_fold)

        return self._foreach_batch_query(
            "dau", src, process, trigger_ratio=DAU_TRIGGER_RATIO
        )

    # ---- lifecycle ----------------------------------------------------

    def _foreach_batch_query(
        self,
        name: str,
        stream: DataFrame,
        fn,
        trigger_ratio: float = 1.0,
        output_mode: str = "append",
    ):
        """Stages declare their own output mode (a stateful stage whose
        emissions are per-arrival passes 'update') — the helper never
        infers it from the stage name."""
        ckpt = os.path.join(self.root, "ckpt", name)
        return (
            stream.writeStream.foreachBatch(fn)
            .queryName(f"topology_{name}")
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime=f"{self.trigger * trigger_ratio} seconds")
            .start()
        )

    def start(self) -> "FiveLayerTopology":
        """Apply the streaming session confs (shuffle sizing, state
        provider selection — same knobs as runner._stream_shuffle) and
        start all five stages concurrently."""
        self._conf_cm = _stream_shuffle(self.spark, no_data_batches=True)
        self._conf_cm.__enter__()
        for name in self.STAGES:
            self.start_stage(name)
        return self

    def start_stage(self, name: str) -> None:
        if name in self._queries:
            raise ValueError(f"stage {name} already running")
        self._queries[name] = getattr(self, f"_start_{name}")()

    def stop_stage(self, name: str) -> None:
        q = self._queries.pop(name)
        try:
            # completeness is a loud contract (same discipline as
            # runner.run_to_memory's forbid_watermark_drops): the F1
            # allocation downstream assumes every header×detail pair
            # joined, so a DWS watermark drop must never pass silently.
            if name == "dws":
                dropped = watermark_drops(q)
                if dropped:
                    raise RuntimeError(
                        f"DWS join dropped {dropped} row(s) at the "
                        f"watermark — the topology's co-timed CDC feed "
                        f"contract (monotone envelope ts, shared "
                        f"header/detail create-time) was violated; the "
                        f"ADS totals would be silently short."
                    )
        finally:
            q.stop()

    def drain(self) -> None:
        """Deterministic barrier: processAllAvailable per stage in
        topological order (each stage's commits are visible files
        before the next stage's drain is asked). Stopped stages are
        skipped — their data waits in the upstream topic dirs."""
        for name in self.STAGES:
            q = self._queries.get(name)
            if q is not None:
                q.processAllAvailable()

    def stop(self) -> None:
        """Stop every stage and restore the session confs. A stage's
        contract failure (e.g. the DWS watermark-drop check) is
        re-raised AFTER all queries are stopped and the conf context
        is exited — a raised check must never leak a running query or
        leave the session's shuffle/state-store overrides behind."""
        first_err: Exception | None = None
        for name in list(self._queries):
            try:
                self.stop_stage(name)
            except Exception as e:  # noqa: BLE001 — collected, re-raised below
                if first_err is None:
                    first_err = e
        if self._conf_cm is not None:
            self._conf_cm.__exit__(None, None, None)
            self._conf_cm = None
        if first_err is not None:
            raise first_err

    # ---- results ------------------------------------------------------

    def ads_result(self) -> DataFrame:
        """Final brand totals: re-aggregation of the committed partials
        (associative — batch boundaries can't change it). Reads base ∪
        fresh via the compaction protocol, so the per-report cost is
        bounded by 1 + COMPACT_EVERY files whatever the horizon."""
        partials = committed_relation(self.spark, self.ads_dir, self.ads_base_dir)
        if partials is None:
            return self.spark.createDataFrame([], "p_brand string, amount double")
        return partials.groupBy("p_brand").agg(
            round2(F.sum("partial_amount")).alias("amount")
        )

    def dau_result(self) -> DataFrame:
        """Per-day distinct device counts from the committed member
        rows (each (dt, mid) committed at most once by the streaming
        dedup + idempotent batch writer; the distinct fold makes the
        compacted read idempotent to that same contract)."""
        members = committed_relation(self.spark, self.dau_dir, self.dau_base_dir)
        if members is None:
            return self.spark.createDataFrame([], "dt string, dau long")
        return self._dau_fold(members).groupBy("dt").agg(
            F.count(F.lit(1)).alias("dau")
        )
