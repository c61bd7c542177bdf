"""Streaming incremental IVF index maintenance — the ANN family wired
into the ingest pipeline.

The reference has no ANN surface; this is an LLM-data-pipeline
operator. Public pattern: FAISS-style IVF serving under continuous
ingest — new vectors are assigned+stored per micro-batch against the
current coarse quantizer; the quantizer itself is refreshed from
aggregates that are cheap to maintain; a periodic compaction rewrites
assignments under the final quantizer (what every production vector
store calls "reindex"/"merge").

Why this streams EXACTLY (not approximately): the engine's
SQL-replayable IVF variant seeds cells from label centroids =
normalized per-(label, dim) SUMS (llm/similarity.label_centroids), and
a sum is a distributive aggregate — so each micro-batch commits its
|labels|×dims partial-sum rows idempotently (K5), and the folded
partials equal the batch centroids bit-for-bit-up-to-float-association
(both paths quantize dots to 9 dp before ranking, which absorbs
association order; the same argument the additive-cell stat twins
rely on). Nothing here samples or decays.

Per micro-batch (foreachBatch):
  1. append the batch's vectors to the at-rest vector log
     (idempotent-by-batchId commit);
  2. commit the batch's (label, dim, sum, count) quantizer partials —
     bounded at |labels|×dims rows whatever the batch size; ONE
     partial family maintains BOTH quantizers, the IVF centroids
     (normalized sums) and the PQ codebooks (means = sum/count);
  3. LIVE assign + ENCODE: fold committed partials into the current
     quantizer pair (a |labels|×dims collect — legal at any corpus
     size) and commit the batch's (vec_id, cell, pq_code) rows.
     Earlier batches keep the cells/codes they were assigned under
     earlier quantizer states — the live index is eventually
     consistent, exactly like a production ANN index between reindex
     runs.

`compact()` / `compact_ivfpq()` is the reindex: fold the FINAL
partials (== batch label_centroids / pq_codebooks on everything
ingested) and reassign+re-encode the whole log in one map-only pass.
The drained-compacted index answers queries IDENTICALLY to an index
built by the batch path on the same corpus — the drained-equals-batch
contract the inventory entries (`stream_ann_index_append` against the
emb_ann_ivf oracle, `stream_ann_ivfpq_append` against the
emb_ann_ivfpq oracle) verify.

At 100 TB: the vector log append shuffles nothing; centroid partials
are synopsis-sized; the live-assign pass is map-only with the centroid
matrix in the UDF closure (a broadcast); compaction is one map-only
rewrite of the log — embarrassingly parallel, schedulable off-peak.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realtime0523_spark.llm.similarity import (
    PQ_SUBSPACES,
    assign_ivf_cells,
    assign_ivfpq_index,
    centroids_from_sums,
    ivf_query_cells,
    ivfpq_query_index,
)
from realtime0523_spark.streaming.runner import run_foreach_batch
from realtime0523_spark.streaming.sinks import idempotent_batch_writer


class StreamedIVFIndex:
    """Handle over the committed state of a drained index-append run."""

    def __init__(
        self,
        spark: SparkSession,
        vec_dir: str,
        cent_dir: str,
        live_dir: str,
        id_col: str,
        vec_col: str,
        base_dir: str | None = None,
    ) -> None:
        self.spark = spark
        self.vec_dir = vec_dir
        self.cent_dir = cent_dir
        self.live_dir = live_dir
        self.id_col = id_col
        self.vec_col = vec_col
        self.base_dir = base_dir or (
            os.path.join(os.path.dirname(cent_dir.rstrip("/")), "cent_base")
        )

    # ---- quantizer-partials state (base snapshot + fresh partials;
    # the protocol itself lives in streaming/compaction.py and is
    # shared with the co-arrival guard's key log) ----

    def _cent_frames(self) -> DataFrame:
        """The committed quantizer-partials relation: the newest base
        snapshot (all history up to its watermark, pre-folded) plus
        only the partial files committed AFTER it. This is what keeps
        the per-refresh fold cost FLAT over an unbounded stream —
        without the base, every fold re-reads every batch's partial
        file (O(batches²) reads across the run)."""
        from realtime0523_spark.streaming.compaction import committed_relation

        out = committed_relation(self.spark, self.cent_dir, self.base_dir)
        if out is None:
            raise ValueError("no committed quantizer partials")
        return out

    def compact_partials(self) -> int:
        """Fold every committed partial (plus the previous base) into
        ONE base snapshot — valid for any prefix of batches because
        the (sum, count) cells are distributive — and garbage-collect
        everything at or below the new watermark (including partials a
        post-compaction replay re-created). Idempotent by marker with
        crash-heal; see streaming/compaction.py for the shared
        protocol. Returns the number of fresh partials consumed."""
        from realtime0523_spark.streaming.compaction import compact_to_base

        return compact_to_base(
            self.spark,
            self.cent_dir,
            self.base_dir,
            lambda df: df.groupBy("label", "d").agg(
                F.sum("s").alias("s"), F.sum("n").alias("n")
            ),
        )

    def quantizer_pair(self) -> tuple[np.ndarray, np.ndarray]:
        """BOTH quantizers from ONE scan + collect of the committed
        partials (base snapshot + fresh partials — see _cent_frames):
        IVF centroids = normalized per-(label, dim) sums
        (== batch label_centroids — distributive sum), PQ codebooks =
        per-(label, dim) means = sum/count (== batch pq_codebooks).
        A single aggregation serves both so the per-refresh fold cost
        is one read, not two."""
        rows = (
            self._cent_frames()
            .groupBy("label", "d")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            .collect()
        )
        cent = centroids_from_sums([(r[0], r[1], r[2]) for r in rows])
        labels = sorted({r[0] for r in rows})
        dims = max(r[1] for r in rows) + 1
        cb = np.zeros((len(labels), dims))
        pos = {lb: i for i, lb in enumerate(labels)}
        for r in rows:
            cb[pos[r[0]], r[1]] = r[2] / r[3]
        return cent, cb

    def assert_unique_ids(self) -> None:
        """Loud check of the unique-id append contract (see
        streaming_ivf_index_append): a replayed upstream producer that
        re-ingests a vec_id duplicates log rows and skews the
        quantizer sums. Cost: one ids-only aggregation (the vectors
        themselves never shuffle)."""
        dup = (
            self.spark.read.parquet(self.vec_dir)
            .groupBy(self.id_col)
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1)
            .limit(5)
            .collect()
        )
        if dup:
            raise ValueError(
                f"duplicate vec_ids in the vector log: "
                f"{[r[0] for r in dup]} — the append contract is each id "
                f"exactly once; dedupe upstream or rebuild the index from "
                f"a deduplicated log"
            )

    def centroids(self) -> np.ndarray:
        return self.quantizer_pair()[0]

    def vectors(self) -> DataFrame:
        return self.spark.read.parquet(self.vec_dir).drop("batch_id")

    def live_index(self) -> DataFrame:
        """(vec_id, cell, code) as committed per batch — cell and PQ
        code reflect the quantizer state at each vector's ingest batch
        (eventually consistent until compact())."""
        return self.spark.read.parquet(self.live_dir).drop("batch_id")

    def compact(self) -> tuple[np.ndarray, DataFrame]:
        """The reindex: final centroids + a map-only reassignment of
        the whole log. Returns (centroids, cells_df) ready for
        ivf_query_cells."""
        cent = self.centroids()
        return cent, assign_ivf_cells(
            self.vectors(), cent, id_col=self.id_col, vec_col=self.vec_col
        )

    def compact_ivfpq(
        self, m: int = PQ_SUBSPACES
    ) -> tuple[np.ndarray, np.ndarray, DataFrame]:
        """IVFADC reindex: final (centroids, codebooks) from the folded
        partials + ONE map-only pass rewriting (cell, code) for the
        whole log. Ready for ivfpq_query_index."""
        cent, cb = self.quantizer_pair()
        return cent, cb, assign_ivfpq_index(
            self.vectors(), cent, cb, m=m,
            id_col=self.id_col, vec_col=self.vec_col,
        )

    def query(
        self,
        queries: DataFrame,
        nprobe: int = 4,
        k: int = 5,
        query_id_col: str = "qid",
        query_vec_col: str = "qv",
    ) -> DataFrame:
        """Serve top-k from the compacted index — the exact batch
        query path (llm/similarity.ivf_query_cells) over streamed
        state."""
        cent, cells = self.compact()
        return ivf_query_cells(
            cells,
            queries,
            cent,
            nprobe=nprobe,
            k=k,
            id_col=self.id_col,
            vec_col=self.vec_col,
            query_id_col=query_id_col,
            query_vec_col=query_vec_col,
        )

    def query_adc(
        self,
        queries: DataFrame,
        nprobe: int = 4,
        m: int = PQ_SUBSPACES,
        retrieve: int = 20,
        k: int = 5,
        query_id_col: str = "qid",
        query_vec_col: str = "qv",
    ) -> DataFrame:
        """Serve IVFADC top-k (probe → compressed-code ADC → exact
        re-rank) from the compacted streamed index — the exact batch
        query path (llm/similarity.ivfpq_query_index) over streamed
        state."""
        cent, cb, indexed = self.compact_ivfpq(m=m)
        return ivfpq_query_index(
            indexed,
            self.vectors(),
            queries,
            cent,
            cb,
            nprobe=nprobe,
            m=m,
            retrieve=retrieve,
            k=k,
            id_col=self.id_col,
            vec_col=self.vec_col,
            query_id_col=query_id_col,
            query_vec_col=query_vec_col,
        )


def streaming_ivf_index_append(
    spark: SparkSession,
    vec_stream: DataFrame,
    work_dir: str,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
    checkpoint_dir: str | None = None,
    refresh_every: int = 1,
) -> StreamedIVFIndex:
    """Drain an append stream of (id, label, vector) rows through
    incremental IVF maintenance; return the committed-state handle.

    Restart/replay-safe by construction: all three commits are
    idempotent by batchId, and the centroid fold is over committed
    partials only — a replayed batch can neither double-count a
    vector nor double-add its centroid contribution (same contract as
    streaming/retraction.py, property-tested there).

    UNIQUE-ID APPEND CONTRACT (explicit, load-bearing): each vec_id
    must arrive EXACTLY ONCE across the stream's
    lifetime. The engine's checkpoint guarantees a replayed micro-
    batch is a no-op, but an upstream producer that re-emits an id in
    a NEW batch would duplicate log rows, double-count its quantizer
    partials, and make query()/query_adc() return duplicate
    candidates. `assert_unique_ids()` verifies the contract with one
    ids-only aggregation (schedulable on the reindex cadence); feeds
    that cannot promise uniqueness must dedupe upstream (e.g. the
    engine's streaming novelty gate) — silently keeping latest would
    leave the earlier arrival's partial sums in the quantizer, so
    there is deliberately no quiet repair path.

    `refresh_every`: re-fold the quantizer from committed partials
    every Nth non-empty batch (the periodic-refresh every production
    vector store runs), reusing the driver-cached matrix in between.
    Each refresh first runs `compact_partials()` — folding all
    committed partial files into one base snapshot (legal at any
    prefix: the (sum, count) cells are distributive) — so a refresh
    reads ONE base + at most `refresh_every` fresh partials and the
    per-refresh fold cost stays FLAT over an unbounded stream
    (without compaction it is O(batches²) file reads across the run;
    the long-horizon test pins the bound). Correctness is unaffected
    either way: live assignments are eventually consistent BY DESIGN
    (quantizer-as-of-batch), and compact() always folds everything
    exactly."""
    vec_dir = os.path.join(work_dir, "vectors")
    cent_dir = os.path.join(work_dir, "cent_partials")
    live_dir = os.path.join(work_dir, "live_cells")
    if refresh_every < 1:
        raise ValueError(f"refresh_every must be >= 1, got {refresh_every}")
    commit_vec = idempotent_batch_writer(vec_dir)
    commit_cent = idempotent_batch_writer(cent_dir)
    commit_live = idempotent_batch_writer(live_dir)
    handle = StreamedIVFIndex(spark, vec_dir, cent_dir, live_dir, id_col, vec_col)
    quantizer: dict = {"cent": None, "cb": None, "batches_since": 0}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch_df = batch_df.select(id_col, label_col, vec_col).persist()
        try:
            commit_vec(batch_df, batch_id)
            # (label, dim) -> (sum, count): ONE partial family serves
            # both quantizers — IVF centroids (normalized sums) and PQ
            # codebooks (means) — since sum and count are distributive
            partial = (
                batch_df.select(
                    F.col(label_col).alias("label"),
                    F.posexplode(F.col(vec_col)).alias("d", "v"),
                )
                .groupBy("label", "d")
                .agg(
                    F.sum(F.col("v").cast("double")).alias("s"),
                    F.count(F.lit(1)).cast("long").alias("n"),
                )
            )
            commit_cent(partial, batch_id)
            # live assignment + PQ encode under the current quantizer
            # pair: refreshed from committed partials (which now
            # include this batch's) every `refresh_every`-th non-empty
            # batch, cached between
            if (
                quantizer["cent"] is None
                or quantizer["batches_since"] + 1 >= refresh_every
            ):
                # compact first: the refresh then reads one base + the
                # fresh partials instead of every file ever committed
                handle.compact_partials()
                quantizer["cent"], quantizer["cb"] = handle.quantizer_pair()
                quantizer["batches_since"] = 0
            else:
                quantizer["batches_since"] += 1
            commit_live(
                assign_ivfpq_index(
                    batch_df,
                    quantizer["cent"],
                    quantizer["cb"],
                    id_col=id_col,
                    vec_col=vec_col,
                ).select(
                    id_col,
                    F.col("__cell").alias("cell"),
                    F.col("__code").alias("code"),
                ),
                batch_id,
            )
        finally:
            batch_df.unpersist()

    run_foreach_batch(
        vec_stream,
        process,
        checkpoint_dir=checkpoint_dir,
        output_mode="append",
        no_data_batches=False,
    )
    if not os.path.exists(vec_dir):
        raise ValueError("no batches arrived — empty vector stream")
    return handle
