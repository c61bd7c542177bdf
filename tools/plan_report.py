"""Generate PLANS.md: a physical-plan audit of the most expensive
inventory queries — the shapes that matter at 100 TB, extracted from
`.explain("formatted")` and summarized (join strategies, exchanges,
aggregate pairs, scans with pushed filters).

Usage: python tools/plan_report.py [sf_dir]
Streaming queries are skipped (building their frame executes the
stream; their shapes are asserted in tests/test_streaming.py).
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# queries whose plans carry the scale story, with the one-line argument
AUDITED: dict[str, str] = {
    "docs_corpus_prep": (
        "every filter stage is a per-doc map or a partial-agg'd groupBy; "
        "the dedup drop set broadcasts (duplicate-density-sized); the "
        "corpus is never shuffled whole"
    ),
    "docs_dedup_clusters": (
        "component labels come from the gated driver union-find when "
        "the measured pair-graph edge count is small (round-13; the "
        "audit-scale plan reads the collected label relation); above "
        "the gate, label propagation = per-round equi-join + "
        "partial-agg min, round count bounded by component diameter"
    ),
    "docs_minhash_lsh": (
        "signatures are a map-only Arrow kernel; candidates come from a "
        "(band, hash) equi-join — cost tracks duplicate density, never n²"
    ),
    "docs_contamination": (
        "eval shingle set broadcasts; corpus makes one scan into a "
        "partial-agg'd per-doc groupBy"
    ),
    "docs_repetition": (
        "gram counts partial-agg before the exchange: shuffle rows are "
        "distinct (doc, gram), not raw gram occurrences"
    ),
    "brand_amount": (
        "allocation window + broadcast brand dim + one partial-agg'd "
        "groupBy on brand — the marquee query's only wide exchange is "
        "the per-order window"
    ),
    "dim_enrich": "three dim joins, all BroadcastHashJoin — no SortMergeJoin",
    "hot_parts_topk": (
        "partial agg then TakeOrdered — no global sort of the aggregate"
    ),
    "emb_cosine_topk": (
        "query set broadcast, corpus scanned once through an Arrow "
        "matmul kernel with per-batch top-k prune — no shuffle of vectors"
    ),
    "emb_label_centroids": (
        "posexplode to (label, dim) then partial-agg mean: the exchange "
        "carries |labels| x dims rows per partition, not vectors"
    ),
    "media_frames": (
        "map-only mapInPandas fan-out — payloads never shuffle"
    ),
    "scd2_history": (
        "one lead() window: a single hash exchange on the dimension key"
    ),
    "emb_ann_lsh": (
        "all 32 hyperplane projections in one Arrow matmul; candidates "
        "come from a broadcast equi-join on (table, bucket) — the "
        "corpus never self-joins"
    ),
    "emb_ann_ivf": (
        "centroids aggregate to |labels| x dims scalars then ride the "
        "UDF closure (a broadcast); assignment is map-only; candidates "
        "come from a broadcast equi-join on the probed cell"
    ),
    "docs_token_budget_sample": (
        "one running-sum window per domain partition — a single hash "
        "exchange on the domain key, no global sort"
    ),
    "docs_quality_filter": (
        "score is a per-row map; the median is one exact-percentile "
        "window on the domain key (100 TB swap: approx_percentile "
        "aggregate + broadcast)"
    ),
    "emb_ann_pq": (
        "codebooks aggregate to |labels| x dims scalars and ride the "
        "UDF closures; the ADC scan is map-only over the coded corpus "
        "with exact batch-local pruning; the re-rank fetches the "
        "shortlist via broadcast joins — the corpus never shuffles"
    ),
    "event_incident_join": (
        "keyless range join executed as the binned rewrite: one "
        "equi-join on the time bin with residual range filter — no "
        "BroadcastNestedLoopJoin/Cartesian, fan-out bounded by bin "
        "width x interval density"
    ),
    "top_tokens_cms": (
        "sketch cells partial-agg to a fixed depth x width grid before "
        "the exchange; the probe is a broadcast join + per-key min — "
        "state is grid-sized regardless of vocabulary"
    ),
    "docs_span_dedup": (
        "one token-sized shuffle groups gram hashes; removed POSITIONS "
        "(a small fraction) come back as one compact set per doc; the "
        "excision is a per-row array filter — the token stream never "
        "shuffles twice"
    ),
    "salted_priority_revenue": (
        "the fact side salts into 16 sub-keys (map-side column), the "
        "other side replicates x16 — a hot key spreads over 16 tasks; "
        "no extra shuffle beyond the join's own"
    ),
    "emb_semantic_dedup": (
        "pairs from the label-blocked equi-join (Σ block², never n²); "
        "components by per-round join + partial-agg min with released "
        "checkpoints; verdict is one left join back onto the corpus"
    ),
    "docs_chunk_embed": (
        "chunking is a per-row explode+slice map; hashing is explode + "
        "partial-agg'd groupBy; the normalize window partitions by "
        "chunk — no corpus-wide state, no dictionary broadcast"
    ),
    "docs_sparse_search": (
        "query postings broadcast onto the chunk postings via a bucket "
        "equi-join; per-bucket fan-out bounded by the query set; "
        "scoring is one partial-agg'd groupBy — corpus postings never "
        "self-join"
    ),
    "docs_training_order": (
        "per-domain rank = one hash exchange on the domain key; the "
        "global position window is the single-task sort a sharded "
        "writer replaces with a range partitioner at cluster scale "
        "(documented in the docstring)"
    ),
    "emb_pq_codes": (
        "codebooks aggregate to |labels| x dims scalars; encoding is "
        "one map-only Arrow pass — the 32x-compressed index emits "
        "without any shuffle of vectors"
    ),
    "emb_ann_pq_trained": (
        "training collects only the bounded md5-ordered sample "
        "(TakeOrdered); the trained codebooks ride the UDF closures; "
        "serving is the identical map-only ADC scan + broadcast "
        "re-rank as the label-seeded twin"
    ),
    "docs_span_stats": (
        "same one token-sized gram-hash shuffle as the excision; the "
        "span merge is a per-row fold over each doc's sorted removed "
        "set — the only added exchange is the |distinct-lengths| "
        "histogram groupBy"
    ),
    "docs_bm25_search": (
        "postings/lengths/df are each one partial-agg'd groupBy; "
        "N+avgdl are a 1-row scalar collect (a lazy 1-row crossJoin "
        "would plan BroadcastNestedLoopJoin); candidates come from "
        "the posting-list equi-join against the broadcast query-term "
        "set — the corpus never self-joins"
    ),
    "docs_bloom_contamination": (
        "the eval side collapses to a <= bits-row bit table that "
        "broadcasts regardless of eval-set size; the corpus makes one "
        "explode -> per-probe broadcast join -> two partial-agg'd "
        "groupBys — nothing eval-sized ships"
    ),
    "docs_dsir_weights": (
        "feature hashing is one token-sized explode into a "
        "fixed-bucket partial-agg'd groupBy per distribution; the "
        "lambda table is |buckets|-row and broadcasts onto the "
        "per-doc scoring join — corpus-sized data shuffles once"
    ),
    "docs_dsir_sample": (
        "the weights chain plus a per-doc Gumbel key; selection is "
        "orderBy+limit -> TakeOrderedAndProject, never a global sort"
    ),
    "docs_leakage_split": (
        "the near-dup components (gated driver union-find at audit "
        "scale, distributed propagation above it) are duplicate-"
        "density-sized and broadcast onto the corpus; the split "
        "itself is a per-row hash — the corpus is never shuffled"
    ),
    "emb_ann_ivfpq": (
        "two map-only index passes (cell assign, PQ encode), "
        "broadcast probe join restricts candidates to probed cells, "
        "ADC scores ride the coded rows, exact re-rank fetches via "
        "broadcast — the corpus never shuffles"
    ),
    "emb_hard_negatives": (
        "the exact one-pass scan with the label mask inside the "
        "batch-local prune: one Arrow stage, one k*nq-row shuffle "
        "for the final rank"
    ),
    "events_zorder": (
        "the morton code is a codegen'd shift/mask projection; the "
        "report is one partial-agg'd groupBy on the 2^prefix-bit "
        "bucket — no Python stage, one exchange"
    ),
    "docs_segment_dedup": (
        "the unit explode is |tokens|/W rows; one hash-partitioned "
        "first-occurrence window + one doc-keyed reassembly groupBy "
        "are the only shuffles; no UDFs anywhere"
    ),
    "docs_incremental_dedup": (
        "the incoming batch's band hashes equi-join the index bucket "
        "table (bucketed-by-bh at rest: index side shuffle-free); "
        "verification fetches only candidate signatures — corpus "
        "text is never rescanned"
    ),
    "emb_ann_sq": (
        "encode is a pure codegen'd transform (no Arrow stage); the "
        "recon scan is map-only with batch-local pruning; re-rank "
        "fetches the shortlist via broadcast — corpus never shuffles"
    ),
    "event_funnel": (
        "three chained user-keyed min-aggregates, every shuffle on "
        "the same user key (co-partitioned end-to-end); no window "
        "over the raw stream, no per-user sort"
    ),
    "user_cohort_retention": (
        "two user-keyed partial-agg'd groupBys + one |cohorts|-row "
        "size join; the retention matrix is meta-sized"
    ),
    "docs_curriculum_order": (
        "two composed global_positions passes: sampled range "
        "exchange + partition-local sort + offset join each — the "
        "plan contains no SinglePartition exchange anywhere"
    ),
    "warehouse_quality_report": (
        "each table contributes ONE aggregate scan for its row rules; "
        "uniqueness is one partial-agg'd groupBy; FK checks join "
        "against distinct parent keys (broadcast-sized reductions)"
    ),
    "emb_ann_lsh_mp": (
        "identical corpus index to emb_ann_lsh; only the broadcast "
        "query entries multiply by bits+1 — candidate generation "
        "stays one (table, bucket) equi-join"
    ),
    "docs_domain_drift": (
        "one token explode + partial-agg'd (domain, bucket) groupBy "
        "per snapshot; the KL runs on |domains| x buckets meta-sized "
        "rows built by a sequence explode — no cartesian"
    ),
    "emb_ann_rp": (
        "the sketch is one Arrow matmul map; shortlisting reuses the "
        "exact batch-local-prune scan over the 4x-narrower sketch; "
        "re-rank fetches via broadcast — corpus never shuffles"
    ),
    "docs_unigram_encode": (
        "Viterbi segmentation runs once per distinct word (Arrow pass "
        "over the |vocab| table with the cost map in the closure); the "
        "corpus makes one explode into a word equi-join + per-doc "
        "partial agg — the token stream is never re-segmented per row"
    ),
    "parts_triangle_stats": (
        "pairs generate map-side from one per-order collect_set "
        "(never a fact self-join — round-13); the degree-oriented "
        "wedge join bounds per-node fan-out by O(sqrt m); the derived "
        "graph (canonical edges, degrees, oriented table) is "
        "checkpoint-materialized once before the multi-branch "
        "fan-out, so the explain reads ExistingRDD with zero parquet "
        "rescans; top-N plans TakeOrderedAndProject"
    ),
    "parts_copurchase_rank": (
        "pairs generate map-side from one per-order collect_set "
        "(never a fact self-join — round-13); under the driver gate "
        "(audit scale) the integer fixed-point rounds run on the "
        "driver and the plan reads the collected rank relation; above "
        "the gate each power-iteration round is one ranks-onto-edges "
        "equi-join (node state broadcast) into ONE partial-agg'd "
        "destination groupBy that the state rows ride as carriers "
        "(no second join), checkpointed with eager release; top-N "
        "plans TakeOrderedAndProject"
    ),
    "cdc_retract_agg": (
        "one scan, a stateless signed-delta map, ONE map-side-"
        "combined exchange of |groups| partial rows — no per-key "
        "latest-version window, no join (the latest-row-wins "
        "formulation this replaces shuffles the whole changelog)"
    ),
    "cdc_retract_minmax": (
        "same single scan; each change event contributes <=2 "
        "(value, +-1) support entries, one (group,value) groupBy "
        "builds the live multiset, one more |live-values| aggregate "
        "finishes — both partial-agg'd"
    ),
    "events_value_drift": (
        "two partial-agg'd bucket-count shuffles (one per half-month "
        "profile); the smoothed-KL core runs on |types|*buckets "
        "meta-sized rows via a sequence-explode grid, never a "
        "cartesian"
    ),
    "media_audio_energy": (
        "map-only: scan -> Arrow PCM-framing kernel, zero exchanges "
        "— payloads never shuffle"
    ),
    "media_decode": (
        "map-only: scan -> Arrow PPM-build kernel -> Arrow decode+"
        "channel-sum kernel, zero exchanges — payloads never shuffle "
        "and output is 3 rows per image whatever the resolution"
    ),
    "media_resize_decode": (
        "map-only like media_decode with the NN-resize folded into "
        "the same Arrow kernel — the thumbnail never materializes "
        "outside the worker"
    ),
    "media_video_frames": (
        "map-only: Y4M decode + frame-stride sampling + plane sums in "
        "one Arrow kernel; 3*ceil(frames/stride) rows out per video, "
        "payloads never shuffle"
    ),
    "media_decode_png": (
        "map-only like media_decode but through the real compressed "
        "container: PNG encode fixture kernel -> zlib inflate + "
        "defilter + channel-sum kernel, zero exchanges — compression "
        "changes CPU per row, never the plan shape"
    ),
    "media_audio_decode": (
        "map-only: WAV-build kernel -> RIFF parse + PCM frame-energy "
        "kernel, zero exchanges — the container parse adds no shuffle "
        "over media_audio_energy"
    ),
    "media_decode_jpeg": (
        "one deliberate round-robin exchange of (long, short-string) "
        "rows BEFORE the codec stage (CPU-bound entropy coding wants "
        "core parallelism; the toy corpus is one parquet split), then "
        "map-only: JPEG-encode fixture kernel -> Huffman decode + "
        "vectorized einsum IDCT + channel sums; decoded payloads "
        "never shuffle — at 100 TB the scan is already thousands of "
        "splits and the exchange is insurance, not a data motion"
    ),
    "media_decode_jpeg_progressive": (
        "identical plan shape to media_decode_jpeg — one round-robin "
        "exchange of (long, short-string) rows before the codec stage, "
        "then map-only: progressive multi-scan encode fixture kernel -> "
        "scan-accumulation decode (DC/AC successive approximation, "
        "EOBn) + einsum IDCT + channel sums; the progressive "
        "organization changes the per-payload CPU walk, never the "
        "data motion — payloads never shuffle"
    ),
    "media_decode_jpeg_lossless": (
        "map-only: SOF3 encode fixture kernel (predictor rotated per "
        "doc, restart segments every third doc) -> Annex-H prediction "
        "+ Huffman difference decode + channel sums in Arrow stages; "
        "no IDCT, no quantization — pure sequential prediction per "
        "payload; payloads never shuffle, 3 rows out per image"
    ),
    "docs_gzip_ingest": (
        "map-only: gzip-member fixture kernel -> full RFC 1952 parse "
        "(header variants, CRC32/ISIZE, multi-member) + inflate + "
        "byte accounting in one Arrow kernel; zero exchanges, one "
        "row out per shard — the canonical embarrassingly-parallel "
        "ingestion scan"
    ),
    "docs_warc_extract": (
        "map-only two-layer parse: .warc.gz fixture kernel -> "
        "per-record gunzip + ISO 28500 record walk + response-type "
        "filter + byte accounting in one Arrow kernel; zero "
        "exchanges, one row per shard — the Common-Crawl ingestion "
        "stage, shard-parallel by construction"
    ),
    "docs_lz4_ingest": (
        "map-only: LZ4-frame fixture kernel (2 shard shapes) -> "
        "pyarrow's LZ4 frame decode + byte accounting in one Arrow "
        "kernel; zero exchanges, one row out per shard — the "
        "fast-tier twin of the gzip/zstd scans"
    ),
    "docs_zstd_ingest": (
        "map-only: zstd frame fixture kernel (2 shard shapes) -> "
        "pyarrow's zstd decode + byte accounting in one Arrow kernel; "
        "zero exchanges, one row out per shard — same "
        "embarrassingly-parallel ingestion scan as the gzip twin, "
        "for the .zst corpora modern dumps actually ship"
    ),
    "event_value_ddsketch": (
        "the corpus appears in exactly one partial-agg'd shuffle of "
        "|groups|*|buckets| sketch rows; every window and the "
        "quantile join run on the synopsis, never the data; merge is "
        "bucket-count addition"
    ),
    "events_zorder_pruning": (
        "ONE corpus scan emits both layouts' zone maps (GROUPING "
        "SETS Expand into a partial-agg'd shuffle of <=512 box "
        "rows); predicates attach as an exploded literal array and the "
        "rollup is metadata-sized"
    ),
    "customers_record_linkage": (
        "candidates come from a (nation, name-tail-suffix) equi-join "
        "— cost is the sum of block-size products, never n²; scoring "
        "is codegen'd integer arithmetic per candidate, the rollup "
        "partial-aggs to |nations| rows"
    ),
    "events_trend_slope": (
        "the whole regression is ONE map + one partial-agg'd shuffle "
        "of |types| rows (five classical sums as exact longs); no "
        "window, no second pass"
    ),
    "lineitem_equidepth_hist": (
        "the corpus collapses to |NDV| value counts in one partial-"
        "agg'd pass; below the round-14 measured gate the exact "
        "bucket arithmetic finishes driver-side over one Arrow "
        "collect (the audited plan's local relation), above it via "
        "sampled range exchange + broadcast offsets — either way no "
        "global sort, no single-task stage, final rollup is k rows"
    ),
    "cdc_retract_join": (
        "neither changelog ever joins row-to-row: each side collapses "
        "to |keys| signed partials in one partial-agg'd shuffle, the "
        "join runs over the two key summaries, and a dim delete "
        "retracts all fact partners algebraically"
    ),
    "cdc_retract_join3": (
        "snowflake form of the same factorization: fact partials "
        "keyed by the (part, supplier) key pair, two dim key "
        "summaries, two equi-joins, one rollup — three changelogs, "
        "zero row-to-row joins"
    ),
    "segment_overlap_kmv": (
        "the synopsis is checkpoint-materialized before its "
        "four-way fan-out (ExistingRDD, zero rescans); downstream "
        "joins are broadcast hash over <=|segments|*k rows — the "
        "corpus appears in exactly one Arrow partial-sketch pass"
    ),
    "event_value_bootstrap_ci": (
        "B-fold sequence-explode is map-side fan-out feeding a "
        "partial-agg'd (group, replicate) groupBy — B*|groups| "
        "partial rows cross the wire, never B resampled corpora; "
        "the percentile window sorts 32 rows per group"
    ),
    "docs_ppjoin_pairs": (
        "four equi-keyed partial-agg'd shuffles (df counts, prefix "
        "ranks, candidate join, verify count); candidates "
        "concentrate on RARE shingles by df-ascending ordering, "
        "and the length filter prunes before verification"
    ),
    "event_transitions": (
        "one sessionize-shaped user-keyed window (the only "
        "data-sized exchange) then a partial-agg'd groupBy down to "
        "|types|^2 rows; the normalizing window runs on that "
        "metadata-sized matrix"
    ),
    "event_value_outliers": (
        "three stat passes (median, MAD, flag), each a map over "
        "the fact scan plus a BroadcastHashJoin of a |types|-sized "
        "stat table; no Window over the fact table anywhere"
    ),
    "parts_association_rules": (
        "the distinct basket table checkpoint-materializes once "
        "(ExistingRDD) and feeds support agg + pair join; infrequent "
        "items semi-join out BEFORE the quadratic step (apriori); "
        "supports re-attach by BroadcastHashJoin, the scalar basket "
        "count by a literal-key broadcast — no nested loop"
    ),
    "lineitem_corr_matrix": (
        "one fact scan into one partial-agg'd reduce producing a "
        "single 15-value co-moment row (exact decimal sums); the 6 "
        "pairwise correlations unpivot from that row via stack — "
        "never a branch or rescan per pair"
    ),
    "events_resample_ffill": (
        "the corpus collapses to |types|x|hours| rows in one "
        "partial-agg'd pass and checkpoints before its two-way reuse; "
        "the dense grid is a generated sequence explode (no cross "
        "join); the ffill window sorts only the metadata-sized grid"
    ),
    "events_cusum_hourly": (
        "one corpus scan collapses to |types|x|hours| cells in a "
        "partial-agg'd pass; the CUSUM prefix/extremum windows and "
        "the alarm summary run on that synopsis only — no recursion, "
        "no join, no second scan"
    ),
    "events_ks_drift": (
        "one corpus scan to per-(type, cent) cells holding BOTH "
        "halves' counts; the ECDF windows and the exact integer "
        "max-distance run on the NDV-sized synopsis — no join "
        "anywhere, only the final normalization divides"
    ),
    "events_chi2": (
        "one corpus scan to the |types|x24 contingency cells, then "
        "JOIN-FREE: chi2 = N(sum o^2/(r*c) - 1) absorbs zero cells "
        "exactly, margins are window sums over the cell synopsis, "
        "and the output is one global-aggregate row — no grid, no "
        "margin joins, no scalar attach"
    ),
    "docs_keyphrases": (
        "the (doc, term, tf) table checkpoint-materializes before "
        "its two-way reuse (df derives from it and rejoins it); the "
        "doc count is a 1-row scalar collect (the BM25 legality "
        "class); the top-k window partitions per doc — millions of "
        "small partitions, no skew, no global sort"
    ),
    "customers_rfm": (
        "orders collapse to the |customers| metric table once; "
        "below the round-14 measured gate the exact quintile ranks "
        "finish driver-side over one Arrow collect (the audited "
        "plan's local relation), above it each quintile is the "
        "sampled-range-exchange prefix-sum rank — bucket = "
        "(rows_before*5) div n in integer arithmetic either way, no "
        "ntile, no SinglePartition, no global sort"
    ),
    "events_rolling_dau": (
        "one corpus pass to distinct (user, day) cells, checkpointed "
        "before the max-day collect + fan-out reuse; each cell "
        "explodes to its <=7 window-end days (bounded map-side "
        "fan-out of the SYNOPSIS) into one partial-agg'd "
        "count-distinct — no range join, no per-day subqueries"
    ),
    "events_monitor_report": (
        "four independent one-pass corpus collapses (trend sums, "
        "hourly CUSUM cells, KS cells, drift buckets), then every "
        "report join is a BroadcastHashJoin of |types|-row synopses "
        "— composition adds zero new corpus passes beyond its parts"
    ),
    "docs_quality_model_score": (
        "one explode into a per-doc partial-agg'd groupBy — the "
        "hashing trick means NO vocabulary broadcast and no weight "
        "table; the keep decision is exact integer arithmetic inside "
        "the same projection"
    ),
    "customers_rfm_migration": (
        "the shared scorer runs once per snapshot (below the "
        "round-14 gate: a driver-side numpy rank pass per snapshot; "
        "above it a |customers| range-exchange quintile pass), the "
        "two snapshots overlapped from a 2-thread pool (round-13, "
        "independent eager subtrees); the two score tables join on "
        "the customer key and collapse to the <=36-cell matrix; the "
        "share window runs on that matrix"
    ),
    "docs_kn_score": (
        "the corpus-sized pair table checkpoint-materializes once "
        "for its five uses; all KN count tables are vocabulary-sized "
        "partial aggs rejoined by term keys; the distinct-bigram "
        "total is a 1-row collect — Zipf skew handled by AQE "
        "skew-join like the add-k scorer"
    ),
    "event_funnel_latency": (
        "the decorrelated stage chain keeps every shuffle on the "
        "user key (no window over the raw stream); latencies are "
        "synopsis-sized and the exact-quantile table re-attaches by "
        "broadcast"
    ),
    "parts_bfs_hops": (
        "pairs generate map-side from one per-order collect_set "
        "(never a fact self-join — round-13); directed edges "
        "materialize once; under the driver gate (audit scale) the "
        "frontier expansion runs on the driver and the plan reads "
        "the collected hop relation; above the gate each round joins "
        "only the new frontier (|frontier|-proportional, the "
        "textbook BFS bound) into a partial-agg'd min groupBy with "
        "released checkpoints — plan depth O(1) in rounds"
    ),
}


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


INTERESTING = {
    "BroadcastHashJoin": "BroadcastHashJoin",
    "SortMergeJoin": "SortMergeJoin",
    "CartesianProduct": "CartesianProduct !!",
    "BroadcastNestedLoopJoin": "BroadcastNestedLoopJoin !!",
    "Exchange": "Exchange (shuffle)",
    "BroadcastExchange": "BroadcastExchange",
    "HashAggregate": "HashAggregate",
    "ObjectHashAggregate": "HashAggregate",
    "TakeOrderedAndProject": "TakeOrderedAndProject",
    "WholeStageCodegen": "WholeStageCodegen span",
    "Scan": "parquet scan",
    "ArrowEvalPython": "Arrow Python stage",
    "MapInPandas": "Arrow Python stage",
    "FlatMapGroupsInPandas": "Arrow Python stage",
}


def summarize(plan: str) -> list[str]:
    # formatted explain prints every node twice — once in the tree,
    # once as a "(id) Name" details header — so count DISTINCT node
    # ids, and resolve node names exactly (no substring matches:
    # "Exchange" must not swallow "BroadcastExchange").
    nodes: dict[str, str] = {}
    for node_id, name in re.findall(r"\((\d+)\) ([A-Za-z]+)", plan):
        nodes.setdefault(node_id, name)
    counts: dict[str, int] = {}
    for name in nodes.values():
        label = INTERESTING.get(name)
        if label:
            counts[label] = counts.get(label, 0) + 1
    pushed = len(re.findall(r"PushedFilters: \[[^\]]+\]", plan))
    if pushed:
        counts["scans with pushed filters"] = pushed
    return [f"{v}× {k}" for k, v in counts.items()]


def main() -> int:
    # sf0.01, not sf0.001: at the tiniest fixture a join side can fall
    # under the broadcast threshold and the committed audit would
    # record a toy-scale broadcast artifact as the 100 TB shape
    # (round-11 review)
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from realtime0523_spark.core.session import get_spark
    from realtime0523_spark.plans import REGISTRY

    spark = get_spark("plan-report")
    spark.sparkContext.setLogLevel("ERROR")

    lines = [
        "# PLANS — physical-plan audit of the scale-critical queries",
        "",
        "Generated by `tools/plan_report.py` (re-run after plan-affecting",
        f"changes) against `{sf_dir}`. Node counts from",
        '`.explain("formatted")`; the one-line argument states why the',
        "shape survives 100 TB. `!!` marks shapes that must never appear",
        "(also asserted in tests/test_scale_plans.py).",
        "",
    ]
    for name, argument in AUDITED.items():
        spec = REGISTRY.get(name)
        if spec is None:
            continue
        plan = formatted_plan(spec.fn(spark, sf_dir))
        lines.append(f"## {name}")
        lines.append("")
        lines.append(f"_{argument}_")
        lines.append("")
        items = summarize(plan)
        if not items:
            lines.append(
                "- (iterative operator: rounds executed during frame "
                "construction; the returned frame scans the final "
                "checkpointed labels — per-round join+min shape described "
                "in llm/clusters.py and property-tested against union-find)"
            )
        for item in items:
            lines.append(f"- {item}")
        lines.append("")
    out = "\n".join(lines) + "\n"
    with open("PLANS.md", "w") as fh:
        fh.write(out)
    print(f"PLANS.md written ({len(AUDITED)} queries audited)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
