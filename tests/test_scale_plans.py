"""Physical-plan regression tests: the scale properties the engine
relies on at 100 TB must be visible in the plan NOW — filters reaching
the parquet scan, small dims broadcast, no accidental cartesians, and
bucketed co-located joins running shuffle-free.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from realtime0523_spark.plans import REGISTRY
from tests.conftest import SF_SMOKE


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushed_to_parquet_scan(spark):
    plan = formatted_plan(REGISTRY["pricing_summary"].fn(spark, SF_SMOKE))
    assert re.search(r"PushedFilters:.*LessThanOrEqual\(l_shipdate", plan), plan


def test_partition_filter_pushed_on_dim(spark):
    plan = formatted_plan(REGISTRY["regional_revenue"].fn(spark, SF_SMOKE))
    assert re.search(r"PushedFilters:.*EqualTo\(r_name,ASIA\)", plan), plan


def test_dim_enrichment_uses_broadcast_joins(spark):
    plan = formatted_plan(REGISTRY["dim_enrich"].fn(spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "SortMergeJoin" not in plan, plan


def test_global_topn_plans_take_ordered(spark):
    """ORDER BY + LIMIT must plan TakeOrderedAndProject (per-partition
    top-N + driver merge), never a global Sort of the aggregate."""
    plan = formatted_plan(REGISTRY["ship_priority_topk"].fn(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan, plan


def test_exists_plans_semi_join(spark):
    """Decorrelated EXISTS must plan a LeftSemi join — one row per
    qualifying order regardless of matching-lineitem fan-out."""
    plan = formatted_plan(REGISTRY["late_ship_priority_counts"].fn(spark, SF_SMOKE))
    assert "LeftSemi" in plan, plan


def test_no_cartesian_products_anywhere(spark):
    """No inventory query may plan a cartesian or broadcast-nested-loop
    join — the shapes that melt down at scale. (Streaming queries are
    skipped: building their result executes the stream; their join
    shapes are covered by tests/test_streaming.py.)"""
    for name, spec in REGISTRY.items():
        if name.startswith("stream_"):
            continue
        plan = formatted_plan(spec.fn(spark, SF_SMOKE))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """write_bucketed on both join sides ⇒ the equi-join plan contains
    no Exchange (co-located, per-bucket join) — the ingest-time layout
    that removes the header×detail shuffle at 100 TB."""
    from realtime0523_spark.core.bucketing import write_bucketed

    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        left = spark.range(0, 10000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("a")
        )
        right = spark.range(0, 10000).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("b")
        )
        write_bucketed(left, "bkt_left", 8, "k", sort_cols="k")
        write_bucketed(right, "bkt_right", 8, "k", sort_cols="k")
        joined = spark.table("bkt_left").join(spark.table("bkt_right"), "k")
        plan = formatted_plan(joined)
        assert "Exchange" not in plan, plan
        assert joined.count() == 10000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.sql("DROP TABLE IF EXISTS bkt_left")  # managed: drops data too
        spark.sql("DROP TABLE IF EXISTS bkt_right")


def test_contamination_broadcasts_eval_side(spark):
    """The eval shingle set must broadcast (it is ≪ corpus by
    contract); the corpus side must never shuffle before the per-doc
    groupBy."""
    plan = formatted_plan(REGISTRY["docs_contamination"].fn(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_quality_filter_approx_plan_never_window_sorts(spark):
    """The 100 TB quality-filter path (approximate=True) must plan as
    sketch-aggregate + broadcast join: ZERO Window/Sort operators (the
    exact path's per-domain sort is precisely what it exists to avoid)
    and the |domains|-sized median table broadcast onto the corpus."""
    from realtime0523_spark.core.bucketing import _walk_physical
    from realtime0523_spark.core.catalog import Catalog
    from realtime0523_spark.llm.pipeline import domain_quality_filter

    docs = Catalog(spark, SF_SMOKE).table("documents")
    out = domain_quality_filter(docs, approximate=True)
    names = [
        n.getClass().getSimpleName()
        for n in _walk_physical(out._jdf.queryExecution().executedPlan())
    ]
    assert not any("Window" in n for n in names), names
    assert not any(n.startswith("Sort") for n in names), names
    assert any("BroadcastHashJoin" in n for n in names), names


def test_quality_filter_approx_matches_exact_on_odd_domains(spark):
    """With an exact-capacity sketch (n < accuracy) and odd per-domain
    counts (the fixture ships 25/source), the approx median IS the
    middle element — the interpolated exact median — so the flagged
    variant must reproduce the exact filter row-for-row. (Even-sized
    domains legitimately differ at the boundary doc; that freedom is
    bounded by the driver-checked docs_quality_approx_contract.)"""
    from realtime0523_spark.core.catalog import Catalog
    from realtime0523_spark.llm.pipeline import domain_quality_filter

    docs = Catalog(spark, SF_SMOKE).table("documents")
    counts = [r.n for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()]
    assert all(n % 2 == 1 for n in counts), counts  # precondition, see docstring
    exact = domain_quality_filter(docs).collect()
    approx = domain_quality_filter(docs, approximate=True).collect()
    assert sorted(map(tuple, exact)) == sorted(map(tuple, approx))


def test_repetition_uses_partial_aggregation(spark):
    """The n-gram counts must partial-agg before the shuffle so the
    exchange carries distinct (doc, gram) rows, not raw gram rows."""
    plan = formatted_plan(REGISTRY["docs_repetition"].fn(spark, SF_SMOKE))
    # two gram families (2-gram, 3-gram) x (partial, final) = >= 4
    assert plan.count("HashAggregate") >= 4, plan


def test_interval_join_is_not_nested_loop(spark):
    """The keyless range join must plan as the binned equi-join —
    a nested-loop/cartesian here is O(|events|·|windows|) at scale."""
    plan = formatted_plan(REGISTRY["event_incident_join"].fn(spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Cartesian" not in plan, plan


def test_zorder_repartition_is_range_exchange_not_global_sort(spark):
    """The z-order write path must be a SAMPLED RANGE exchange plus a
    partition-local sort — never a single-partition global sort (the
    100 TB difference between a clustered write and a straggler)."""
    from realtime0523_spark.core.catalog import Catalog
    from realtime0523_spark.operators.layout import (
        morton_interleave,
        zorder_repartition,
    )

    events = Catalog(spark, SF_SMOKE).table("events")
    z = events.withColumn(
        "zval",
        morton_interleave(
            F.col("user_id").bitwiseAND(F.lit(65535)),
            F.floor(F.col("value") * 100 + F.lit(0.5))
            .cast("bigint")
            .bitwiseAND(F.lit(65535)),
        ),
    )
    plan = formatted_plan(zorder_repartition(z, "zval", 8))
    assert "rangepartitioning" in plan.lower(), plan
    assert "Exchange SinglePartition" not in plan, plan
    # the sort is partition-local (global=false in the Sort arguments)
    assert re.search(r"\[zval#\d+L? ASC NULLS FIRST\], false", plan), plan


def test_dsir_sample_plans_take_ordered(spark):
    """DSIR's Gumbel-top-k selection must plan as
    TakeOrderedAndProject (per-partition top-k + driver merge), not a
    global sort of the scored corpus."""
    plan = formatted_plan(REGISTRY["docs_dsir_sample"].fn(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan, plan


def test_leakage_split_broadcasts_components(spark):
    """The corpus side of the leakage-safe split must not shuffle: the
    duplicate-density-sized components table broadcasts."""
    plan = formatted_plan(REGISTRY["docs_leakage_split"].fn(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan, plan


def test_minhash_index_bucketed_probe_is_index_shuffle_free(spark, tmp_path):
    """The incremental-dedup contract: with the persisted index
    bucketed by band hash, probing it never shuffles the index side —
    only the (small) incoming batch's bucket rows move."""
    from realtime0523_spark.core.bucketing import write_bucketed
    from realtime0523_spark.llm.dedup import (
        band_buckets,
        minhash_index,
        minhash_signatures,
    )

    corpus = spark.createDataFrame(
        [(i, f"word{i} alpha beta gamma delta epsilon zeta {i}") for i in range(40)],
        "doc_id long, text string",
    )
    buckets, _ = minhash_index(corpus)
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.sql("DROP TABLE IF EXISTS mh_idx_buckets")
        import shutil

        shutil.rmtree(  # a stale dir survives a dropped catalog entry
            "spark-warehouse/mh_idx_buckets", ignore_errors=True
        )
        write_bucketed(buckets, "mh_idx_buckets", 8, "bh")
        incoming = spark.createDataFrame(  # verbatim copy of doc 7
            [(100, "word7 alpha beta gamma delta epsilon zeta 7")],
            "doc_id long, text string",
        )
        probe = band_buckets(minhash_signatures(incoming)).select(
            F.col("doc_id").alias("new_id"), "bh"
        )
        joined = probe.join(
            spark.table("mh_idx_buckets").select("doc_id", "bh"), "bh"
        )
        # one Exchange total (the probe side, shuffled to the index's
        # bucket count); the bucketed index scan feeds the join with
        # no Exchange — simple-mode plan string counts nodes once
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1, plan
        assert "Bucketed: true" in plan, plan
        assert joined.count() >= 1  # shared shingle content collides
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.sql("DROP TABLE IF EXISTS mh_idx_buckets")


def test_lone_late_supplier_reuses_one_lineitem_pass(spark):
    """The Q21 decorrelation promise: the (order, supplier) any-late
    aggregate is computed once and reused (ReusedExchange), not
    re-derived per correlated predicate."""
    df = REGISTRY["lone_late_supplier"].fn(spark, SF_SMOKE)
    df.collect()  # AQE reuses the shared shuffle stage at runtime
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan
    assert "ReusedExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_cheapest_supplier_window_not_self_join(spark):
    """The Q2 decorrelation: min-per-part is a window over the
    (part, supp) aggregate — no second lineitem scan, no self-join."""
    plan = (
        REGISTRY["cheapest_supplier_per_part"]
        .fn(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("FileScan parquet") == 2, plan  # lineitem + supplier
    assert "SortMergeJoin" not in plan, plan


def test_triangle_stats_materializes_graph_once(spark):
    """Round-8 regression pin (VERDICT r7): triangle_counts must
    checkpoint the derived graph (undirected edges, degrees, oriented
    table) BEFORE the multi-branch fan-out, so the lineitem self-join
    runs exactly once. The returned frame is the materialized
    node-sized checkpoint — its plan reads ExistingRDD and contains
    ZERO parquet scans; a regression to lazy fan-out would reintroduce
    dozens of scans here."""
    df = REGISTRY["parts_triangle_stats"].fn(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "Scan parquet" not in plan, plan
    assert "ExistingRDD" in plan, plan


def test_cdc_retract_agg_is_one_scan_one_shuffle(spark):
    """The retraction aggregate's whole point vs the latest-row-wins
    formulation: NO per-key shuffle/window of the changelog — one scan,
    a stateless delta map, and a single map-side-combined exchange of
    |groups| partial rows. Pin that shape."""
    plan = formatted_plan(REGISTRY["cdc_retract_agg"].fn(spark, SF_SMOKE))
    # count tree nodes ("(n) Op"), not the detail-section repeats
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "Window" not in plan and "SortMergeJoin" not in plan, plan
    # partial_sum before the exchange = map-side combine is in place
    assert "partial_sum" in plan, plan


def test_kmv_overlap_materializes_sketch_once(spark):
    """kmv_overlap fans the sketch into four branches; the sketch must
    be checkpoint-materialized first (the triangle_counts lesson) so
    the Arrow build pass and the events scan run exactly once — the
    final plan reads ExistingRDD and touches no parquet."""
    df = REGISTRY["segment_overlap_kmv"].fn(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "Scan parquet" not in plan, plan
    assert "ExistingRDD" in plan, plan


def test_retract_join_never_joins_changelog_rows(spark):
    """The join factorization's whole point: each changelog collapses
    to key summaries BEFORE any join — exactly one scan per changelog
    and every aggregate partial-agg'd ahead of its exchange; a
    regression to latest-state materialization would join row-level
    tables here."""
    plan = formatted_plan(REGISTRY["cdc_retract_join"].fn(spark, SF_SMOKE))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2, plan
    assert "partial_sum" in plan, plan
    p3 = formatted_plan(REGISTRY["cdc_retract_join3"].fn(spark, SF_SMOKE))
    assert len(re.findall(r"\(\d+\) Scan parquet", p3)) == 3, p3


def test_equidepth_hist_has_no_single_partition_stage(spark):
    """The equi-depth histogram replaces ntile-over-global-sort; the
    plan must contain no SinglePartition exchange (the NDV table is
    checkpoint-materialized, so the visible plan reads ExistingRDD)."""
    plan = formatted_plan(
        REGISTRY["lineitem_equidepth_hist"].fn(spark, SF_SMOKE)
    )
    assert "SinglePartition" not in plan, plan
    assert "ExistingRDD" in plan, plan


def test_trend_slope_is_one_scan_one_exchange_no_window(spark):
    """The whole regression is five sums in one partial-agg'd pass:
    one scan, one exchange, no Window anywhere."""
    plan = formatted_plan(REGISTRY["events_trend_slope"].fn(spark, SF_SMOKE))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "Window" not in plan, plan
    assert "partial_sum" in plan, plan


def test_zorder_pruning_is_single_scan_grouping_sets(spark):
    """Both layouts' zone maps must come from ONE corpus scan (the
    GROUPING SETS Expand), not one scan per layout."""
    plan = formatted_plan(
        REGISTRY["events_zorder_pruning"].fn(spark, SF_SMOKE)
    )
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "Expand" in plan, plan


def test_ddsketch_windows_run_on_synopsis_only(spark):
    """One corpus scan builds the sketch; the quantile windows and
    fan-out run over |groups|x|buckets| rows — and the literal
    quantile table attaches by explode, never a join operator."""
    plan = formatted_plan(REGISTRY["event_value_ddsketch"].fn(spark, SF_SMOKE))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "Join" not in plan, plan
    assert "partial_count" in plan or "partial_sum" in plan, plan


def test_audio_energy_is_map_only(spark):
    """Payloads never shuffle: the PCM framing plan is scan ->
    Arrow kernel with zero exchanges."""
    plan = formatted_plan(REGISTRY["media_audio_energy"].fn(spark, SF_SMOKE))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0, plan


def test_association_rules_materializes_baskets_once(spark):
    """The basket table feeds BOTH the support aggregate and the pair
    self-join; it must checkpoint-materialize before that fan-out (the
    triangle_counts lesson) and the result is itself checkpointed, so
    the final plan reads ExistingRDD with zero parquet scans — and the
    scalar basket count must attach by a hash equi-join on a literal
    key, never a nested-loop cross join."""
    df = REGISTRY["parts_association_rules"].fn(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "Scan parquet" not in plan, plan
    assert "ExistingRDD" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_corr_matrix_is_one_scan_one_exchange_no_join(spark):
    """The whole design: n + 4 sums + 4 sum-of-squares + 6 cross sums
    in ONE partial-agg'd reduce over ONE fact scan, then the pairwise
    correlations unpivot from that single row — no join, no window,
    no second pass."""
    plan = formatted_plan(REGISTRY["lineitem_corr_matrix"].fn(spark, SF_SMOKE))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "Join" not in plan and "Window" not in plan, plan
    assert "partial_sum" in plan, plan


def test_resample_ffill_grid_is_generated_not_cross_joined(spark):
    """The hourly synopsis checkpoints before its two-way reuse (type
    list + join probe), so the final plan reads ExistingRDD and never
    re-touches parquet; the dense hour grid comes from a sequence
    explode joined by broadcast hash — a cross-join grid would plan
    nested-loop here. The ffill window runs on the metadata-sized
    grid only."""
    plan = formatted_plan(REGISTRY["events_resample_ffill"].fn(spark, SF_SMOKE))
    assert "Scan parquet" not in plan, plan
    assert "ExistingRDD" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Generate" in plan, plan  # explode(sequence(...))
    assert "BroadcastHashJoin" in plan, plan
    assert "Window" in plan, plan


def test_bfs_hops_final_plan_reads_checkpoint_only(spark):
    """The returned frame must be a materialized relation — zero
    parquet scans, zero joins — so plan depth stays O(1) in rounds and
    the upstream co-purchase self-join is never re-derived. Under the
    round-13 driver gate that relation is the collected result
    (LocalTableScan); above the gate it is the final round's
    checkpoint (ExistingRDD). Both satisfy the contract."""
    df = REGISTRY["parts_bfs_hops"].fn(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "Scan parquet" not in plan, plan
    assert "ExistingRDD" in plan or "LocalTableScan" in plan, plan
    assert "Join" not in plan, plan


def test_cusum_runs_on_synopsis_one_scan(spark):
    """One corpus scan to hourly cells; the CUSUM prefix/extremum
    windows and the alarm summary run on the synopsis — no join, no
    second scan, partial aggregation ahead of the cell exchange."""
    plan = formatted_plan(REGISTRY["events_cusum_hourly"].fn(spark, SF_SMOKE))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "Join" not in plan, plan
    assert "partial_sum" in plan, plan
    assert "Window" in plan, plan


def test_ks_drift_is_one_scan_no_join_exact_max(spark):
    """Both halves' counts land in ONE cell row (no per-half scans,
    no join); the ECDF windows run on the cell synopsis."""
    plan = formatted_plan(REGISTRY["events_ks_drift"].fn(spark, SF_SMOKE))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "Join" not in plan, plan
    assert "partial_sum" in plan, plan


def test_chi2_is_join_free_single_scan(spark):
    """The identity chi2 = N(sum o^2/(rc) - 1) needs no grid, no
    margin joins, no scalar attach — the plan must contain NO join
    operator of any kind and exactly one corpus scan. (The naive
    literal-key scalar attach constant-folds to
    BroadcastNestedLoopJoin — the regression this pins out.)"""
    plan = formatted_plan(REGISTRY["events_chi2"].fn(spark, SF_SMOKE))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "Join" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_keyphrases_materializes_tf_once_no_nested_loop(spark):
    """The (doc, term, tf) table is reused twice (df derives from it
    and rejoins it) — it must checkpoint first, so the visible plan
    reads ExistingRDD for both branches and re-tokenizes nothing;
    the df re-attach must be a hash join, never the nested loop a
    1-row scalar join would fold to."""
    plan = formatted_plan(REGISTRY["docs_keyphrases"].fn(spark, SF_SMOKE))
    assert "ExistingRDD" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # tokenization (the Arrow-free JVM split+explode) happens zero
    # times in the final plan — both branches read the checkpoint
    assert "Generate" not in plan, plan


def test_rfm_never_plans_ntile_or_single_partition(spark, monkeypatch):
    """The whole design: exact quintiles via sampled range exchange +
    broadcast offsets, never ntile-over-global-sort. The plan must
    contain no SinglePartition exchange and no parquet rescans (the
    prefix passes read checkpoints). Round-14: the gate is pinned off
    so this asserts the DISTRIBUTED scorer (the 100 TB path); below
    the gate the scorer is a driver-computed local relation, asserted
    separately."""
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_GATES", "off")
    plan = formatted_plan(REGISTRY["customers_rfm"].fn(spark, SF_SMOKE))
    assert "SinglePartition" not in plan, plan
    assert "ntile" not in plan, plan
    assert "ExistingRDD" in plan, plan
    assert "Scan parquet" not in plan, plan
    # the gated driver path (round-14): scores become a local relation
    # — still no ntile, no SinglePartition, no parquet rescan
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_GATES", "on")
    plan_drv = formatted_plan(REGISTRY["customers_rfm"].fn(spark, SF_SMOKE))
    assert "SinglePartition" not in plan_drv, plan_drv
    assert "ntile" not in plan_drv, plan_drv
    assert "LocalTableScan" in plan_drv or "ExistingRDD" in plan_drv, plan_drv


def test_rolling_dau_fans_out_synopsis_not_corpus(spark):
    """The cell synopsis materializes once (feeds the max-day collect
    and the fan-out); the window fan-out is a literal-sequence
    explode over the checkpoint — no join, no grid, no parquet
    rescan."""
    plan = formatted_plan(REGISTRY["events_rolling_dau"].fn(spark, SF_SMOKE))
    assert "Scan parquet" not in plan, plan
    assert "ExistingRDD" in plan, plan
    assert "Join" not in plan, plan
    assert "Generate" in plan, plan  # explode(sequence(...))


def test_monitor_report_joins_are_all_broadcast(spark):
    """Every component is a |types|-row synopsis; all three report
    joins must be BroadcastHashJoin — no SortMergeJoin, no shuffle
    of anything synopsis-sized."""
    plan = formatted_plan(
        REGISTRY["events_monitor_report"].fn(spark, SF_SMOKE)
    )
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_funnel_latency_shuffles_stay_on_user_key(spark):
    """Same decorrelated chain as event_funnel: stage joins and
    min-aggregates all keyed on user_id — no window over the raw
    stream, no cartesian, and the tiny quantile table attaches by
    broadcast."""
    plan = formatted_plan(REGISTRY["event_funnel_latency"].fn(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Window" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
