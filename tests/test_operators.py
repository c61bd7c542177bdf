from __future__ import annotations

from pyspark.sql import functions as F

from realtime0523_spark.core.catalog import Catalog
from realtime0523_spark.functions.scalar import round2
from realtime0523_spark.operators.allocation import allocate_order_amount
from realtime0523_spark.operators.dedup import dedup_first_by_key
from realtime0523_spark.operators.windows import first_flag, topk_per_group
from tests.conftest import SF_SMOKE

ORDER_BY = ["l_linenumber", "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"]


def _alloc(spark):
    cat = Catalog(spark, SF_SMOKE)
    li, o = cat.table("lineitem"), cat.table("orders")
    joined = li.join(o.select("o_orderkey", "o_totalprice"), li.l_orderkey == F.col("o_orderkey"))
    return allocate_order_amount(
        joined, "l_orderkey", ORDER_BY, "l_extendedprice", "o_totalprice"
    )


def test_allocation_exact_sum_invariant(spark):
    """FIXTURES.md §7.1: Σ final_detail_amount == round2(o_totalprice)
    for every order with details — the F1 contract."""
    out = _alloc(spark)
    bad = (
        out.groupBy("l_orderkey", "o_totalprice")
        .agg(F.sum("final_detail_amount").alias("s"))
        .filter(F.abs(round2(F.col("s")) - round2(F.col("o_totalprice"))) > 1e-9)
        .count()
    )
    assert bad == 0


def test_allocation_shares_are_2dp(spark):
    out = _alloc(spark)
    bad = out.filter(
        F.abs(F.col("final_detail_amount") * 100
              - F.round(F.col("final_detail_amount") * 100)) > 1e-6
    ).count()
    assert bad == 0


def test_first_flag_exactly_one_per_key(spark):
    o = Catalog(spark, SF_SMOKE).table("orders")
    flagged = first_flag(o, "o_custkey", ["o_orderdate", "o_orderkey"])
    per_user = (
        flagged.groupBy("o_custkey")
        .agg(F.sum(F.col("if_first_order").cast("int")).alias("n_first"))
        .filter(F.col("n_first") != 1)
        .count()
    )
    assert per_user == 0


def test_dedup_first_deterministic_and_unique(spark):
    ev = Catalog(spark, SF_SMOKE).table("events")
    out = dedup_first_by_key(ev, ["user_id"], ["ts", "event_id"])
    assert out.groupBy("user_id").count().filter("count > 1").count() == 0
    # first by ts == min event per user
    mins = ev.groupBy("user_id").agg(F.min(F.struct("ts", "event_id")).alias("m"))
    joined = out.join(mins, "user_id").filter(
        (F.col("ts") != F.col("m.ts")) | (F.col("event_id") != F.col("m.event_id"))
    )
    assert joined.count() == 0


def test_topk_per_group(spark):
    o = Catalog(spark, SF_SMOKE).table("orders")
    top2 = topk_per_group(o, "o_custkey", [F.desc("o_totalprice"), F.col("o_orderkey")], 2)
    counts = top2.groupBy("o_custkey").count()
    assert counts.filter("count > 2").count() == 0
    # the max order per customer is always included
    mx = o.groupBy("o_custkey").agg(F.max("o_totalprice").alias("mx"))
    missing = mx.join(
        top2.filter("rk = 1"), on="o_custkey"
    ).filter(F.col("mx") != F.col("o_totalprice")).count()
    assert missing == 0


# ---------------------------------------------------------------------------
# asof_join / salted_agg / exact_quantiles
# ---------------------------------------------------------------------------


def _rows_to_df(spark, cols, rows):
    return spark.createDataFrame(rows, cols)


def test_asof_join_boundary_tie_and_unmatched(spark):
    from realtime0523_spark.operators.joins import asof_join

    probe = _rows_to_df(
        spark,
        ["pid", "k", "pts"],
        [
            (1, "a", 100),  # ref at exactly 100 must match (at-or-before)
            (2, "a", 99),   # before every ref for key a at t<100 except t=50
            (3, "a", 49),   # unmatched: earliest ref at 50
            (4, "b", 10),   # key with no refs at all
        ],
    )
    ref = _rows_to_df(
        spark,
        ["k", "rts", "rid", "payload"],
        [
            ("a", 50, 7, "early"),
            ("a", 100, 8, "tie_lo"),
            ("a", 100, 9, "tie_hi"),  # equal ts: max rid wins deterministically
        ],
    )
    out = {
        r["pid"]: (r["payload"], r["rid"])
        for r in asof_join(
            probe, ref, on="k", probe_ts="pts", ref_ts="rts",
            ref_cols=["payload", "rid"], ref_order="rid",
        ).collect()
    }
    assert out[1] == ("tie_hi", 9)
    assert out[2] == ("early", 7)
    assert out[3] == (None, None)
    assert out[4] == (None, None)


def test_salted_agg_matches_plain_groupby(spark):
    from realtime0523_spark.operators.aggregates import salted_agg

    li = Catalog(spark, SF_SMOKE).table("lineitem")
    salted = {
        r["l_returnflag"]: (r["sum_l_quantity"], r["n"])
        for r in salted_agg(
            li, ["l_returnflag"], ["l_quantity"], salt_from="l_orderkey", buckets=16
        ).collect()
    }
    plain = {
        r["l_returnflag"]: (r["s"], r["n"])
        for r in li.groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert salted == plain  # integer-valued sums → bit-exact


def test_exact_quantiles_interpolation(spark):
    from realtime0523_spark.operators.aggregates import exact_quantiles

    df = _rows_to_df(spark, ["g", "v"], [("x", 1.0), ("x", 2.0), ("x", 3.0), ("x", 10.0)])
    row = exact_quantiles(df, ["g"], "v", {"q25": 0.25, "q50": 0.5}).collect()[0]
    assert row["q25"] == 1.75  # 1 + 0.75*(2-1)
    assert row["q50"] == 2.5


def test_approx_dau_within_hll_error_bound(spark):
    from realtime0523_spark.plans import REGISTRY

    rows = REGISTRY["dau_approx"].fn(spark, SF_SMOKE).collect()
    exact = {r["dt"]: r["dau"] for r in REGISTRY["dau"].fn(spark, SF_SMOKE).collect()}
    assert {r["dt"] for r in rows} == set(exact)
    for r in rows:
        # the flag IS the bound check; dau_exact must agree with the
        # exact twin so the flag is judged against the right number
        assert r["dau_exact"] == exact[r["dt"]], r
        assert r["approx_ok"], r


def test_scd2_history_validity_ranges(spark):
    from realtime0523_spark.operators.windows import scd2_history

    changes = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "new"),
         (1, "2024-01-02 00:00:00", "paid"),
         (1, "2024-01-03 00:00:00", "shipped"),
         (2, "2024-01-05 00:00:00", "new")],
        "k long, ts string, status string",
    ).withColumn("ts", F.to_timestamp("ts"))
    rows = {(r.k, str(r.valid_from)): r for r in scd2_history(
        changes, ["k"], "ts", ["status"]).collect()}
    r1 = rows[(1, "2024-01-01 00:00:00")]
    assert str(r1.valid_to) == "2024-01-02 00:00:00" and not r1.is_current
    r3 = rows[(1, "2024-01-03 00:00:00")]
    assert r3.valid_to is None and r3.is_current
    r4 = rows[(2, "2024-01-05 00:00:00")]
    assert r4.valid_to is None and r4.is_current
    # exactly one current row per key
    cur = [r for r in rows.values() if r.is_current]
    assert sorted(r.k for r in cur) == [1, 2]


def test_interval_join_boundaries_and_cross_bin(spark):
    """Start-inclusive / end-exclusive semantics, intervals spanning
    multiple bins, and exactly-once pair emission (no dedup needed)."""
    import datetime as dt

    from realtime0523_spark.operators.joins import interval_join

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def t(s):
        return t0 + dt.timedelta(seconds=s)

    events = _rows_to_df(
        spark,
        ["eid", "ts"],
        [(1, t(0)), (2, t(59)), (3, t(60)), (4, t(500)), (5, t(1000))],
    )
    # interval A [0, 60) spans one bin at bin=60s; B [30, 700) spans
    # many bins; C [1000, 1001) starts exactly at event 5
    intervals = _rows_to_df(
        spark,
        ["iid", "s", "e"],
        [("A", t(0), t(60)), ("B", t(30), t(700)), ("C", t(1000), t(1001))],
    )
    out = interval_join(events, intervals, "ts", "s", "e", bin_seconds=60)
    pairs = sorted((r.eid, r.iid) for r in out.collect())
    # A: events 1,2 (t=60 excluded — end-exclusive)
    # B: events 3 (t=60 ≥ 30), 4; not 2? t=59 ≥ 30 → yes 2
    # C: event 5 (start-inclusive)
    assert pairs == [
        (1, "A"), (2, "A"), (2, "B"), (3, "B"), (4, "B"), (5, "C"),
    ], pairs
    # exactly-once: no (event, interval) pair appears twice
    assert len(pairs) == len(set(pairs))


def test_cms_guarantees_and_mergeability(spark):
    """The three defining CMS properties, on the real token stream:
    (a) never undercounts, (b) overshoot ≤ εN for the vast majority of
    keys (the 1-δ probabilistic bound), (c) sketches over disjoint
    splits merge by cell-wise addition into the whole-stream sketch."""
    import math

    from realtime0523_spark.llm.text import tokens
    from realtime0523_spark.operators.sketches import (
        CMS_WIDTH,
        cms_build,
        cms_estimate,
    )

    docs = Catalog(spark, SF_SMOKE).table("documents")
    toks = docs.select(F.explode(tokens("text")).alias("tok"))
    sketch = cms_build(toks, "tok")
    keys = toks.select("tok").distinct()
    est = {r.tok: r.est for r in cms_estimate(keys, sketch, "tok").collect()}
    exact = {
        r.tok: r.n
        for r in toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n_total = sum(exact.values())
    assert all(est[t] >= exact[t] for t in exact), "CMS undercounted"
    eps_n = math.e / CMS_WIDTH * n_total
    within = sum(1 for t in exact if est[t] - exact[t] <= eps_n)
    assert within / len(exact) >= 0.95, (within, len(exact))

    # mergeability: split the stream, sum the grids, expect the
    # whole-stream grid exactly
    a = toks.filter(F.crc32(F.col("tok")) % 2 == 0)
    b = toks.filter(F.crc32(F.col("tok")) % 2 == 1)
    merged = (
        cms_build(a, "tok")
        .unionByName(cms_build(b, "tok"))
        .groupBy("d", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    full = {(r.d, r.bucket): r.cnt for r in sketch.collect()}
    msk = {(r.d, r.bucket): r.cnt for r in merged.collect()}
    assert msk == full


def test_cms_topk_overlaps_exact_topk(spark):
    from realtime0523_spark.llm.text import tokens
    from realtime0523_spark.operators.sketches import cms_topk

    docs = Catalog(spark, SF_SMOKE).table("documents")
    toks = docs.select(F.explode(tokens("text")).alias("tok"))
    cms_top = {r.tok for r in cms_topk(toks, "tok", 20).collect()}
    exact_top = {
        r.tok
        for r in toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "tok")
        .limit(20)
        .collect()
    }
    assert len(cms_top & exact_top) >= 15, cms_top ^ exact_top


def test_salted_join_equals_plain_join(spark):
    """Result equivalence on a deliberately skewed key (one key holds
    half the rows) for inner and left joins — the contract that makes
    the salted rewrite safe to drop into any plan."""
    from realtime0523_spark.operators.joins import salted_join

    left = spark.createDataFrame(
        [(1 if i % 2 == 0 else i % 50, f"p{i}") for i in range(2000)],
        "k long, payload string",
    )
    right = spark.createDataFrame(
        [(i, f"dim{i}") for i in range(40)], "k long, dim string"
    )

    for how in ("inner", "left"):
        plain = {
            (r.k, r.payload, r.dim)
            for r in left.join(right, "k", how).collect()
        }
        salted = {
            (r.k, r.payload, r.dim)
            for r in salted_join(left, right, "k", buckets=8, how=how).collect()
        }
        assert salted == plain, how


def test_salted_join_refuses_right_and_full_outer(spark):
    """ADVICE r5: right/full outer would emit each unmatched right row
    `buckets` times under the replication rewrite — the operator must
    refuse, not silently multiply rows."""
    import pytest

    from realtime0523_spark.operators.joins import salted_join

    left = spark.createDataFrame([(1, "a")], "k long, payload string")
    right = spark.createDataFrame([(2, "d")], "k long, dim string")
    for how in ("right", "full", "full_outer", "rightouter"):
        with pytest.raises(ValueError, match="replication"):
            salted_join(left, right, "k", buckets=4, how=how)
    # the safe set still passes validation
    for how in ("inner", "left", "left_semi", "left_anti"):
        salted_join(left, right, "k", buckets=4, how=how)


# --- Z-order layout (operators/layout.py) -----------------------------


def test_morton_interleave_matches_reference_bits(spark):
    from pyspark.sql import functions as F

    from realtime0523_spark.operators.layout import morton_interleave

    def ref(x, y, bits=16):
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    cases = [(0, 0), (1, 0), (0, 1), (5, 3), (65535, 65535), (12345, 54321)]
    df = spark.createDataFrame(cases, "x long, y long").withColumn(
        "z", morton_interleave(F.col("x"), F.col("y"))
    )
    got = {(r.x, r.y): r.z for r in df.collect()}
    for x, y in cases:
        assert got[(x, y)] == ref(x, y), (x, y)


def test_zorder_boxes_are_tight_rectangles(spark):
    """The point of z-clustering: each top-prefix z-range covers a
    bounded rectangle — for prefix_bits=4 on 8-bit keys, each of the
    16 buckets spans at most a 64×64 box of the 256×256 key space
    (vs. the full x- or y-range a single-column sort would leave)."""
    from pyspark.sql import functions as F

    from realtime0523_spark.operators.layout import zorder_boxes

    rows = [(x, y) for x in range(0, 256, 7) for y in range(0, 256, 11)]
    df = spark.createDataFrame(rows, "x long, y long")
    boxes = zorder_boxes(df, F.col("x"), F.col("y"), bits=8, prefix_bits=4).collect()
    assert sum(r.n_rows for r in boxes) == len(rows)
    for r in boxes:
        assert r.x_max - r.x_min <= 63, r
        assert r.y_max - r.y_min <= 63, r


def test_pruning_report_y_filter_favors_zorder(spark):
    """On a uniform 2-D grid, a y-only range predicate forces the
    x-sorted layout to read EVERY file (each x-file spans the full
    y-range) while the z-layout reads only the rectangle cover; row
    accounting stays exact against the grid density."""
    from pyspark.sql import functions as F

    from realtime0523_spark.operators.layout import pruning_report

    rows = [(x, y) for x in range(0, 256, 4) for y in range(0, 256, 4)]
    df = spark.createDataFrame(rows, "x long, y long")
    rep = {
        (r.pred_id, r.layout): r
        for r in pruning_report(
            df, F.col("x"), F.col("y"),
            [(0, 255, 64, 79)],  # y-only band
            bits=8, prefix_bits=4,
        ).collect()
    }
    xs, zs = rep[(0, "xsorted")], rep[(0, "zorder")]
    assert xs.files_read == xs.files_total          # every x-file read
    assert zs.files_read < zs.files_total           # z prunes
    assert zs.rows_read < xs.rows_read
    # the z-files read must at least cover every qualifying row
    qualifying = sum(1 for x, y in rows if 64 <= y <= 79)
    assert zs.rows_read >= qualifying
    assert xs.rows_read == len(rows)


def test_pagerank_star_graph_center_wins(spark):
    """On a star (hub connected to k spokes, symmetric), the hub's
    rank strictly exceeds every spoke's, spokes tie exactly (integer
    arithmetic → bit-equal), and total mass stays within the
    documented floor-loss envelope of N·scale."""
    from realtime0523_spark.operators.graph import (
        PAGERANK_SCALE,
        pagerank_fixed_point,
    )

    spokes = list(range(2, 9))
    pairs = [(1, s) for s in spokes] + [(s, 1) for s in spokes]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    ranks = {r.node: r.rank_fp for r in pagerank_fixed_point(edges).collect()}
    assert all(ranks[1] > ranks[s] for s in spokes)
    assert len({ranks[s] for s in spokes}) == 1
    total = sum(ranks.values())
    n = len(spokes) + 1
    assert total <= n * PAGERANK_SCALE
    # floor loss ≤ ~1 unit per integer division per node per round
    assert total >= n * PAGERANK_SCALE - 1000


def test_pagerank_matches_float_reference(spark):
    """The fixed-point iteration tracks a plain float power iteration
    to ~1e-9 relative — the quantization is resolution, not bias."""
    from realtime0523_spark.operators.graph import (
        PAGERANK_DAMPING_PCT,
        PAGERANK_ITERS,
        PAGERANK_SCALE,
        pagerank_fixed_point,
    )

    pairs = [(1, 2), (2, 1), (2, 3), (3, 2), (3, 4), (4, 3), (4, 1), (1, 4), (1, 3), (3, 1)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    got = {r.node: r.rank_fp for r in pagerank_fixed_point(edges).collect()}

    nodes = sorted(got)
    out = {u: sum(1 for a, _ in pairs if a == u) for u in nodes}
    d = PAGERANK_DAMPING_PCT / 100.0
    r = {u: 1.0 for u in nodes}
    for _ in range(PAGERANK_ITERS):
        contrib = {u: 0.0 for u in nodes}
        for a, b in pairs:
            contrib[b] += r[a] / out[a]
        r = {u: (1 - d) + d * contrib[u] for u in nodes}
    for u in nodes:
        assert abs(got[u] / PAGERANK_SCALE - r[u]) < 1e-9, (u, got[u], r[u])


def test_pagerank_refuses_dangling_nodes(spark):
    import pytest

    from realtime0523_spark.operators.graph import pagerank_fixed_point

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")  # 2 dangles
    with pytest.raises(ValueError, match="dangling"):
        pagerank_fixed_point(edges)


def test_copurchase_edges_symmetric_distinct(spark):
    from realtime0523_spark.operators.graph import copurchase_edges

    li = spark.createDataFrame(
        [(10, 1), (10, 2), (10, 2), (11, 2), (11, 3)],
        "l_orderkey long, l_partkey long",
    )
    got = {(r.src, r.dst) for r in copurchase_edges(li).collect()}
    assert got == {(1, 2), (2, 1), (2, 3), (3, 2)}


def test_global_positions_matches_global_window(spark):
    """Exact equivalence with row_number() OVER (ORDER BY ...) — on a
    multi-partition frame with a forced partition count, positions are
    a gapless 1..N permutation in key order."""
    from pyspark.sql import Window as W

    from realtime0523_spark.operators.layout import global_positions

    rows = [(i, (i * 37) % 101) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, k long").repartition(13)
    got = {
        r.id: r.global_pos
        for r in global_positions(df, ["k", "id"], num_partitions=5).collect()
    }
    want = {
        r.id: r.rn
        for r in df.withColumn(
            "rn", F.row_number().over(W.orderBy("k", "id"))
        ).collect()
    }
    assert got == want
    assert sorted(got.values()) == list(range(1, 501))


def test_prefix_sums_matches_global_window(spark):
    """Exclusive prefix sums by range exchange must equal
    sum() OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING) - current, on a
    multi-partition frame, and the returned total must be the sum."""
    from pyspark.sql import Window as W

    from realtime0523_spark.operators.histogram import prefix_sums

    rows = [((i * 37) % 101, i % 7 + 1) for i in range(300)]
    df = (
        spark.createDataFrame(rows, "k long, w long")
        .groupBy("k")
        .agg(F.sum("w").alias("w"))
        .repartition(9)
    )
    got_df, total = prefix_sums(df, [F.col("k")], "w", num_partitions=5)
    got = {r.k: r.cum_before for r in got_df.collect()}
    want = {
        r.k: r.c
        for r in df.withColumn(
            "c",
            F.sum("w").over(
                W.orderBy("k").rowsBetween(W.unboundedPreceding, W.currentRow)
            )
            - F.col("w"),
        ).collect()
    }
    assert got == want
    assert total == sum(w for _, w in rows)


def test_equidepth_histogram_depth_and_skew(spark):
    """Uniform values split into near-equal buckets; a heavy hitter
    stays value-atomic (one overfilled bucket, surfaced not split),
    and bucket stats partition the input exactly."""
    from realtime0523_spark.operators.histogram import equidepth_histogram

    # 400 uniform distinct values -> 4 buckets of exactly 100 rows
    uni = spark.createDataFrame([(float(i),) for i in range(400)], "v double")
    h = {
        r.bucket: (r.lo, r.hi, r.n_rows, r.n_distinct)
        for r in equidepth_histogram(uni, F.col("v"), k=4).collect()
    }
    assert sorted(h) == [0, 1, 2, 3]
    assert all(h[b][2] == 100 and h[b][3] == 100 for b in h)
    assert h[0][:2] == (0.0, 99.0) and h[3][:2] == (300.0, 399.0)

    # heavy hitter: value 5.0 is half the mass -> lands whole in one
    # bucket; totals still partition the input
    rows = [(5.0,)] * 500 + [(float(i),) for i in range(500)]
    skew = spark.createDataFrame(rows, "v double")
    hs = equidepth_histogram(skew, F.col("v"), k=4).collect()
    assert sum(r.n_rows for r in hs) == 1000
    assert sum(r.n_distinct for r in hs) == 500
    big = [r for r in hs if r.lo <= 5.0 <= r.hi]
    assert len(big) == 1 and big[0].n_rows >= 500


def test_corpus_drift_zero_on_identical_and_positive_on_shifted(spark):
    from realtime0523_spark.llm.pipeline import corpus_drift

    a = spark.createDataFrame(
        [(1, "alpha beta gamma delta", "s1"), (2, "epsilon zeta eta", "s1"),
         (3, "one two three four five", "s2")],
        "doc_id long, text string, source string",
    )
    same = {r.domain: r for r in corpus_drift(a, a).collect()}
    assert all(r.kl_ab == 0.0 and r.kl_ba == 0.0 for r in same.values())

    b = spark.createDataFrame(
        [(10, "totally different words now here", "s1")],
        "doc_id long, text string, source string",
    )
    out = {r.domain: r for r in corpus_drift(a, b).collect()}
    assert out["s1"].kl_ab > 0 and out["s1"].kl_ba > 0
    # s2 absent from B: degrades to uniform smoothing, still finite
    assert out["s2"].n_terms_b == 0 and out["s2"].kl_ab > 0


def test_rule_report_semantics_on_dirty_data(spark):
    """NULL predicate counts as a violation; uniqueness counts every
    copy of a duplicated key; FK counts orphan child rows."""
    import pytest

    from realtime0523_spark.operators.validate import (
        fk_report,
        rule_report,
        uniqueness_report,
    )

    df = spark.createDataFrame(
        [(1, 10.0), (2, -3.0), (3, None), (3, 5.0)],
        "k long, v double",
    )
    r = {x.rule: x for x in rule_report(df, {"v_positive": F.col("v") > 0}).collect()}
    # -3 violates; NULL is a violation too (three-valued logic closed)
    assert r["v_positive"].n_rows == 4 and r["v_positive"].n_violations == 2
    assert r["v_positive"].violation_rate == 0.5

    u = uniqueness_report(df, ["k"], "k_unique").collect()[0]
    assert u.n_rows == 4 and u.n_violations == 2  # both k=3 copies count

    parent = spark.createDataFrame([(1,), (2,)], "pk long")
    f = fk_report(df, "k", parent, "pk", "fk").collect()[0]
    assert f.n_rows == 4 and f.n_violations == 2  # the two k=3 orphans

    with pytest.raises(ValueError, match="at least one rule"):
        rule_report(df, {})


def test_personalized_pagerank_concentrates_near_seeds(spark):
    """Path graph 1-2-3-4-5 with seed {1}: the fixed-point PPR must
    match the float personalized power iteration to 1e-9 relative
    (finite-round wave effects and the degree-1-seed quirk included),
    and mass must concentrate on the seed's side of the path."""
    from realtime0523_spark.operators.graph import (
        PAGERANK_DAMPING_PCT,
        PAGERANK_ITERS,
        PAGERANK_SCALE,
        pagerank_fixed_point,
    )

    pairs = [(i, i + 1) for i in range(1, 5)]
    sym = pairs + [(b, a) for a, b in pairs]
    edges = spark.createDataFrame(sym, "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "node long")
    r = {x.node: x.rank_fp for x in pagerank_fixed_point(edges, seeds=seeds).collect()}

    nodes = sorted(r)
    out = {u: sum(1 for a, _ in sym if a == u) for u in nodes}
    d = PAGERANK_DAMPING_PCT / 100.0
    ref = {u: (1.0 if u == 1 else 0.0) for u in nodes}
    for _ in range(PAGERANK_ITERS):
        contrib = {u: 0.0 for u in nodes}
        for a, b in sym:
            contrib[b] += ref[a] / out[a]
        ref = {u: ((1 - d) if u == 1 else 0.0) + d * contrib[u] for u in nodes}
    for u in nodes:
        assert abs(r[u] / PAGERANK_SCALE - ref[u]) < 1e-9, (u, r[u], ref[u])
    assert r[1] + r[2] + r[3] > r[4] + r[5]
    assert r[5] > 0  # far mass is nonzero, via flow only
    # uniform (seeds=None) must NOT equal the personalized ranking
    u = {x.node: x.rank_fp for x in pagerank_fixed_point(edges).collect()}
    assert sorted(u, key=u.get) != sorted(r, key=r.get)


def test_global_positions_empty_and_trending_empty_guard(spark):
    """Degenerate inputs: an empty frame yields an empty ranked frame
    (not a crash in the offset pass), and the decayed-trending query
    guard returns a contract-schema empty frame on an empty table."""
    from realtime0523_spark.operators.layout import global_positions

    empty = spark.createDataFrame([], "id long, k long")
    assert global_positions(empty, ["k", "id"]).count() == 0


def test_triangle_counts_k4_and_path(spark):
    """K4: every node sits on C(3,2)=3 triangles with clustering 1;
    a path has zero triangles; counts are exact and include zeros."""
    from realtime0523_spark.operators.graph import triangle_counts

    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a != b]
    out = {r.node: r for r in triangle_counts(
        spark.createDataFrame(k4, "src long, dst long")).collect()}
    assert all(out[n].n_triangles == 3 and out[n].degree == 3 for n in range(1, 5))

    path = [(1, 2), (2, 1), (2, 3), (3, 2)]
    out2 = {r.node: r.n_triangles for r in triangle_counts(
        spark.createDataFrame(path, "src long, dst long")).collect()}
    assert out2 == {1: 0, 2: 0, 3: 0}


def test_triangle_counts_counts_each_triangle_once(spark):
    """A triangle plus a pendant edge: exactly one triangle, shared by
    its three corners; the pendant node has zero."""
    from realtime0523_spark.operators.graph import triangle_counts

    pairs = [(1, 2), (2, 3), (1, 3), (3, 4)]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src long, dst long"
    )
    out = {r.node: r.n_triangles for r in triangle_counts(edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 0}


def test_kcore_peels_to_maximal_subgraph(spark):
    """A 4-clique with pendant chains: the 3-core is exactly the
    clique (every pendant peels, including CASCADING peels along the
    chain); core degrees are the in-core degrees. A too-high k
    returns the empty frame, not an error."""
    from realtime0523_spark.operators.graph import kcore

    clique = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    chain = [(4, 5), (5, 6), (6, 7)]  # peels over several rounds
    edges = spark.createDataFrame(clique + chain, "src long, dst long")
    out = {r.node: r.core_degree for r in kcore(edges, 3).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}
    assert kcore(edges, 10).count() == 0


def test_kcore_fixed_rounds_matches_fixpoint_on_fixture(spark):
    """The registered query runs EXACTLY KCORE_ROUNDS peels; the
    fixture must CONVERGE within them (the documented contract) —
    running rounds+1 must change nothing."""
    from pyspark.sql import functions as F

    from realtime0523_spark.core.catalog import Catalog
    from realtime0523_spark.operators.graph import kcore
    from realtime0523_spark.plans.inventory import KCORE_K, KCORE_ROUNDS
    from tests.conftest import SF_ORACLE

    li = Catalog(spark, SF_ORACLE).table("lineitem")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("src"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("dst"))
    pairs = a.join(b, "ok").filter(F.col("src") < F.col("dst")).select("src", "dst")
    at_r = sorted(map(tuple, kcore(pairs, KCORE_K, rounds=KCORE_ROUNDS).collect()))
    at_r1 = sorted(map(tuple, kcore(pairs, KCORE_K, rounds=KCORE_ROUNDS + 1).collect()))
    assert at_r == at_r1 and len(at_r) > 0


def test_attribute_linear_exact_sum_and_remainder(spark):
    """The exact-sum money contract: per conversion, credits sum to
    the conversion's cents EXACTLY; the remainder lands on the
    LATEST touch (ties to the largest id); out-of-window and
    after-conversion touches get nothing."""
    from pyspark.sql import functions as F

    from realtime0523_spark.operators.allocation import attribute_linear

    conv = spark.createDataFrame(
        [(1, 10, 1000, 1004)],  # user 1, conv 10, ts 1000, 10.04
        "user_id long, conv_id long, conv_ts_us long, value_cents long",
    )
    touches = spark.createDataFrame(
        [
            (1, 100, 400),   # in window
            (1, 101, 900),   # in window, latest -> remainder
            (1, 102, 1500),  # AFTER the conversion -> excluded
            (1, 103, 1),     # before the window -> excluded
            (2, 104, 950),   # other user -> excluded
        ],
        "user_id long, touch_id long, touch_ts_us long",
    )
    out = {
        r.touch_id: (r.n_touches, r.credit_cents)
        for r in attribute_linear(
            conv, touches, "user_id", window_us=999
        ).collect()
    }
    assert out == {100: (2, 502), 101: (2, 502)}
    # odd split: 1005 across 2 -> 502 + 503, remainder on touch 101
    conv2 = spark.createDataFrame(
        [(1, 11, 1000, 1005)],
        "user_id long, conv_id long, conv_ts_us long, value_cents long",
    )
    out2 = {
        r.touch_id: r.credit_cents
        for r in attribute_linear(
            conv2, touches, "user_id", window_us=999
        ).collect()
    }
    assert out2 == {100: 502, 101: 503}


def test_purchase_attribution_sums_exactly_on_fixture(spark):
    """Fixture-wide invariant: for every attributed purchase the
    credit cents sum to the purchase's rounded cents exactly."""
    from pyspark.sql import functions as F

    from realtime0523_spark.core.catalog import Catalog
    from realtime0523_spark.plans import REGISTRY
    from tests.conftest import SF_SMOKE

    detail = REGISTRY["purchase_attribution"].fn(spark, SF_SMOKE)
    sums = detail.groupBy("conv_id").agg(
        F.sum("credit_cents").alias("got")
    )
    ev = Catalog(spark, SF_SMOKE).table("events")
    cents = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("want"),
    )
    bad = sums.join(cents, "conv_id").filter(F.col("got") != F.col("want"))
    assert bad.count() == 0
    assert sums.count() > 0


class TestRecordLinkage:
    def test_blocking_scoring_and_false_negative_tier(self, spark):
        """True twins link when the balance corroborates; the
        scrambled-balance twin is a deliberate miss (name alone does
        not clear the threshold); unrelated records sharing a block
        never link."""
        from realtime0523_spark.operators.linkage import (
            dirty_twin,
            link_candidates,
        )

        cust = spark.createDataFrame(
            [
                # %4==1, %8!=1: clean twin -> links
                (5, "Customer#000000005", 3, 100.00, "AUTO"),
                # %16==9: scrambled balance -> candidate but NO link
                (9, "Customer#000000009", 3, 200.00, "AUTO"),
                # %8==1 (and %16!=9): one-cent typo -> still links
                (17, "Customer#000000017", 3, 300.00, "AUTO"),
                # not %4==1: no twin at all
                (6, "Customer#000000006", 3, 400.00, "AUTO"),
                # same nation, same last-4 tail as nobody: no pairs
                (7, "Customer#000000007", 9, 100.00, "BUILDING"),
            ],
            "c_custkey long, c_name string, c_nationkey int, "
            "c_acctbal double, c_mktsegment string",
        )
        base = cust.select(
            F.col("c_custkey").alias("rec_key"),
            F.col("c_name").alias("name"),
            F.col("c_nationkey").alias("nationkey"),
            F.col("c_acctbal").alias("acctbal"),
            F.col("c_mktsegment").alias("mktsegment"),
        )
        twin = dirty_twin(cust).withColumnRenamed("origin_key", "rec_key")
        assert twin.count() == 3  # keys 5, 9, 17
        rows = {
            (r.left_key, r.right_key): (r.score, r.is_link)
            for r in link_candidates(base, twin).collect()
        }
        assert rows[(5, 5)] == (40, True)    # name 24 + bal 16
        assert rows[(9, 9)] == (24, False)   # scrambled bal: honest miss
        assert rows[(17, 17)] == (40, True)  # 1-cent typo within tolerance
        assert all(k[0] == k[1] for k in rows)  # no cross-record pairs here


class TestRetraction:
    CL_SCHEMA = "grp string, op string, price_new double, price_old double"

    def _changelog(self, spark):
        # group a: 10.00 ins, corrected to 12.50, plus 5.00 ins
        # group b: 7.25 ins then cancelled  -> group drops out entirely
        # group c: 3.33 ins, 0.01 ins, 0.01 cancelled
        rows = [
            ("a", "insert", 10.00, None),
            ("a", "update", 12.50, 10.00),
            ("a", "insert", 5.00, None),
            ("b", "insert", 7.25, None),
            ("b", "delete", None, 7.25),
            ("c", "insert", 3.33, None),
            ("c", "insert", 0.01, None),
            ("c", "delete", None, 0.01),
        ]
        return spark.createDataFrame(rows, self.CL_SCHEMA)

    def test_retract_aggregate_equals_state_recompute(self, spark):
        from realtime0523_spark.operators.retraction import retract_aggregate

        got = {
            r["grp"]: (r["net_amount"], r["net_rows"])
            for r in retract_aggregate(self._changelog(spark), ["grp"]).collect()
        }
        # latest state: a -> {12.50, 5.00}, b -> {}, c -> {3.33}
        assert got == {"a": (17.50, 2), "c": (3.33, 1)}
        assert "b" not in got  # fully-cancelled group drops out

    def test_retract_aggregate_is_order_invariant(self, spark):
        from realtime0523_spark.operators.retraction import retract_aggregate

        cl = self._changelog(spark)
        reordered = cl.orderBy(F.desc("op"), F.desc("price_new"))
        a = sorted(map(tuple, retract_aggregate(cl, ["grp"]).collect()))
        b = sorted(map(tuple, retract_aggregate(reordered, ["grp"]).collect()))
        assert a == b

    def test_unknown_op_raises(self, spark):
        from realtime0523_spark.operators.retraction import retract_aggregate

        import pytest

        bad = spark.createDataFrame(
            [("a", "upsert", 1.0, None)], self.CL_SCHEMA
        )
        with pytest.raises(Exception, match="unknown changelog op"):
            retract_aggregate(bad, ["grp"]).collect()


    def test_retract_join_dim_delete_retracts_all_fact_rows(self, spark):
        """A dim-side delete must retract every live fact partner from
        the join result in one algebraic step — the insert-only
        pipeline's unfixable case."""
        from realtime0523_spark.operators.retraction import (
            retract_join_aggregate,
        )

        fact_rows = [
            (1, "insert", 10.00, None),
            (1, "insert", 5.00, None),
            (1, "update", 6.00, 5.00),   # k1 live: {10.00, 6.00}
            (2, "insert", 7.00, None),   # k2 live: {7.00}
            (3, "insert", 1.00, None),
            (3, "delete", None, 1.00),   # k3 live: {}
        ]
        dim_rows = [
            (1, "n1", "insert", 100.00, None),
            (2, "n1", "insert", 200.00, None),
            (2, "n1", "delete", None, 200.00),  # k2 dim closed
            (3, "n2", "insert", 300.00, None),
        ]
        fact = spark.createDataFrame(
            fact_rows, "k long, op string, price_new double, price_old double"
        )
        dim = spark.createDataFrame(
            dim_rows,
            "k long, attr string, op string, price_new double, "
            "price_old double",
        )
        got = {
            r["attr"]: (r["n_pairs"], r["fact_amount"], r["dim_amount"])
            for r in retract_join_aggregate(
                fact, dim, ["k"], ["attr"]
            ).collect()
        }
        # live join: only k1 survives (k2's dim deleted, k3's facts
        # deleted) -> 2 pairs, fact sum 16.00, dim 100.00 counted per pair
        assert got == {"n1": (2, 16.00, 200.00)}

    def test_retract_join3_either_dim_delete_retracts_triples(self, spark):
        """Snowflake form: a fact row survives only while BOTH its
        dims are live — deleting the part or the supplier retracts
        the triple algebraically."""
        from realtime0523_spark.operators.retraction import (
            retract_join3_aggregate,
        )

        cl = "op string, price_new double, price_old double"
        fact = spark.createDataFrame(
            [
                (1, 10, "insert", 5.00, None),   # part 1 + supp 10: lives
                (1, 20, "insert", 7.00, None),   # supp 20 deleted below
                (2, 10, "insert", 9.00, None),   # part 2 deleted below
            ],
            f"pk long, sk long, {cl}",
        )
        parts = spark.createDataFrame(
            [
                (1, "b1", "insert", 100.00, None),
                (2, "b1", "insert", 200.00, None),
                (2, "b1", "delete", None, 200.00),
            ],
            f"pk long, brand string, {cl}",
        )
        supps = spark.createDataFrame(
            [
                (10, "insert", 1.00, None),
                (20, "insert", 2.00, None),
                (20, "delete", None, 2.00),
            ],
            f"sk long, {cl}",
        )
        got = {
            r["brand"]: (r["n_triples"], r["fact_amount"], r["dim_a_amount"])
            for r in retract_join3_aggregate(
                fact, parts, supps, "pk", "sk", ["brand"]
            ).collect()
        }
        # only (part 1, supp 10) survives -> 1 triple, 5.00, part 100.00
        assert got == {"b1": (1, 5.00, 100.00)}

    def test_retract_minmax_deleted_extreme_recovers_runner_up(self, spark):
        """The case a scalar accumulator cannot handle: delete the
        current max → the support table recovers the runner-up."""
        from realtime0523_spark.operators.retraction import retract_minmax

        rows = [
            ("a", "insert", 10.00, None),
            ("a", "insert", 99.99, None),   # the max...
            ("a", "insert", 0.50, None),    # the min...
            ("a", "delete", None, 99.99),   # ...max retired
            ("a", "update", 7.00, 0.50),    # ...min revised upward
        ]
        out = retract_minmax(
            spark.createDataFrame(rows, self.CL_SCHEMA), ["grp"]
        ).collect()
        assert len(out) == 1
        r = out[0]
        # live state: {10.00, 7.00}
        assert (r["min_price"], r["max_price"], r["net_rows"]) == (7.00, 10.00, 2)

    def test_retract_minmax_duplicate_values_need_multiplicity(self, spark):
        """Two live rows share the max value; deleting ONE of them must
        keep the max (multiplicity 2 → 1, still > 0) — the bug a
        set-based (rather than multiset) support table would have."""
        from realtime0523_spark.operators.retraction import retract_minmax

        rows = [
            ("a", "insert", 5.00, None),
            ("a", "insert", 5.00, None),
            ("a", "insert", 1.00, None),
            ("a", "delete", None, 5.00),
        ]
        r = retract_minmax(
            spark.createDataFrame(rows, self.CL_SCHEMA), ["grp"]
        ).collect()[0]
        assert (r["min_price"], r["max_price"], r["net_rows"]) == (1.00, 5.00, 2)


class TestKMV:
    def test_exhaustive_segments_are_exact(self, spark):
        """Segments under k distinct members carry full membership:
        the estimates ARE the exact counts."""
        from realtime0523_spark.operators.kmv import kmv_overlap, kmv_sketch

        rows = [("a", i) for i in range(10)] + [("b", i) for i in range(5, 20)]
        df = spark.createDataFrame(rows * 3, "seg string, uid long")  # dups too
        out = kmv_overlap(kmv_sketch(df, "seg", "uid", k=64), k=64).collect()[0]
        # |a|=10, |b|=15, |a∪b|=20, |a∩b|=5
        assert out["ku"] == 20
        assert out["union_est"] == 20.0
        assert out["jaccard_est"] == 0.25
        assert out["inter_est"] == 5.0

    def test_estimator_accuracy_on_large_overlap(self, spark):
        """1000 vs 1000 with 500 shared, k=64: KMV error is ~1/sqrt(k)
        (~12.5% stderr); assert the loose 3-sigma envelope."""
        from realtime0523_spark.operators.kmv import kmv_overlap, kmv_sketch

        rows = [("a", i) for i in range(1000)] + [
            ("b", i) for i in range(500, 1500)
        ]
        df = spark.createDataFrame(rows, "seg string, uid long")
        out = kmv_overlap(kmv_sketch(df, "seg", "uid", k=64), k=64).collect()[0]
        assert abs(out["union_est"] - 1500) / 1500 < 0.4
        assert abs(out["jaccard_est"] - 1 / 3) < 0.2
        assert abs(out["inter_est"] - 500) / 500 < 0.6

    def test_sketch_bounded_at_k_per_segment(self, spark):
        from realtime0523_spark.operators.kmv import kmv_sketch

        rows = [("a", i) for i in range(5000)]
        df = spark.createDataFrame(rows, "seg string, uid long").repartition(8)
        sk = kmv_sketch(df, "seg", "uid", k=32)
        assert sk.count() == 32
        # and it is exactly the 32 globally-smallest hashes, partition
        # layout notwithstanding (partial k-mins lose nothing)
        from realtime0523_spark.operators.kmv import kmv_hash
        want = sorted(
            r["h"]
            for r in df.select(
                kmv_hash(F.col("uid").cast("string")).alias("h")
            ).distinct().collect()
        )[:32]
        got = sorted(r["v"] for r in sk.collect())
        assert got == want


class TestDDSketch:
    QS = [("p50", 1, 2), ("p95", 19, 20), ("p99", 99, 100)]

    def test_relative_error_contract_against_exact(self, spark):
        """Every estimate must sit within the DDSketch guarantee
        α = (γ−1)/(γ+1) of the exact quantile (same rank rule),
        on a long-tailed value set including zeros."""
        from realtime0523_spark.operators.ddsketch import (
            DD_GAMMA,
            dd_quantiles,
            dd_sketch,
        )

        vals = [0.0] * 5 + [((i * 7919) % 100003) / 100.0 for i in range(2000)]
        df = spark.createDataFrame(
            [("g", v) for v in vals], "grp string, value double"
        )
        est = {
            r.quantile: r.est_value
            for r in dd_quantiles(dd_sketch(df, "grp", "value"), self.QS).collect()
        }
        cents = sorted(round(v * 100) for v in vals)
        n = len(cents)
        alpha = (DD_GAMMA - 1) / (DD_GAMMA + 1)
        for label, num, den in self.QS:
            exact = cents[(n - 1) * num // den] / 100.0
            assert abs(est[label] - exact) <= alpha * exact + 0.01, (
                label, est[label], exact,
            )

    def test_negative_values_raise_not_clamp(self, spark):
        """The one-sided sketch must REFUSE negative values (round-8
        advice: they silently collapsed into the zero bucket and came
        back as estimate 0.0). Zero itself stays legal."""
        import pytest

        from realtime0523_spark.operators.ddsketch import dd_quantiles, dd_sketch

        bad = spark.createDataFrame(
            [("g", -1.25), ("g", 3.0)], "grp string, value double"
        )
        with pytest.raises(Exception, match="negative"):
            dd_sketch(bad, "grp", "value").collect()
        ok = spark.createDataFrame(
            [("g", 0.0), ("g", 3.0)], "grp string, value double"
        )
        assert dd_sketch(ok, "grp", "value").count() == 2

    def test_oracle_mirrors_negative_raise(self):
        """Twin contract over the FULL input domain (round-9 advice):
        the committed SQL oracles must also RAISE on a negative value
        — a clamped oracle beside a raising impl silently diverges the
        moment a feed carries one."""
        import duckdb
        import pytest

        from realtime0523_spark.plans.inventory import (
            _ddsketch_sql,
            _value_drift_sql,
        )

        con = duckdb.connect()
        con.execute(
            "CREATE VIEW events AS SELECT * FROM (VALUES "
            "('click', -1.25, TIMESTAMP '2024-01-05'), "
            "('click', 3.00, TIMESTAMP '2024-01-20')) "
            "t(event_type, value, ts)"
        )
        for sql in (_ddsketch_sql(), _value_drift_sql()):
            with pytest.raises(Exception, match="negative"):
                con.execute(sql).fetchall()
        con.execute("DROP VIEW events")
        con.execute(
            "CREATE VIEW events AS SELECT * FROM (VALUES "
            "('click', 0.00, TIMESTAMP '2024-01-05'), "
            "('click', 3.00, TIMESTAMP '2024-01-20')) "
            "t(event_type, value, ts)"
        )
        for sql in (_ddsketch_sql(), _value_drift_sql()):
            assert con.execute(sql).fetchall()  # zero stays legal

    def test_merged_partials_equal_one_pass(self, spark):
        """DDSketch merge is bucket-count addition: quantiles from the
        union of per-slice sketches must equal the one-pass answer
        bit-for-bit (the property the streaming twin rides on)."""
        from realtime0523_spark.operators.ddsketch import (
            dd_quantiles,
            dd_sketch,
        )

        rows = [("g", ((i * 31) % 997) / 10.0) for i in range(900)]
        df = spark.createDataFrame(rows, "grp string, value double")
        one = sorted(
            map(tuple, dd_quantiles(dd_sketch(df, "grp", "value"), self.QS).collect())
        )
        slices = [
            spark.createDataFrame(rows[i::3], "grp string, value double")
            for i in range(3)
        ]
        partials = slices[0].sparkSession.createDataFrame([], "grp string, bucket long, n long")
        for s in slices:
            partials = partials.unionAll(dd_sketch(s, "grp", "value"))
        merged = sorted(map(tuple, dd_quantiles(partials, self.QS).collect()))
        assert one == merged


class TestBootstrap:
    def test_ci_brackets_true_mean_and_is_deterministic(self, spark):
        """500 draws around 50.00: the 2.5/97.5 percentile interval
        must bracket the sample mean, sit within a few stderr of it,
        and reproduce bit-for-bit across runs (hash-seeded weights)."""
        from realtime0523_spark.operators.bootstrap import bootstrap_mean_ci

        rows = [("g", i, 50.0 + (i % 21) - 10) for i in range(500)]
        df = spark.createDataFrame(rows, "grp string, id long, value double")
        a = bootstrap_mean_ci(df, "grp", "id", "value").collect()[0]
        b = bootstrap_mean_ci(df, "grp", "id", "value").collect()[0]
        assert a == b
        assert a["n_rows"] == 500
        assert a["ci_lo"] < a["est_mean"] < a["ci_hi"]
        # sd of the 0..20 lattice is ~6.06; stderr ~0.27 — the 95% CI
        # width is ~3.9x stderr ≈ 1.06 plus bootstrap-of-32 noise
        assert a["ci_hi"] - a["ci_lo"] < 1.5

    def test_tiny_group_ci_clamped_never_null(self, spark):
        """A 1-row group has ~37% empty Poisson(1) resamples, so fewer
        than hi_rank=31 replicate means exist; the ranks must clamp to
        the actual count — ci_lo/ci_hi come back non-NULL and equal to
        the single value (every non-empty resample of one row has that
        mean). Round-8 advice: the unclamped rank silently NULLed
        ci_hi."""
        from realtime0523_spark.operators.bootstrap import bootstrap_mean_ci

        df = spark.createDataFrame(
            [("solo", 1, 42.0), ("big", 2, 10.0), ("big", 3, 20.0)],
            "grp string, id long, value double",
        )
        got = {r["grp"]: r for r in bootstrap_mean_ci(df, "grp", "id", "value").collect()}
        solo = got["solo"]
        assert solo["ci_lo"] is not None and solo["ci_hi"] is not None
        assert solo["ci_lo"] == solo["ci_hi"] == 42.0
        assert got["big"]["ci_lo"] is not None and got["big"]["ci_hi"] is not None

    def test_weights_are_poisson1_ish(self, spark):
        """Mean multiplicity over rows*reps must be ~1 and the zero
        fraction ~e^-1 (sanity on the inverse-CDF thresholds)."""
        from realtime0523_spark.operators.bootstrap import poisson1_weight

        df = spark.range(2000).select(
            F.col("id"),
            F.explode(F.sequence(F.lit(0), F.lit(7))).alias("rep"),
        )
        w = df.select(poisson1_weight(F.col("id"), F.col("rep")).alias("w"))
        stats = w.agg(
            F.avg("w").alias("m"), F.avg((F.col("w") == 0).cast("int")).alias("z")
        ).collect()[0]
        assert abs(stats["m"] - 1.0) < 0.03
        assert abs(stats["z"] - 0.36787944117144233) < 0.02


def test_bfs_hops_layers_on_a_path(spark):
    """Chain 1-2-3-4-5 with seed {1}: 2 rounds reach exactly
    {1:0, 2:1, 3:2}; nodes beyond the round horizon are absent (hop
    > R is unknowable from R rounds). A cross-edge cannot lower an
    already-assigned hop (min keeps first discovery)."""
    from realtime0523_spark.operators.graph import bfs_hops

    chain = [(1, 2), (2, 3), (3, 4), (4, 5)]
    edges = spark.createDataFrame(chain, "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "node long")
    out = {r.node: r.hop for r in bfs_hops(edges, seeds, 2).collect()}
    assert out == {1: 0, 2: 1, 3: 2}

    # triangle closes a shorter path: 1-3 edge makes hop(3)=1, and the
    # longer 1-2-3 route must not overwrite it
    tri = spark.createDataFrame(chain + [(1, 3)], "src long, dst long")
    out2 = {r.node: r.hop for r in bfs_hops(tri, seeds, 2).collect()}
    assert out2 == {1: 0, 2: 1, 3: 1, 4: 2}


def test_bfs_hops_multi_source_and_isolated_seed(spark):
    """Two seeds race toward the middle of a path — each node takes
    the NEARER seed's distance; a seed absent from the edge table
    still reports hop 0."""
    from realtime0523_spark.operators.graph import bfs_hops

    chain = [(1, 2), (2, 3), (3, 4), (4, 5)]
    edges = spark.createDataFrame(chain, "src long, dst long")
    seeds = spark.createDataFrame([(1,), (5,), (99,)], "node long")
    out = {r.node: r.hop for r in bfs_hops(edges, seeds, 3).collect()}
    assert out == {1: 0, 2: 1, 3: 2, 4: 1, 5: 0, 99: 0}


def test_association_rules_exact_metrics(spark):
    """Hand-checkable baskets: {A,B}, {A,B}, {A,C}, {B}, {D}.
    supp(A)=3, supp(B)=3, supp(AB)=2, N=5 →
    conf(A→B)=2/3, lift=2·5/(3·3)=10/9. Items/pairs below
    min_support=2 (C, D, AC) must produce no rules; duplicate
    (basket, item) rows must not inflate supports."""
    from realtime0523_spark.operators.association import association_rules

    rows = [
        (1, "A"), (1, "B"), (1, "B"),  # duplicate item row
        (2, "A"), (2, "B"),
        (3, "A"), (3, "C"),
        (4, "B"),
        (5, "D"),
    ]
    baskets = spark.createDataFrame(rows, "basket_id long, item string")
    out = {
        (r.antecedent, r.consequent): r
        for r in association_rules(baskets, min_support=2).collect()
    }
    assert set(out) == {("A", "B"), ("B", "A")}
    ab = out[("A", "B")]
    assert ab.support_pairs == 2
    assert abs(ab.confidence - 2 / 3) < 1e-9
    assert abs(ab.lift - 10 / 9) < 1e-9
    # lift is symmetric; confidence is not
    ba = out[("B", "A")]
    assert abs(ba.confidence - 2 / 3) < 1e-9
    assert abs(ba.lift - ab.lift) < 1e-12


def test_resample_ffill_fills_gaps_with_last_observation(spark):
    """The registered query must emit an explicit row for every grid
    hour: gap hours carry n_events=0 and the LAST observed average;
    hours before a type's first observation stay NULL."""
    from realtime0523_spark.plans import REGISTRY

    df = REGISTRY["events_resample_ffill"].fn(spark, SF_SMOKE).toPandas()
    by_type = dict(tuple(df.groupby("event_type", sort=False)))
    assert all(len(g) == 720 for g in by_type.values())
    import pandas as pd

    for g in by_type.values():
        g = g.sort_values("hour").reset_index(drop=True)
        observed = g["avg_value"].notna()
        if not observed.any():
            continue
        first = observed.idxmax()
        # before first observation: nothing to carry
        assert g.loc[: first - 1, "filled_avg"].isna().all()
        # after: filled equals the most recent observed average
        expect = g["avg_value"].ffill()
        after = g.loc[first:]
        pd.testing.assert_series_equal(
            after["filled_avg"], expect.loc[first:], check_names=False
        )


class TestStatTests:
    def test_cusum_detects_injected_level_shift(self, spark):
        """A flat series (x=100) with a +50 step from t=20 on: the
        upward CUSUM must stay quiet before the shift, fire after it,
        and the downward side must never fire. The prefix identity
        must equal the textbook recursion C+_i = max(0, C+_{i-1}+d_i)
        computed in plain Python."""
        from realtime0523_spark.operators.stattests import cusum_series

        xs = [100] * 20 + [150] * 10
        rows = [("a", t, x) for t, x in enumerate(xs)]
        out = (
            cusum_series(spark.createDataFrame(rows, "k string, t long, x long"))
            .orderBy("t")
            .collect()
        )
        n, tot = len(xs), sum(xs)
        c_up, c_dn, exp_up, exp_dn = 0, 0, [], []
        for x in xs:
            d = n * x - tot
            c_up = max(0, c_up + d)
            c_dn = max(0, c_dn - d)
            exp_up.append(c_up)
            exp_dn.append(c_dn)
        assert [r.cusum_up for r in out] == exp_up
        assert [r.cusum_dn for r in out] == exp_dn
        # alarms are exactly cusum > 1x total in both engines' units
        assert [r.alarm_up for r in out] == [c > tot for c in exp_up]
        assert [r.alarm_dn for r in out] == [c > tot for c in exp_dn]
        # the post-shift (above-mean) run fires the upward side, and
        # only there; the downward side fires during the PRE-shift
        # below-mean run — the two-sided signature of a level shift
        # under a retrospective global-mean target
        assert any(r.alarm_up for r in out if r.t >= 20)
        assert not any(r.alarm_up for r in out if r.t < 20)
        assert any(r.alarm_dn for r in out if r.t < 20)

    def test_cusum_downward_shift_fires_other_side(self, spark):
        from realtime0523_spark.operators.stattests import cusum_series

        xs = [100] * 20 + [40] * 10
        rows = [("a", t, x) for t, x in enumerate(xs)]
        out = cusum_series(
            spark.createDataFrame(rows, "k string, t long, x long")
        ).collect()
        # the below-mean post-shift run fires the downward side
        assert any(r.alarm_dn for r in out if r.t >= 20)
        assert not any(r.alarm_dn for r in out if r.t < 7)

    def test_ks_hand_example_exact(self, spark):
        """Samples A={1,2,3}, B={3,4,5}: D = max|F1-F2| = 2/3 at v=2
        (F1=2/3, F2=0). ks_num must be the exact integer
        |cum1*n2 - cum2*n1| = 6."""
        from realtime0523_spark.operators.stattests import ks_2sample

        cells = spark.createDataFrame(
            [("t", 1, 1, 0), ("t", 2, 1, 0), ("t", 3, 1, 1),
             ("t", 4, 0, 1), ("t", 5, 0, 1)],
            "key string, v long, c1 long, c2 long",
        )
        r = ks_2sample(cells).collect()[0]
        assert (r.n_a, r.n_b, r.ks_num) == (3, 3, 6)
        assert abs(r.ks_d - 2 / 3) < 1e-9
        # identical samples: D = 0, not drifted
        same = spark.createDataFrame(
            [("t", 1, 2, 2), ("t", 2, 3, 3)],
            "key string, v long, c1 long, c2 long",
        )
        r0 = ks_2sample(same).collect()[0]
        assert r0.ks_num == 0 and not r0.drifted

    def test_chi2_hand_contingency(self, spark):
        """2x2 table [[10, 20], [20, 10]]: chi2 = N*(ad-bc)^2 /
        (r1*r2*c1*c2) = 60*(100-400)^2/30^4 = 20/3. dof=1, and a
        zero-observed cell contributes its expected count."""
        from realtime0523_spark.operators.stattests import chi2_independence

        rows = (
            [("x", "p")] * 10 + [("x", "q")] * 20
            + [("y", "p")] * 20 + [("y", "q")] * 10
        )
        df = spark.createDataFrame(rows, "a string, b string")
        r = chi2_independence(df, "a", "b").collect()[0]
        assert r.dof == 1 and r.n_rows == 60
        assert abs(r.chi2 - 20 / 3) < 1e-6
        assert abs(r.cramers_v - (20 / 3 / 60) ** 0.5) < 1e-6
        # independence: uniform table -> chi2 = 0
        uni = spark.createDataFrame(
            [("x", "p")] * 5 + [("x", "q")] * 5
            + [("y", "p")] * 5 + [("y", "q")] * 5,
            "a string, b string",
        )
        assert chi2_independence(uni, "a", "b").collect()[0].chi2 == 0.0


class TestRfmAndRollingDau:
    def test_rfm_quintiles_are_exact_rank_buckets(self, spark):
        """Bucket sizes must follow the exact integer-division rank
        rule (rows_before * 5) div n — recompute the expected per-
        score population from the same total order in pandas and
        match exactly; every cell's label must follow the CASE."""
        import pandas as pd

        from realtime0523_spark.plans import REGISTRY

        out = REGISTRY["customers_rfm"].fn(spark, SF_SMOKE).toPandas()
        orders = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")
        orders["od"] = pd.to_datetime(orders["o_orderdate"]).dt.date
        anchor = orders["od"].max()
        cust = orders.groupby("o_custkey").agg(
            last=("od", "max"),
            freq=("od", "size"),
            mon=("o_totalprice", lambda s: int(sum(int(v * 100 + 0.5) for v in s))),
        )
        cust["r_days"] = [(anchor - d).days for d in cust["last"]]
        n = len(cust)

        def scores(metric, best_high):
            order = sorted(zip(cust[metric], cust.index))
            b = {ck: (i * 5) // n for i, (_, ck) in enumerate(order)}
            return {ck: (v + 1 if best_high else 5 - v) for ck, v in b.items()}

        r = scores("r_days", best_high=False)
        f = scores("freq", best_high=True)
        m = scores("mon", best_high=True)
        want = {}
        for ck in cust.index:
            key = (r[ck], f[ck], m[ck])
            cnt, cents = want.get(key, (0, 0))
            want[key] = (cnt + 1, cents + int(cust.loc[ck, "mon"]))
        got = {
            (row.r_score, row.f_score, row.m_score): (
                row.n_customers,
                row.total_cents,
            )
            for row in out.itertuples()
        }
        assert got == want
        for row in out.itertuples():
            rs, fs, ms = row.r_score, row.f_score, row.m_score
            if rs >= 4 and fs >= 4 and ms >= 4:
                lbl = "champion"
            elif fs >= 4:
                lbl = "loyal"
            elif ms >= 4:
                lbl = "big_spender"
            elif rs <= 2 and fs <= 2:
                lbl = "hibernating"
            elif rs <= 2:
                lbl = "at_risk"
            else:
                lbl = "regular"
            assert row.segment == lbl, row

    def test_rolling_dau_equals_window_replay(self, spark):
        """rolling_7d_dau(day) must equal the distinct-user count of
        the trailing 7-day window replayed in pandas, and dau must
        equal the plain per-day distinct; rolling >= dau always."""
        import datetime as dt

        import pandas as pd

        from realtime0523_spark.plans import REGISTRY

        out = (
            REGISTRY["events_rolling_dau"].fn(spark, SF_SMOKE)
            .toPandas()
            .set_index("day")
            .sort_index()
        )
        ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
        ev["d"] = pd.to_datetime(ev["ts"]).dt.date
        cells = ev[["user_id", "d"]].drop_duplicates()
        for day, row in out.iterrows():
            day = day if isinstance(day, dt.date) else day.date()
            lo = day - dt.timedelta(days=6)
            win = cells[(cells["d"] >= lo) & (cells["d"] <= day)]
            assert row["rolling_7d_dau"] == win["user_id"].nunique()
            assert row["dau"] == cells[cells["d"] == day]["user_id"].nunique()
            assert row["rolling_7d_dau"] >= row["dau"]


def test_rfm_migration_matrix_is_consistent(spark):
    """Matrix invariants: column sums over segment_to equal snapshot
    B's segment populations (every customer lands exactly once);
    'new' rows count exactly the customers absent from snapshot A;
    per-origin shares sum to 1."""
    import pandas as pd

    from realtime0523_spark.plans import REGISTRY

    mig = REGISTRY["customers_rfm_migration"].fn(spark, SF_SMOKE).toPandas()
    rfm = REGISTRY["customers_rfm"].fn(spark, SF_SMOKE).toPandas()
    to_pop = mig.groupby("segment_to")["n_customers"].sum()
    full_pop = rfm.groupby("segment")["n_customers"].sum()
    assert to_pop.sort_index().equals(full_pop.sort_index())
    orders = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")
    cutoff = pd.Timestamp("2000-12-31 23:59:59")
    pre = set(orders[orders["o_orderdate"] <= cutoff]["o_custkey"])
    allc = set(orders["o_custkey"])
    n_new = mig[mig["segment_from"] == "new"]["n_customers"].sum()
    assert n_new == len(allc - pre)
    shares = mig.groupby("segment_from")["share_of_from"].sum()
    assert ((shares - 1.0).abs() < 1e-6).all()


def test_graph_driver_paths_match_distributed(spark, monkeypatch):
    """Round-13: the gated driver-side iteration paths of pagerank
    (uniform + personalized), kcore and bfs_hops return tables
    identical to the distributed rounds (forced past the gate with
    SPARK_GRAFT_DRIVER_GATES=off), and the default gate takes the
    driver path with far fewer Spark jobs — the point of the gate."""
    import random

    from realtime0523_spark.operators.graph import (
        bfs_hops,
        kcore,
        pagerank_fixed_point,
    )

    random.seed(13)
    raw = {(random.randint(1, 60), random.randint(1, 60)) for _ in range(300)}
    both = sorted({(a, b) for a, b in raw if a != b}
                  | {(b, a) for a, b in raw if a != b})
    e = spark.createDataFrame(both, "src long, dst long")
    seeds = spark.createDataFrame([(1,), (7,), (999,)], "node long")
    sc = spark.sparkContext

    # max-id delta, not len(): the status tracker evicts old retained
    # jobs in long pytest sessions, which corrupts a length delta
    def last_job():
        ids = sc.statusTracker().getJobIdsForGroup(None)
        return max(ids) if ids else -1

    def both_paths(run):
        monkeypatch.setenv("SPARK_GRAFT_DRIVER_GATES", "on")
        j0 = last_job()
        drv = run()
        drv_jobs = last_job() - j0
        monkeypatch.setenv("SPARK_GRAFT_DRIVER_GATES", "off")
        j0 = last_job()
        dst = run()
        return drv, dst, drv_jobs, last_job() - j0

    pr_drv, pr_dst, drv_jobs, dst_jobs = both_paths(
        lambda: {r.node: r.rank_fp for r in pagerank_fixed_point(e).collect()})
    assert pr_drv == pr_dst and len(pr_drv) == 60
    assert drv_jobs < dst_jobs

    pp_drv, pp_dst, _, _ = both_paths(
        lambda: {r.node: r.rank_fp
                 for r in pagerank_fixed_point(e, seeds=seeds).collect()})
    assert pp_drv == pp_dst

    for k in (2, 3):
        for rounds in (None, 0, 1, 3):
            kd, kx, _, _ = both_paths(
                lambda: sorted(map(tuple, kcore(e, k, rounds=rounds).collect())))
            assert kd == kx, (k, rounds)

    for rounds in (0, 1, 2, 5):
        bd, bx, _, _ = both_paths(
            lambda: sorted(map(tuple, bfs_hops(e, seeds, rounds).collect())))
        assert bd == bx, rounds
    # the isolated seed appears at hop 0 on both paths
    assert (999, 0) in bd


def test_driver_gates_switch_read_at_call_time(spark, monkeypatch):
    """SPARK_GRAFT_DRIVER_GATES is read when the operator runs, not at
    import: setting it to off after the modules are imported sends
    every gate, the graph broadcast hint included, to its large-input
    path with the same result, and each decision is recorded with its
    measured count and threshold."""
    import pytest

    from realtime0523_spark.core import gates
    from realtime0523_spark.llm import clusters
    from realtime0523_spark.operators import graph

    calls: list = []

    def spy(module, name, record):
        fn = getattr(module, name)

        def wrapped(*args, **kwargs):
            calls.append(record(*args))
            return fn(*args, **kwargs)

        monkeypatch.setattr(module, name, wrapped)

    spy(graph, "_driver_pagerank", lambda *a: "pagerank-driver")
    spy(clusters, "_driver_union_find", lambda *a: "cc-driver")
    spy(graph, "_bcast", lambda df, small: f"broadcast={small}")
    tri = [(1, 2), (2, 3), (3, 1)]
    e = spark.createDataFrame(
        tri + [(b, a) for a, b in tri], "src long, dst long"
    )
    pairs = spark.createDataFrame(tri, "doc_a long, doc_b long")
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_GATES", raising=False)
    gates.drain()
    want_pr = {r.node: r.rank_fp for r in graph.pagerank_fixed_point(e).collect()}
    want_cc = sorted(map(tuple, clusters.connected_components(pairs).collect()))
    assert calls == ["pagerank-driver", "cc-driver"]
    assert gates.drain() == [
        ("graph_driver", 6, 500_000, "driver"),
        ("cc_driver", 3, 1_000_000, "driver"),
    ]
    calls.clear()
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_GATES", "off")
    got_pr = {r.node: r.rank_fp for r in graph.pagerank_fixed_point(e).collect()}
    got_cc = sorted(map(tuple, clusters.connected_components(pairs).collect()))
    assert got_pr == want_pr and got_cc == want_cc
    assert calls and set(calls) == {"broadcast=False"}
    assert gates.drain() == [
        ("graph_driver", 6, 500_000, "distributed"),
        ("graph_broadcast", 3, 2_000_000, "shuffle"),
        ("cc_driver", 3, 1_000_000, "distributed"),
    ]
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_GATES", "no")
    with pytest.raises(ValueError, match="on|off"):
        gates.small("cc_driver", 1)


def test_rfm_driver_scorer_matches_distributed(spark, monkeypatch):
    """Round-14 (VERDICT r13 item #3): the gated driver-side numpy RFM
    scorer is bit-identical to the distributed prefix_sums scorer —
    ties on each metric (broken by ck), n not divisible by the bucket
    count, and every segment branch exercised."""
    import datetime

    from realtime0523_spark.plans.inventory import _rfm_scores_from_metrics

    d0 = datetime.date(2001, 1, 1)
    rows = []
    # 23 customers (23 % 5 != 0); deliberate ties in last_day, freq
    # and mon across different ck values
    for i in range(23):
        rows.append(
            (
                1000 - i,  # ck descending: rank order != input order
                d0 + datetime.timedelta(days=(i * 7) % 11),
                (i % 4) + 1,
                ((i * 37) % 9) * 1000 + 50,
            )
        )
    cust = spark.createDataFrame(
        rows, "ck long, last_day date, freq long, mon long"
    )
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_GATES", "on")
    drv = sorted(map(tuple, _rfm_scores_from_metrics(cust).collect()))
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_GATES", "off")
    dst = sorted(map(tuple, _rfm_scores_from_metrics(cust).collect()))
    assert drv == dst
    assert len(drv) == 23
    # sanity: quintile scores span the full 1..5 range on 23 rows
    assert {r[2] for r in drv} == set(range(1, 6))


def test_equidepth_driver_matches_distributed(spark, monkeypatch):
    """Round-14: the gated driver-side equi-depth finisher is
    bit-identical to the distributed prefix_sums finisher — heavy
    hitters that overfill a bucket, ties, and totals not divisible by
    the bucket count."""
    from realtime0523_spark.operators.histogram import equidepth_histogram

    rows = [(float(i % 13),) for i in range(997)] + [(99.5,)] * 450
    df = spark.createDataFrame(rows, "x double")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_GATES", "on")
    drv = sorted(map(tuple, equidepth_histogram(df, F.col("x"), 7).collect()))
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_GATES", "off")
    dst = sorted(map(tuple, equidepth_histogram(df, F.col("x"), 7).collect()))
    assert drv == dst
    assert sum(r[3] for r in drv) == len(rows)
    # null values must take the distributed path (ordering semantics)
    dfn = spark.createDataFrame([(1.0,), (None,), (2.0,)], "x double")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_GATES", "on")
    drv_n = sorted(map(tuple, equidepth_histogram(dfn, F.col("x")).collect()))
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_GATES", "off")
    dst_n = sorted(map(tuple, equidepth_histogram(dfn, F.col("x")).collect()))
    assert drv_n == dst_n
