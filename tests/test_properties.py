"""Property-based invariants (SURVEY §5.3) — hypothesis generates the
inputs, Spark computes, plain Python is the oracle.

These cover the invariants that golden-output tests can't sweep:
 - F1 allocation: Σ shares == round2(total) for EVERY order shape, not
   just the fixtures' (SURVEY §2.10 invariant; reference
   scala/…/dws/OrderWiderApp.scala:148-199).
 - dedup-first: idempotent, minimal-per-key (D1/D2 semantics).
 - salted aggregation: identical answer to the plain groupBy it
   replaces (skew strategy must never change results).
 - as-of join: matches the brute-force per-probe lookup it replaces.
"""

from __future__ import annotations

import math

from hypothesis import HealthCheck, example, given, settings, strategies as st
from pyspark.sql import functions as F

from realtime0523_spark.operators.aggregates import salted_agg
from realtime0523_spark.operators.allocation import allocate_order_amount
from realtime0523_spark.operators.dedup import dedup_first_by_key
from realtime0523_spark.operators.joins import asof_join

PROP_SETTINGS = dict(
    max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)


def round2(x: float) -> float:
    return math.floor(x * 100.0 + 0.5) / 100.0


@st.composite
def order_batches(draw):
    """Orders with 1-6 details; cent-valued prices, a discount so the
    paid total is NOT the weight sum (the allocation must scale)."""
    rows = []
    for oid in range(draw(st.integers(1, 4))):
        n = draw(st.integers(1, 6))
        weights = [
            draw(st.integers(1, 10)) * draw(st.integers(1, 10_000)) / 100.0
            for _ in range(n)
        ]
        total = round2(sum(weights) * draw(st.integers(500, 1000)) / 1000.0)
        rows += [(oid, i, w, total) for i, w in enumerate(weights)]
    return rows


@given(order_batches())
@settings(**PROP_SETTINGS)
def test_allocation_exact_sum_invariant(spark, rows):
    df = spark.createDataFrame(
        rows, "order_id long, detail_id long, weight double, total double"
    )
    out = allocate_order_amount(
        df, "order_id", ["detail_id"], "weight", "total",
    ).collect()
    by_order: dict[int, list] = {}
    for r in out:
        by_order.setdefault(r.order_id, []).append(r)
    for oid, details in by_order.items():
        details.sort(key=lambda r: r.detail_id)
        total = details[0].total
        # every share is a whole number of cents
        for r in details:
            assert abs(r.final_detail_amount * 100 - round(r.final_detail_amount * 100)) < 1e-6
        # non-last rows carry the rounded proportional share
        wsum = sum(r.weight for r in details)
        for r in details[:-1]:
            assert abs(r.final_detail_amount - round2(total * r.weight / wsum)) < 1e-9
        # the invariant: shares sum exactly to the paid total
        assert abs(sum(r.final_detail_amount for r in details) - round2(total)) < 1e-6


@given(
    st.lists(
        st.tuples(st.integers(0, 4), st.integers(0, 50), st.integers(0, 1000)),
        min_size=1,
        max_size=40,
    )
)
@settings(**PROP_SETTINGS)
def test_dedup_first_idempotent_and_minimal(spark, rows):
    df = spark.createDataFrame(rows, "k long, ord long, payload long")
    once = dedup_first_by_key(df, ["k"], ["ord", "payload"])
    got = sorted(map(tuple, once.collect()))
    # minimal: exactly the lexicographic-min (ord, payload) row per key
    want = {}
    for k, o, p in rows:
        if k not in want or (o, p) < want[k]:
            want[k] = (o, p)
    assert got == sorted((k, o, p) for k, (o, p) in want.items())
    # idempotent: dedup of the deduped frame is a no-op
    twice = dedup_first_by_key(once, ["k"], ["ord", "payload"])
    assert sorted(map(tuple, twice.collect())) == got


@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(-1000, 1000)),
        min_size=1,
        max_size=60,
    ),
    st.integers(2, 8),
)
@settings(**PROP_SETTINGS)
def test_salted_agg_matches_plain_groupby(spark, rows, buckets):
    # integer-valued doubles: salted re-add order cannot change the sum
    df = spark.createDataFrame(
        [(k, float(v), i) for i, (k, v) in enumerate(rows)],
        "g long, v double, rid long",
    )
    got = sorted(
        map(
            tuple,
            salted_agg(
                df, keys=["g"], sum_cols=["v"], salt_from="rid", buckets=buckets
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            df.groupBy("g")
            .agg(F.sum("v").alias("sum_v"), F.count(F.lit(1)).alias("n"))
            .collect(),
        )
    )
    assert got == want


@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 30)), min_size=1, max_size=15
    ),
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 30)), min_size=0, max_size=15
    ),
)
@settings(**PROP_SETTINGS)
def test_asof_join_matches_bruteforce(spark, probes, refs):
    probe = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(probes)], "k long, pts long, pid long"
    )
    ref = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(refs)], "k long, rts long, v long"
    )
    got = {
        r.pid: r.v
        for r in asof_join(
            probe, ref, on="k", probe_ts="pts", ref_ts="rts",
            ref_cols=["v"], ref_order="v",
        ).collect()
    }
    for pid, (k, pts) in enumerate(probes):
        cands = [(rts, v) for j, (rk, rts) in enumerate(refs) if rk == k and rts <= pts for v in [j]]
        want = max(cands)[1] if cands else None
        assert got[pid] == want, (pid, k, pts, cands)


@given(
    st.lists(
        st.tuples(st.integers(0, 24), st.integers(0, 24)),
        min_size=0,
        max_size=40,
    )
)
@settings(**PROP_SETTINGS)
def test_connected_components_matches_union_find(spark, edges):
    """Label propagation must agree with a driver-side union-find on
    arbitrary small graphs (self-loops and duplicate edges included)."""
    from realtime0523_spark.llm.clusters import connected_components

    edges = [(a, b) for a, b in edges if a != b]
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {v: find(v) for v in parent}

    df = spark.createDataFrame(edges or [(0, 0)], "doc_a long, doc_b long")
    if not edges:
        df = df.filter("doc_a <> doc_b")  # empty frame, schema kept
    got = {
        r.doc_id: r.cluster_id for r in connected_components(df).collect()
    }
    assert got == expected


@st.composite
def doc_corpora(draw):
    """Tiny corpora across 1-4 domains with 0-8 whitespace tokens per
    doc (empty docs included — zero tokens must never consume budget)."""
    rows = []
    doc_id = 0
    for dom in range(draw(st.integers(1, 4))):
        for _ in range(draw(st.integers(1, 6))):
            n_tok = draw(st.integers(0, 8))
            rows.append((doc_id, f"d{dom}", " ".join(f"w{i}" for i in range(n_tok))))
            doc_id += 1
    return rows


@given(doc_corpora(), st.integers(1, 12))
@settings(**PROP_SETTINGS)
def test_token_budget_sample_pure_python_oracle(spark, rows, budget):
    """Membership must equal the brute-force Python replay: per domain,
    docs in (md5-bucket, id) order, kept while consumed < budget —
    for EVERY corpus shape, including empty docs and lone over-budget
    docs."""
    import hashlib

    from realtime0523_spark.llm.pipeline import BUCKETS, token_budget_sample

    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        r.doc_id: (r.n_tokens, r.cum_tokens)
        for r in token_budget_sample(df, {}, budget, salt="prop").collect()
    }

    def bucket(doc_id: int) -> int:
        h = hashlib.md5(f"{doc_id}:prop".encode()).hexdigest()
        return int(h[:8], 16) % BUCKETS

    want = {}
    by_dom: dict[str, list] = {}
    for doc_id, dom, text in rows:
        by_dom.setdefault(dom, []).append((doc_id, len(text.split())))
    for dom, docs in by_dom.items():
        docs.sort(key=lambda d: (bucket(d[0]), d[0]))
        consumed = 0
        for doc_id, n_tok in docs:
            if consumed < budget:
                want[doc_id] = (n_tok, consumed + n_tok)
            consumed += n_tok
    assert got == want


@given(
    st.lists(st.integers(0, 2000), min_size=1, max_size=20),   # event seconds
    st.lists(
        st.tuples(st.integers(0, 2000), st.integers(0, 400)),  # (start, length)
        min_size=1,
        max_size=10,
    ),
    st.sampled_from([60, 300, 1000]),                          # bin width
)
@settings(**PROP_SETTINGS)
def test_interval_join_matches_bruteforce(spark, ev_secs, ivs, bin_seconds):
    """The binned rewrite must equal the brute-force range filter for
    every event/interval layout — including empty intervals
    (start == end), bin-straddling spans, and boundary timestamps —
    at any bin width, with every pair emitted exactly once."""
    import datetime as dt

    from realtime0523_spark.operators.joins import interval_join

    t0 = dt.datetime(2024, 1, 1)

    def t(s):
        return t0 + dt.timedelta(seconds=s)

    events = spark.createDataFrame(
        [(i, t(s)) for i, s in enumerate(ev_secs)], "eid long, ts timestamp"
    )
    intervals = spark.createDataFrame(
        [(j, t(s), t(s + ln)) for j, (s, ln) in enumerate(ivs)],
        "iid long, s timestamp, e timestamp",
    )
    got = sorted(
        (r.eid, r.iid)
        for r in interval_join(events, intervals, "ts", "s", "e", bin_seconds).collect()
    )
    want = sorted(
        (i, j)
        for i, es in enumerate(ev_secs)
        for j, (s, ln) in enumerate(ivs)
        if s <= es < s + ln
    )
    assert got == want


@given(
    st.lists(
        st.tuples(st.integers(0, 10_000), st.integers(-50, 50)),
        min_size=1,
        max_size=120,
        unique_by=lambda t: t[0],
    ),
    st.integers(1, 7),
)
@settings(**PROP_SETTINGS)
def test_global_positions_is_exact_rank_permutation(spark, rows, nparts):
    """For ANY unique-keyed frame and partition count, global_positions
    equals the single-task row_number() window: a gapless 1..N
    permutation in total-key order."""
    from pyspark.sql import Window as W

    from realtime0523_spark.operators.layout import global_positions

    df = spark.createDataFrame(rows, "id long, k long")
    got = {
        r.id: r.global_pos
        for r in global_positions(
            df, ["k", "id"], num_partitions=nparts
        ).collect()
    }
    want = {
        r.id: r.rn
        for r in df.withColumn(
            "rn", F.row_number().over(W.orderBy("k", "id"))
        ).collect()
    }
    assert got == want


@given(
    st.lists(
        st.tuples(st.integers(1, 8), st.integers(1, 8)).filter(
            lambda t: t[0] != t[1]
        ),
        min_size=1,
        max_size=14,
    )
)
@settings(**PROP_SETTINGS)
def test_pagerank_fixed_point_tracks_float_reference(spark, pairs):
    """On ANY symmetric multigraph, the integer fixed-point iteration
    tracks the float power iteration to ~1e-9 relative — quantization
    is resolution, never bias (distinct edges, symmetrized)."""
    from realtime0523_spark.operators.graph import (
        PAGERANK_DAMPING_PCT,
        PAGERANK_ITERS,
        PAGERANK_SCALE,
        pagerank_fixed_point,
    )

    edges = sorted({(a, b) for a, b in pairs} | {(b, a) for a, b in pairs})
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.rank_fp for r in pagerank_fixed_point(df).collect()}

    nodes = sorted(got)
    out = {u: sum(1 for a, _ in edges if a == u) for u in nodes}
    d = PAGERANK_DAMPING_PCT / 100.0
    r = {u: 1.0 for u in nodes}
    for _ in range(PAGERANK_ITERS):
        contrib = {u: 0.0 for u in nodes}
        for a, b in edges:
            contrib[b] += r[a] / out[a]
        r = {u: (1 - d) + d * contrib[u] for u in nodes}
    for u in nodes:
        assert abs(got[u] / PAGERANK_SCALE - r[u]) < 1e-9, (u, got[u], r[u])


@st.composite
def changelogs(draw):
    """Well-formed CDC histories: per key, an insert, maybe updates,
    maybe a trailing delete — old values always the then-current one
    (what a real CDC extractor emits). Returns (changelog_rows,
    live_state) with live_state = {key: (group, final_price)}."""
    rows, live = [], {}
    for key in range(draw(st.integers(1, 8))):
        grp = draw(st.sampled_from(["g1", "g2", "g3"]))
        price = draw(st.integers(1, 99999)) / 100.0
        rows.append((grp, "insert", price, None))
        for _ in range(draw(st.integers(0, 3))):
            new = draw(st.integers(1, 99999)) / 100.0
            rows.append((grp, "update", new, price))
            price = new
        if draw(st.booleans()):
            rows.append((grp, "delete", None, price))
        else:
            live[key] = (grp, price)
    return rows, live


@given(changelogs())
@settings(**PROP_SETTINGS)
def test_retract_aggregate_equals_state_recompute_property(spark, data):
    """For ANY well-formed changelog, the signed-delta aggregate must
    equal a from-scratch aggregate over the live state — including
    groups that vanish entirely."""
    from realtime0523_spark.operators.retraction import (
        retract_aggregate,
        retract_minmax,
    )

    rows, live = data
    cl = spark.createDataFrame(
        rows, "grp string, op string, price_new double, price_old double"
    )
    got = {
        r["grp"]: (round(r["net_amount"], 2), r["net_rows"])
        for r in retract_aggregate(cl, ["grp"]).collect()
    }
    want: dict[str, list] = {}
    for grp, price in live.values():
        want.setdefault(grp, []).append(round(price * 100))
    expect = {
        g: (round(sum(cents) / 100.0, 2), len(cents))
        for g, cents in want.items()
    }
    assert got == expect
    got_mm = {
        r["grp"]: (r["min_price"], r["max_price"], r["net_rows"])
        for r in retract_minmax(cl, ["grp"]).collect()
    }
    expect_mm = {
        g: (min(cents) / 100.0, max(cents) / 100.0, len(cents))
        for g, cents in want.items()
    }
    assert got_mm == expect_mm


@st.composite
def join_changelogs(draw):
    """Paired CDC histories over shared keys: a dim lifecycle (0/1
    live row with an immutable attr) and several fact lifecycles per
    key. Returns (fact_rows, dim_rows, fact_live, dim_live)."""
    fact_rows, dim_rows = [], []
    fact_live: dict[int, list] = {}
    dim_live: dict[int, tuple] = {}
    for key in range(draw(st.integers(1, 6))):
        attr = draw(st.sampled_from(["g1", "g2"]))
        bal = draw(st.integers(1, 9999)) / 100.0
        dim_rows.append((key, attr, "insert", bal, None))
        if draw(st.booleans()):
            new = draw(st.integers(1, 9999)) / 100.0
            dim_rows.append((key, attr, "update", new, bal))
            bal = new
        if draw(st.booleans()):
            dim_rows.append((key, attr, "delete", None, bal))
        else:
            dim_live[key] = (attr, bal)
        for _ in range(draw(st.integers(0, 3))):
            price = draw(st.integers(1, 9999)) / 100.0
            fact_rows.append((key, "insert", price, None))
            if draw(st.booleans()):
                new = draw(st.integers(1, 9999)) / 100.0
                fact_rows.append((key, "update", new, price))
                price = new
            if draw(st.booleans()):
                fact_rows.append((key, "delete", None, price))
            else:
                fact_live.setdefault(key, []).append(round(price * 100))
    return fact_rows, dim_rows, fact_live, dim_live


@given(join_changelogs())
@settings(**PROP_SETTINGS)
def test_retract_join_equals_live_state_join_property(spark, data):
    """For ANY pair of well-formed changelogs, the per-key-partials
    factorization must equal a brute-force join of the two live
    states — including keys whose dim or fact side vanished."""
    from realtime0523_spark.operators.retraction import (
        retract_join_aggregate,
    )

    fact_rows, dim_rows, fact_live, dim_live = data
    fact = spark.createDataFrame(
        fact_rows, "k long, op string, price_new double, price_old double"
    )
    dim = spark.createDataFrame(
        dim_rows,
        "k long, attr string, op string, price_new double, price_old double",
    )
    got = {
        r["attr"]: (r["n_pairs"], round(r["fact_amount"], 2),
                    round(r["dim_amount"], 2))
        for r in retract_join_aggregate(fact, dim, ["k"], ["attr"]).collect()
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
    assert got == expected


# ---------------------------------------------------------------------------
# stattests: CUSUM prefix identity, KS metric axioms, chi2 invariants
# ---------------------------------------------------------------------------


@given(st.lists(st.integers(0, 10_000), min_size=2, max_size=40))
@settings(**PROP_SETTINGS)
def test_cusum_prefix_identity_matches_recursion(spark, xs):
    """The window formulation C+ = P − min(0, running_min P),
    C− = max(0, running_max P) − P must equal the textbook
    reset-at-zero recursion for EVERY prefix, on arbitrary series."""
    from realtime0523_spark.operators.stattests import cusum_series

    rows = [("k", t, x) for t, x in enumerate(xs)]
    out = (
        cusum_series(spark.createDataFrame(rows, "k string, t long, x long"))
        .orderBy("t")
        .collect()
    )
    n, tot = len(xs), sum(xs)
    c_up = c_dn = 0
    for r, x in zip(out, xs):
        d = n * x - tot
        c_up = max(0, c_up + d)
        c_dn = max(0, c_dn - d)
        assert (r.cusum_up, r.cusum_dn) == (c_up, c_dn)


@given(
    st.lists(
        st.tuples(st.integers(0, 20), st.integers(0, 5), st.integers(0, 5)),
        min_size=1,
        max_size=25,
    )
)
@settings(**PROP_SETTINGS)
def test_ks_axioms_on_arbitrary_cells(spark, cells):
    """KS axioms on arbitrary per-value cell tables: 0 <= D <= 1;
    D = 0 when the two samples are identical; and D matches a plain
    python ECDF replay."""
    from realtime0523_spark.operators.stattests import ks_2sample

    rows = [("g", v, c1, c2) for v, c1, c2 in cells]
    df = spark.createDataFrame(rows, "key string, v long, c1 long, c2 long")
    got = ks_2sample(df).collect()
    agg = {}
    for v, c1, c2 in cells:
        a, b = agg.get(v, (0, 0))
        agg[v] = (a + c1, b + c2)
    n1 = sum(a for a, _ in agg.values())
    n2 = sum(b for _, b in agg.values())
    if n1 == 0 or n2 == 0:
        if got:
            r = got[0]
            assert r.ks_d is None or 0.0 <= r.ks_d <= 1.0 or r.ks_num == 0
        return
    cum1 = cum2 = 0
    best = 0
    for v in sorted(agg):
        cum1 += agg[v][0]
        cum2 += agg[v][1]
        best = max(best, abs(cum1 * n2 - cum2 * n1))
    r = got[0]
    assert r.ks_num == best
    assert 0.0 <= r.ks_d <= 1.0
    # identical samples → D = 0
    same = spark.createDataFrame(
        [("g", v, c, c) for v, c, _ in cells],
        "key string, v long, c1 long, c2 long",
    )
    for rr in ks_2sample(same).collect():
        assert rr.ks_num == 0 and not rr.drifted


@given(
    st.lists(
        st.tuples(st.sampled_from("xy"), st.sampled_from("pqr")),
        min_size=4,
        max_size=60,
    )
)
@settings(**PROP_SETTINGS)
def test_chi2_invariants(spark, pairs):
    """chi2 >= 0 always; dof = (|A|-1)(|B|-1); and chi2 == 0 for any
    exact product distribution (rows duplicated so counts factor)."""
    from realtime0523_spark.operators.stattests import chi2_independence

    df = spark.createDataFrame(pairs, "a string, b string")
    r = chi2_independence(df, "a", "b").collect()[0]
    na = len({a for a, _ in pairs})
    nb = len({b for _, b in pairs})
    assert r.dof == (na - 1) * (nb - 1)
    assert r.chi2 >= -1e-9
    assert r.n_rows == len(pairs)
    # exact independence: counts n(a,b) = f(a)*g(b)
    prod = [
        (a, b)
        for a, fa in [("x", 1), ("y", 2)]
        for b, gb in [("p", 1), ("q", 3)]
        for _ in range(fa * gb)
    ]
    r0 = chi2_independence(
        spark.createDataFrame(prod, "a string, b string"), "a", "b"
    ).collect()[0]
    assert abs(r0.chi2) < 1e-9


# ---------------------------------------------------------------------------
# Cross-batch running-sum allocation (streaming/allocation.py): the
# exact-sum contract must survive ANY partition of an order's detail
# rows into micro-batches (round-10 verdict item #1).
# ---------------------------------------------------------------------------


@st.composite
def split_order(draw):
    """One order: 1-8 cent-valued weights, a paid total decoupled from
    the weight sum, and an arbitrary ordered partition of the details
    into arrival batches (contiguous in detail order — the CDC-log
    shape; the Σ invariant additionally holds for any order, covered
    by shuffling whether the partition is contiguous)."""
    n = draw(st.integers(1, 8))
    weights = [draw(st.integers(1, 1_000_000)) / 100.0 for _ in range(n)]
    total = draw(st.integers(1, 200_000_000)) / 100.0
    cuts = sorted(
        draw(
            st.lists(
                st.integers(1, max(n - 1, 1)), max_size=n - 1 if n > 1 else 0
            )
        )
    )
    order = list(range(n))
    if draw(st.booleans()):
        order = draw(st.permutations(order))
    bounds = [0, *sorted(set(cuts)), n]
    batches = [
        [order[i] for i in range(lo, hi)]
        for lo, hi in zip(bounds, bounds[1:])
        if hi > lo
    ]
    return weights, total, batches


def _split_detail_frame(
    idxs: list[int], weights: list[float], total: float, extra: int = 0
) -> "pd.DataFrame":
    """One arrival batch of order 1's detail rows, in the columns the
    streaming allocation kernel reads."""
    import pandas as pd

    w_total = sum(weights)
    m = len(idxs)
    return pd.DataFrame(
        {
            "l_orderkey": [1] * m,
            "l_linenumber": [i + 1 for i in idxs],
            "l_partkey": [10 + i for i in idxs],
            "l_extendedprice": [weights[i] for i in idxs],
            "o_totalprice": [total] * m,
            "o_weight_total": [w_total] * m,
            "o_detail_count": [len(weights) - extra] * m,
            "l_commit_ts": [pd.Timestamp("2025-06-15")] * m,
        }
    )


def _split_allocation_fn():
    """The streaming allocation kernel over one bucket, as the state
    store would call it."""
    from realtime0523_spark.streaming.allocation import (
        STATE_DTYPES,
        allocation_kernel,
    )
    from realtime0523_spark.streaming.bucketed_state import state_fn

    kernel = allocation_kernel(["l_linenumber"], "l_commit_ts", 100_000)
    return state_fn(kernel, STATE_DTYPES, 1)


@given(split_order())
# three equal weights over 1.00: proportional shares are 0.33 each, so
# only the remainder rule on the last arrival makes the sum exact
@example(([1.0, 1.0, 1.0], 1.0, [[0], [1], [2]]))
@settings(**PROP_SETTINGS)
def test_split_allocation_exact_sum_any_split(case):
    """The bucketed kernel on a fake state (no Spark): whatever the
    split and arrival order, shares sum EXACTLY to round2(total),
    non-last rows carry the proportional share, and the order moves
    from the live columns to the done-set at its last detail."""
    import pandas as pd

    from realtime0523_spark.streaming.allocation import STATE_DTYPES
    from realtime0523_spark.streaming.bucketed_state import decode_state
    from tests.fake_state import FakeState

    weights, total, batches = case
    w_total = sum(weights)
    n = len(weights)
    fn = _split_allocation_fn()
    state = FakeState()
    emitted: list[tuple[int, float]] = []
    arrivals = 0
    for batch_idxs in batches:
        pdf = _split_detail_frame(batch_idxs, weights, total)
        out = pd.concat(list(fn((0,), iter([pdf]), state)))
        arrivals += len(batch_idxs)
        emitted += list(
            zip(out["l_linenumber"].tolist(), out["final_detail_amount"].tolist())
        )
        lks, lns, _, _, dks, _ = decode_state(state.get[0], 1, STATE_DTYPES)
        if arrivals < n:
            assert lks.tolist() == [1] and lns.tolist() == [arrivals]
            assert dks.size == 0
    # completed exactly at the last detail: no live entry, one done-set key
    assert lks.size == 0 and dks.tolist() == [1]
    assert len(emitted) == n
    # Σ shares == round2(total) EXACTLY — in integer cents, no epsilon
    assert round(sum(int(round(s * 100)) for _, s in emitted)) == int(
        round(round2(total) * 100)
    )
    # every non-final ARRIVAL carries the proportional share
    final_line = emitted[-1][0]
    for ln, share in emitted:
        if ln != final_line:
            assert share == round2(total * weights[ln - 1] / w_total)


@given(split_order())
@settings(**PROP_SETTINGS)
def test_split_allocation_over_delivery_raises(case):
    """A duplicate detail beyond o_detail_count must raise, never
    silently over-allocate (the loud-contract discipline)."""
    import pytest as _pytest

    from tests.fake_state import FakeState

    weights, total, _ = case
    n = len(weights)
    pdf = _split_detail_frame(
        list(range(n)) + [0], weights + [weights[0]], total, extra=1
    )
    with _pytest.raises(ValueError, match="duplicate delivery"):
        list(_split_allocation_fn()((0,), iter([pdf]), FakeState()))


@st.composite
def first_seen_batches(draw):
    """(key, ts, id) rows over a few keys and timestamps, so keys and
    (key, ts) pairs collide, cut into 1-5 contiguous arrival batches."""
    rows = draw(
        st.lists(
            st.tuples(
                st.integers(-2, 2), st.integers(0, 3), st.integers(0, 20)
            ),
            min_size=1,
            max_size=30,
        )
    )
    cuts = draw(st.lists(st.integers(1, len(rows)), max_size=4))
    bounds = [0, *sorted(set(cuts)), len(rows)]
    return [rows[lo:hi] for lo, hi in zip(bounds, bounds[1:]) if hi > lo]


@given(first_seen_batches())
# a later batch ties the stored ts with a smaller id (the tiebreak)
# and inserts a key between two stored ones
@example([[(1, 5, 9), (3, 0, 1)], [(1, 5, 3), (2, 7, 4)]])
@settings(**PROP_SETTINGS)
def test_first_seen_emits_running_minimum_any_split(batches):
    """The bucketed first-seen kernel on a fake state (no Spark): for
    any split of the rows into batches, each batch emits, for every
    key it contains, the minimum (ts, id) over all rows seen so far."""
    import pandas as pd

    from realtime0523_spark.streaming.bucketed_state import state_fn
    from realtime0523_spark.streaming.first_seen import (
        STATE_DTYPES,
        first_seen_kernel,
    )
    from tests.fake_state import FakeState

    fn = state_fn(first_seen_kernel, STATE_DTYPES, 1)
    state = FakeState()
    best: dict[int, tuple[int, int]] = {}
    for rows in batches:
        for k, ts, i in rows:
            best[k] = min(best.get(k, (ts, i)), (ts, i))
        pdf = pd.DataFrame(rows, columns=["key", "ts", "id"])
        out = pd.concat(list(fn((0,), iter([pdf]), state)))
        got = sorted(map(tuple, out[["key", "first_ts", "first_id"]].values.tolist()))
        assert got == sorted((k, *best[k]) for k in {r[0] for r in rows})
