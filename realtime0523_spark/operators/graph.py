"""Graph centrality over DataFrame edge tables.

PageRank is the quality-weighting signal web-corpus pipelines attach
to crawled documents (Common Crawl publishes harmonic-centrality /
PageRank rankings for exactly this use; CCNet-era filtering keys on
them). The reference engine has no graph operator; this is part of
the beyond-reference surface for training-data curation, expressed as
the canonical distributed power iteration: per-round one equi-join of
ranks onto edges and one partial-agg'd groupBy on the destination —
the shapes that hold at any scale (GraphX's Pregel PageRank reduces
to the same join+agg per superstep).

Exactness contract (what makes the operator ORACLE-replayable): the
iteration runs in INTEGER FIXED POINT. Ranks are BIGINTs scaled by
`scale`; each round computes

    contrib(e: u→v) = rank_fp(u) div out_deg(u)
    rank_fp'(v)     = ((100 - damping_pct) * scale) div 100
                      + (damping_pct * Σ contrib) div 100

with integer (floor) division throughout. Every engine computes the
identical BIGINTs — no float summation order to drift, no rounding
contract to document beyond "div means floor division". The quantized
mass lost to flooring is ≤ 1/scale per edge per round (≈ 1e-12
relative at the default scale) — far below any ranking-relevant
difference, and deterministic.

Overflow envelope: Σ ranks ≈ N·scale must stay below 2^63/100.
scale=1e12 holds to ~90 M nodes; a billion-node web graph uses
scale=1e6 (micro-rank units) with head-room to 10^11 nodes. The
operator asserts the envelope from the node count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from realtime0523_spark.core import gates
from realtime0523_spark.llm.clusters import _ckpt_tools

PAGERANK_SCALE = 10**12
PAGERANK_DAMPING_PCT = 85
PAGERANK_ITERS = 5

def _bcast(df: DataFrame, small: bool) -> DataFrame:
    """Broadcast hint gated on a measured row count (never an estimate
    — size estimates through checkpoints/UDF boundaries are unknown,
    which is exactly when the planner silently falls back to
    SortMergeJoin on a 20k-row side). `small` comes from the
    `graph_broadcast` gate; results are identical either way."""
    return F.broadcast(df) if small else df


def _order_part_pairs(lineitem: DataFrame, half: bool) -> DataFrame:
    """(src, dst) part pairs sharing an order, generated MAP-SIDE from
    one per-order collect_set aggregation instead of the historical
    lineitem self-join (round-13, guide §2.3/§2.4: the join's only
    purpose was the per-order pair fan-out, so aggregate first — the
    fact rows cross ONE exchange, partial-aggregated map-side, and the
    bounded per-order part array explodes into pairs inside the same
    stage; the pair stream itself is never shuffled, and the self-join's
    second fact exchange plus its sort-merge disappear). Order sizes
    are bounded (TPC-H ≤ 7 items, real carts similar), so the array and
    its quadratic explode are a constant factor per order — the same
    bound the self-join relied on. `half=True` keeps only src < dst
    (the canonical half-pair stream kcore/triangle/BFS canonicalize +
    distinct internally); `half=False` emits both directions.

    Equivalence to the self-join: collect_set dedups a part repeated
    WITHIN an order (the join emitted those as duplicate pair rows);
    every consumer distincts its edge set, so the derived graph is
    identical — pinned by the operator tests and the oracle rows."""
    parts = lineitem.groupBy(F.col("l_orderkey").alias("ok")).agg(
        F.collect_set("l_partkey").alias("ps")
    )
    cond = F.col("src") < F.col("dst") if half else F.col("src") != F.col("dst")
    return (
        parts.select(F.explode("ps").alias("src"), "ps")
        .select("src", F.explode("ps").alias("dst"))
        .filter(cond)
    )


def copurchase_half_pairs(lineitem: DataFrame) -> DataFrame:
    """Raw src < dst half-pair stream of the co-purchase graph (per-
    order duplicates across orders kept — consumers canonicalize +
    distinct). Map-side pair generation; see _order_part_pairs."""
    return _order_part_pairs(lineitem, half=True)


def copurchase_edges(lineitem: DataFrame) -> DataFrame:
    """Distinct both-direction part pairs sharing an order — the
    co-occurrence graph (src, dst). Pairs are generated map-side from
    one per-order aggregation (see _order_part_pairs); the distinct is
    the only shuffle the pair stream itself pays."""
    return _order_part_pairs(lineitem, half=False).distinct()


def _driver_pagerank(
    edges: DataFrame,
    state: DataFrame,
    n_iter: int,
    damping_pct: int,
    scale: int,
    base: int,
) -> DataFrame:
    """The gated driver path of `pagerank_fixed_point`: the identical
    integer fixed-point recurrence run as numpy array passes over one
    collected copy of the (checkpointed) edge and node-state tables.
    Exactness carries over verbatim — `div` on non-negative int64 is
    numpy's `//`, the per-destination Σ contrib is an exact int64
    segmented reduction (edges pre-sorted by dst once), and the
    overflow envelope asserted by the caller bounds damping_pct·m
    below 2^63 — so the returned BIGINTs are the distributed rounds'
    BIGINTs, not an approximation of them."""
    import numpy as np
    import pandas as pd

    spark = edges.sparkSession
    node_t = edges.schema["src"].dataType.simpleString()
    st = state.select("node", "out_deg", "__seed").toPandas()
    if not len(st):
        return spark.createDataFrame([], f"node {node_t}, rank_fp long")
    nodes = st["node"].to_numpy()
    order = np.argsort(nodes, kind="stable")
    nodes = nodes[order]
    out_deg = st["out_deg"].to_numpy(dtype=np.int64)[order]
    seed = st["__seed"].to_numpy(dtype=bool)[order]
    e = edges.select("src", "dst").toPandas()
    src_i = np.searchsorted(nodes, e["src"].to_numpy())
    dst_i = np.searchsorted(nodes, e["dst"].to_numpy())
    # pre-sort edges by destination ONCE so each round's Σ contrib is
    # one exact int64 reduceat over contiguous runs
    eorder = np.argsort(dst_i, kind="stable")
    sdst = dst_i[eorder]
    ssrc = src_i[eorder]
    runs = np.flatnonzero(
        np.concatenate([[True], sdst[1:] != sdst[:-1]])
    )
    run_dst = sdst[runs]
    inv_deg_src = out_deg[ssrc]
    rank = np.where(seed, np.int64(scale), np.int64(0))
    base_v = np.where(seed, np.int64(base), np.int64(0))
    for _ in range(n_iter):
        m = np.zeros(nodes.size, dtype=np.int64)
        if sdst.size:
            m[run_dst] = np.add.reduceat(rank[ssrc] // inv_deg_src, runs)
        rank = base_v + (np.int64(damping_pct) * m) // 100
    return spark.createDataFrame(
        pd.DataFrame({"node": nodes, "rank_fp": rank}),
        f"node {node_t}, rank_fp long",
    )


def pagerank_fixed_point(
    edges: DataFrame,
    n_iter: int = PAGERANK_ITERS,
    damping_pct: int = PAGERANK_DAMPING_PCT,
    scale: int | None = None,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Power-iteration PageRank over an (src, dst) edge table in
    exact integer fixed point (see module docstring). Returns
    (node, rank_fp) for every node that appears in the edge table.

    With `seeds` (a 1-column `node` frame), this is PERSONALIZED
    PageRank (Haveliwala, WWW 2002): the teleport term lands only on
    the seed set — rank becomes proximity TO THE SEEDS through the
    graph, the related-items / recommendation primitive (Pixie-style
    item-item recs run exactly this on the co-occurrence graph).
    Seeds init at `scale` and receive the (1−d) teleport mass each
    round; every other node starts at 0 and accrues only flowed mass.

    Every node needs an out-edge (true for symmetric co-occurrence
    graphs); a directed graph with dangling nodes must add self-loops
    or sink-redistribution edges first — the operator raises rather
    than silently leaking their mass.

    When the MEASURED directed edge count (Σ out_deg, free from the
    guard aggregate) passes the `graph_driver` gate, the identical
    fixed-point recurrence runs on the driver as numpy passes over one
    collected edge list (_driver_pagerank) — N rounds of
    join+agg+checkpoint jobs become two collects, with the same BIGINT
    results (test-pinned against the distributed path).

    Scale shape per round: the node state carries (rank_fp, out_deg,
    seed flag) in ONE table, so a round is a single edges⋈state
    equi-join (state BROADCAST under the `graph_broadcast` gate — the
    edge table then never shuffles) feeding ONE partial-agg'd groupBy
    on dst that the state rows ride as zero-contribution carriers —
    the whole round is one exchange, no second join. Above the gate
    the edges join falls back to the shuffle path. Rounds
    localCheckpoint alternately with eager release of the superseded
    snapshot (the clusters.py discipline), so plan depth and executor
    memory stay O(1) in n_iter. The seed flag and out-degree ride the
    state table, so personalization adds zero extra joins."""
    if not 0 < damping_pct < 100:
        raise ValueError(f"damping_pct must be in (0, 100), got {damping_pct}")
    ckpt, release = _ckpt_tools(edges)
    # materialize the graph ONCE: edges and the node state are read in
    # every round (and by the guards below) — without this the whole
    # upstream edge derivation (e.g. the lineitem self-join) recomputes
    # per iteration. Measured 8× on the co-purchase query. Partitioning
    # is pinned to defaultParallelism ON the join key (explicit
    # repartitions are exempt from AQE coalescing): the per-round
    # contrib map stage otherwise inherits an AQE-coalesced handful of
    # partitions and runs the dominant compute on a fraction of the
    # cores — and above the broadcast gate the src hash partitioning
    # is exactly the layout the shuffle join wants.
    par = edges.sparkSession.sparkContext.defaultParallelism
    edges, e_ids = ckpt(edges.select("src", "dst").repartition(par, "src"))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    state = nodes.join(deg.withColumnRenamed("src", "node"), "node", "left")
    if seeds is None:
        state = state.withColumn("__seed", F.lit(True))
    else:
        state = state.join(
            seeds.select(F.col(seeds.columns[0]).alias("node"))
            .distinct()
            .withColumn("__seed", F.lit(True)),
            "node",
            "left",
        ).withColumn("__seed", F.coalesce("__seed", F.lit(False)))
    state, s_ids = ckpt(state)
    graph_ids = e_ids | s_ids
    try:
        # one aggregate answers both guards (node count + dangling
        # presence) — the left join above keeps dangling nodes as
        # out_deg IS NULL rows, so no separate anti-join/count pass —
        # and Σ out_deg is the directed edge count, so the driver-path
        # gate below costs zero extra jobs
        n_nodes, dangling, n_edges = state.agg(
            F.count(F.lit(1)),
            F.count(F.when(F.col("out_deg").isNull(), F.lit(1))),
            F.sum("out_deg"),
        ).first()
        if dangling:
            raise ValueError(
                "pagerank_fixed_point: graph has dangling nodes (no "
                "out-edges); add self-loops or redistribution edges — "
                "silent mass leak refused."
            )
        if scale is None:
            # auto: the largest power of 10 that keeps total mass × 100
            # inside int64, capped at the default so small graphs keep
            # the canonical (oracle-replayed) resolution; a billion-node
            # web graph lands at micro-rank units automatically
            safe = (2**63 // 100) // max(n_nodes, 1)
            auto = 10 ** max(0, len(str(safe)) - 1)
            scale = min(PAGERANK_SCALE, auto)
            if scale < 10**6:
                raise ValueError(
                    f"auto fixed-point scale degraded below 1e6 "
                    f"({n_nodes} nodes) — rank resolution too coarse; "
                    f"partition the graph or pass `scale` explicitly."
                )
        elif n_nodes * scale >= 2**63 // 100:
            raise ValueError(
                f"fixed-point overflow envelope exceeded: {n_nodes} nodes "
                f"at scale={scale}; lower `scale` (total mass × 100 must "
                f"fit in int64)."
            )
    except Exception:
        release(graph_ids)
        raise
    base = ((100 - damping_pct) * scale) // 100
    if gates.small("graph_driver", n_edges or 0):
        try:
            return _driver_pagerank(
                edges, state, n_iter, damping_pct, scale, base
            )
        finally:
            release(graph_ids)
    small = gates.small("graph_broadcast", n_nodes)
    base_col = F.when(F.col("__seed"), F.lit(base)).otherwise(F.lit(0))
    cur = state.withColumn(
        "rank_fp",
        F.when(F.col("__seed"), F.lit(scale))
        .otherwise(F.lit(0))
        .cast("long"),
    )
    held: set = set()
    # per-round shape (round-13 fold): the node state rides the SAME
    # aggregation that sums the contributions — state rows union in as
    # zero-contribution carriers (c NULL; out_deg/__seed non-null on
    # exactly the carrier row, so max() recovers them losslessly) and
    # the old state⋈sums join disappears. One exchange per round (the
    # partial-agg'd groupBy; carriers add only |nodes| rows to it), one
    # fewer eager job below the broadcast gate, and above the gate the
    # sums exchange + merge join are gone too. Integer arithmetic is
    # unchanged: m = Σ c over exactly the contribution rows (NULL
    # carriers are ignored by sum), so rank_fp is bit-identical —
    # pinned by the driver≡distributed grid test and the oracle rows.
    null_long = F.lit(None).cast("long")
    for _ in range(n_iter):
        contrib = edges.join(
            _bcast(
                cur.select(
                    F.col("node").alias("src"), "rank_fp", "out_deg"
                ),
                small,
            ),
            "src",
        ).select(
            F.col("dst").alias("node"),
            F.expr("rank_fp div out_deg").alias("c"),
            null_long.alias("out_deg"),
            F.lit(None).cast("boolean").alias("__seed"),
        )
        carrier = state.select(
            "node", null_long.alias("c"), "out_deg", "__seed"
        )
        nxt = (
            contrib.unionByName(carrier)
            .groupBy("node")
            .agg(
                F.sum("c").alias("m"),
                F.max("out_deg").alias("out_deg"),
                F.max("__seed").alias("__seed"),
            )
            .select(
                "node",
                "out_deg",
                "__seed",
                (
                    base_col
                    + F.expr(f"({damping_pct} * coalesce(m, 0L)) div 100")
                ).cast("long").alias("rank_fp"),
            )
        )
        cur, ids = ckpt(nxt)
        release(held)
        held = ids
    release(graph_ids)
    return cur.select("node", "rank_fp")


def _driver_kcore(
    cur: DataFrame, k: int, rounds: int | None
) -> DataFrame:
    """The gated driver path of `kcore`: the identical peel loop —
    same removal rule (deg < k among nodes still holding an edge),
    same round cap and no-fixpoint raise, same early stop on an empty
    removal set — run as numpy bincount/mask passes over one collected
    copy of the (checkpointed) canonical edge table. Integer degrees
    either way, so the surviving (node, core_degree) table is
    identical to the distributed peel's."""
    import numpy as np
    import pandas as pd

    spark = cur.sparkSession
    node_t = cur.schema["lo"].dataType.simpleString()
    pdf = cur.toPandas()
    lo = pdf["lo"].to_numpy()
    hi = pdf["hi"].to_numpy()
    nodes, inv = np.unique(np.concatenate([lo, hi]), return_inverse=True)
    lo_i = inv[: lo.size]
    hi_i = inv[lo.size :]
    alive = np.ones(lo_i.size, dtype=bool)
    max_rounds = 64 if rounds is None else rounds
    deg = np.bincount(lo_i, minlength=nodes.size) + np.bincount(
        hi_i, minlength=nodes.size
    )
    for _ in range(max_rounds):
        # degrees over the REMAINING edges; a node with no remaining
        # edge has left the graph and is not "removed" again
        bad = (deg < k) & (deg > 0)
        if not bad.any():
            break
        alive &= ~(bad[lo_i] | bad[hi_i])
        deg = np.bincount(lo_i[alive], minlength=nodes.size) + np.bincount(
            hi_i[alive], minlength=nodes.size
        )
    else:
        # mirrors the distributed loop's for/else exactly: exhausting
        # the cap without an empty-removal round raises in fixpoint
        # mode, even if the final peel happened to land on the core
        if rounds is None:
            raise RuntimeError(
                "kcore: no fixpoint within 64 peel rounds — "
                "pathological chain structure; pass `rounds` "
                "explicitly."
            )
    mask = deg > 0
    return spark.createDataFrame(
        pd.DataFrame(
            {"node": nodes[mask], "core_degree": deg[mask].astype(np.int64)}
        )
        if mask.any()
        else pd.DataFrame({"node": [], "core_degree": []}),
        f"node {node_t}, core_degree long",
    )


def kcore(
    edges: DataFrame,
    k: int,
    rounds: int | None = None,
) -> DataFrame:
    """k-CORE decomposition by iterative peeling (Seidman, "Network
    structure and minimum degree", Social Networks 1983; the
    distributed peel is Montresor et al.'s): repeatedly delete every
    node whose degree in the REMAINING graph is < k; what survives is
    the maximal subgraph where every node keeps ≥ k neighbors — the
    dense-community screen (spam/link-farm cores on web graphs,
    bot-ring detection, co-purchase communities worth recommending
    inside).

    Input is canonicalized exactly like triangle_counts (least,
    greatest + distinct), so any edge-list convention works. Returns
    (node, core_degree) for surviving nodes — core_degree is the
    node's degree INSIDE the k-core.

    `rounds=None` peels to the fixpoint (capped at 64 — a peel that
    deep means adversarial chain structure; raise explicitly).
    `rounds=R` computes EXACTLY the R-round peel — a deterministic
    function of the data, which is what the generated SQL oracle
    replays. Once a round's removal set is empty every further peel
    is the identity, so the loop stops early and returns the
    IDENTICAL table without spending the no-op rounds (round-13
    optimization; convergence at fixture scale is additionally
    test-asserted, so equality never depends on it).

    Scale shape per round: one partial-agg'd degree groupBy over the
    canonical edge table into a checkpoint-materialized removal set
    (built once, not once per anti-join), whose measured count gates
    broadcasting it into the two anti-join filters — under the gate
    the surviving edge table is never shuffled, above it the joins
    fall back to the shuffle path. Each round's edge table is
    checkpoint-materialized with eager release of the previous
    snapshot (the pagerank/_ckpt_tools discipline), so plan depth and
    memory stay O(1) in rounds."""
    if k < 1:
        raise ValueError(f"kcore: k must be ≥ 1, got {k}")
    ckpt, release = _ckpt_tools(edges)
    cur, held = ckpt(
        edges.select(
            F.least("src", "dst").alias("lo"),
            F.greatest("src", "dst").alias("hi"),
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
    )
    # the canonical table is a materialized checkpoint, so this count
    # is one cheap scan; under the gate the whole peel runs on the
    # driver (undirected canonical rows here)
    if gates.small("graph_driver", cur.count()):
        try:
            return _driver_kcore(cur, k, rounds)
        finally:
            release(held)

    def degrees(e: DataFrame) -> DataFrame:
        return (
            e.select(F.explode(F.array("lo", "hi")).alias("node"))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )

    max_rounds = 64 if rounds is None else rounds
    try:
        for _ in range(max_rounds):
            # materialize the round's removal set ONCE (round-13): the
            # two anti-joins below otherwise each re-execute the degree
            # aggregation as their build subtree; the set is node-sized
            # at worst, tiny near the fixpoint, and its measured count
            # both gates the broadcast and detects convergence — a peel
            # with an empty removal set is the identity, so stopping
            # early in fixed-rounds mode returns the identical table
            bad, b_ids = ckpt(
                degrees(cur).filter(F.col("deg") < k).select("node")
            )
            n_bad = bad.count()
            if n_bad == 0:
                release(b_ids)
                break
            small = gates.small("graph_broadcast", n_bad)
            nxt = (
                cur.join(
                    _bcast(bad.withColumnRenamed("node", "lo"), small),
                    "lo",
                    "left_anti",
                ).join(
                    _bcast(bad.withColumnRenamed("node", "hi"), small),
                    "hi",
                    "left_anti",
                )
            )
            nxt, ids = ckpt(nxt.select("lo", "hi"))
            release(held | b_ids)
            cur, held = nxt, ids
        else:
            if rounds is None:
                raise RuntimeError(
                    "kcore: no fixpoint within 64 peel rounds — "
                    "pathological chain structure; pass `rounds` "
                    "explicitly."
                )
        out, _ = ckpt(
            degrees(cur).select(
                "node", F.col("deg").cast("long").alias("core_degree")
            )
        )
    finally:
        release(held)
    return out


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over an undirected graph given as a
    both-directions (src, dst) edge table — the clustering-structure
    signal (tight co-purchase communities, link-farm detection on web
    graphs), computed with the degree-ORIENTED wedge join of Suri &
    Vassilvitskii ("Counting Triangles and the Curse of the Last
    Reducer", WWW 2011): direct every edge from the (degree, id)-
    smaller endpoint, enumerate wedges only from each node's ORIENTED
    out-edges, and close them against the oriented edge set. Each
    triangle materializes exactly once, and the per-node wedge fan-out
    is bounded by the oriented out-degree ≤ O(√m) even on power-law
    graphs — the whole point of the orientation (a naive wedge join
    explodes on hub nodes).

    The derived graph is materialized ONCE (the pagerank_fixed_point
    `_ckpt_tools` discipline above): the undirected edge set feeds
    degrees and orientation, degrees are read three times, and the
    oriented table fans out into both wedge sides and the closure —
    without checkpoints the whole upstream edge derivation (e.g. the
    lineitem self-join in `copurchase_edges`) would recompute per
    branch. Measured 4×+ on the co-purchase query. Single-digit
    shuffles end-to-end: canonicalize+distinct, degrees, the two
    orientation joins, the wedge self-join on the apex, the closure
    equi-join on (b, c), the per-node count.

    Input robustness: edges are canonicalized to (lo, hi) = (least,
    greatest) before the distinct, so a one-directional edge list
    yields the same undirected graph as a both-directions one — it
    cannot silently undercount degrees or triangles — and only |E|/2
    canonical rows are ever shuffled or materialized.

    Returns (node, degree, n_triangles) for every node, including
    zeros. The result is node-sized and returned materialized."""
    ckpt, release = _ckpt_tools(edges)
    # canonicalize to lo < hi: ONE distinct over HALF the undirected
    # edge volume (vs distinct-ing both directions), and a one-
    # directional input canonicalizes to the same set — the symmetry
    # guard costs nothing. Degrees and orientation both derive from
    # the canonical table, so only |E|/2 rows are ever materialized.
    canon, c_ids = ckpt(
        edges.select(
            F.least("src", "dst").alias("lo"),
            F.greatest("src", "dst").alias("hi"),
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
    )
    try:
        deg, d_ids = ckpt(
            canon.select(
                F.explode(F.array("lo", "hi")).alias("src")
            ).groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        )
    except Exception:
        release(c_ids)
        raise
    nodes = deg.select(F.col("src").alias("node"), "deg")
    # the broadcast gate is a MEASURED count over the materialized
    # canonical table (cheap: ExistingRDD scan) — |nodes| ≤ 2·|canon|,
    # so one count gates both the node-sized (deg, per_node) and the
    # edge-sized (oriented table) broadcast sides
    n_canon = canon.count()
    small = gates.small("graph_broadcast", n_canon)
    # orient: direct each canonical edge from its (deg, id)-smaller
    # endpoint — lo wins ties by id, so lo leads iff deg_lo <= deg_hi.
    # deg is node-sized: broadcast under the gate, so the canonical
    # edge table is never shuffled for orientation.
    try:
        lo_leads = F.col("deg_lo") <= F.col("deg_hi")
        e, e_ids = ckpt(
            canon.join(
                _bcast(
                    deg.select(
                        F.col("src").alias("lo"), F.col("deg").alias("deg_lo")
                    ),
                    small,
                ),
                "lo",
            )
            .join(
                _bcast(
                    deg.select(
                        F.col("src").alias("hi"), F.col("deg").alias("deg_hi")
                    ),
                    small,
                ),
                "hi",
            )
            .select(
                F.when(lo_leads, F.col("lo")).otherwise(F.col("hi")).alias("a"),
                F.when(lo_leads, F.col("hi")).otherwise(F.col("lo")).alias("b"),
                F.when(lo_leads, F.col("deg_lo")).otherwise(F.col("deg_hi")).alias("da"),
                F.when(lo_leads, F.col("deg_hi")).otherwise(F.col("deg_lo")).alias("db"),
            )
            # pin the oriented table to defaultParallelism on the wedge
            # apex (exempt from AQE coalescing): the wedge+closure map
            # stage — the dominant compute (Σ out-deg² probes) —
            # otherwise runs on an AQE-coalesced handful of partitions;
            # hashing on `a` also gives the above-gate SMJ path the
            # wedge join's layout. Oriented out-degree is O(√m), so the
            # apex hash cannot skew.
            .repartition(
                edges.sparkSession.sparkContext.defaultParallelism, "a"
            )
        )
    except Exception:
        release(c_ids | d_ids)
        raise
    release(c_ids)  # deg and e are materialized; nothing recomputes through canon
    w1 = e.select(F.col("a"), F.col("b"), F.col("db").alias("ord_b"))
    w2 = e.select(
        F.col("a"), F.col("b").alias("c"), F.col("db").alias("ord_c")
    )
    # broadcast the build sides (both are the |E|/2-row oriented table)
    # under the gate: the wedge stream — the one quadratic-in-degree
    # intermediate — is then produced AND consumed inside a single
    # map stage, never shuffled or sorted (above the gate: the same
    # sort-merge shape as before)
    wedges = w1.join(_bcast(w2, small), "a").filter(
        (F.col("ord_b") < F.col("ord_c"))
        | ((F.col("ord_b") == F.col("ord_c")) & (F.col("b") < F.col("c")))
    )
    closing = e.select(F.col("a").alias("b"), F.col("b").alias("c"))
    tri = wedges.join(_bcast(closing, small), ["b", "c"]).select("a", "b", "c")
    # explode, not a 3-way union: the union form re-executed the
    # closure join once PER BRANCH (exchange reuse dedups only the
    # shuffle, not the join above it) — explode evaluates the triangle
    # stream exactly once and partial-aggregates in the same stage
    per_node = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    try:
        out, _ = ckpt(
            nodes.join(_bcast(per_node, small), "node", "left").select(
                "node",
                F.col("deg").alias("degree"),
                F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
            )
        )
    finally:
        release(d_ids | e_ids)
    return out


def _driver_bfs(
    e: DataFrame, seeds: DataFrame, rounds: int
) -> DataFrame:
    """The gated driver path of `bfs_hops`: the identical fixed-round
    frontier expansion — seeds at hop 0 (absent-from-graph seeds
    included), first-discovery hop per node, early stop on an
    exhausted frontier — as numpy passes over one collected copy of
    the (checkpointed) directed edge table. BFS discovers nodes in
    nondecreasing hop order, so first-discovery IS the min-hop the
    distributed union+min-agg computes."""
    import numpy as np
    import pandas as pd

    spark = e.sparkSession
    node_t = e.schema["src"].dataType.simpleString()
    epdf = e.toPandas()
    s = (
        seeds.select(F.col(seeds.columns[0]).alias("node"))
        .distinct()
        .toPandas()["node"]
        .to_numpy()
    )
    src = epdf["src"].to_numpy()
    dst = epdf["dst"].to_numpy()
    nodes, inv = np.unique(np.concatenate([src, dst, s]), return_inverse=True)
    src_i = inv[: src.size]
    dst_i = inv[src.size : src.size + dst.size]
    s_i = np.unique(inv[src.size + dst.size :])
    # CSR-style adjacency: edges sorted by source once, per-node slices
    order = np.argsort(src_i, kind="stable")
    ssrc = src_i[order]
    sdst = dst_i[order]
    bounds = np.searchsorted(ssrc, np.arange(nodes.size + 1))
    hop = np.full(nodes.size, -1, dtype=np.int64)
    hop[s_i] = 0
    frontier = s_i
    for r in range(1, rounds + 1):
        if frontier.size == 0:
            break
        starts = bounds[frontier]
        cnt = bounds[frontier + 1] - starts
        total = int(cnt.sum())
        if total:
            idx = np.repeat(starts, cnt) + (
                np.arange(total) - np.repeat(np.cumsum(cnt) - cnt, cnt)
            )
            neigh = sdst[idx]
            frontier = np.unique(neigh[hop[neigh] < 0])
            hop[frontier] = r
        else:
            frontier = s_i[:0]
    mask = hop >= 0
    return spark.createDataFrame(
        pd.DataFrame({"node": nodes[mask], "hop": hop[mask]})
        if mask.any()
        else pd.DataFrame({"node": [], "hop": []}),
        f"node {node_t}, hop long",
    )


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int,
) -> DataFrame:
    """Multi-source breadth-first hop distances over an undirected
    graph — "how many co-purchase hops from the seed set is every
    item?", the graph-proximity feature (seed-distance labeling for
    crawl frontier prioritization, recommendation radius, influence
    neighborhoods). GraphX's Pregel ShortestPaths reduces to the same
    per-superstep join+min-agg; this is that shape on DataFrames.

    Input is canonicalized exactly like kcore/triangle_counts (least,
    greatest + distinct, then both directions), so any edge-list
    convention works. `seeds` is a 1-column node frame; seeds absent
    from the graph still appear at hop 0. Computes EXACTLY the
    `rounds`-round expansion — like the R-round kcore peel, a
    fixed-round BFS is a deterministic function of the data, which is
    what the generated SQL oracle replays round by round; nodes
    unreached within `rounds` are absent (hop > R is unknowable from
    R rounds). An exhausted frontier makes every remaining round the
    identity, so the loop stops early with the identical table.

    Scale shape: the directed edge table materializes ONCE
    (localCheckpoint — the triangle lesson; never recompute the
    upstream self-join per round). Each round joins ONLY THE NEW
    FRONTIER (nodes first discovered last round) against the edges —
    per-round cost is |frontier|-proportional, the textbook BFS
    bound, not |reached| — with the frontier BROADCAST under the
    `graph_broadcast` gate (its count is a cheap scan of the
    checkpointed distance table), so the edge table is never
    re-shuffled per round. One equi-join + one partial-agg'd min
    groupBy per round, checkpointed with eager release of the
    superseded distance snapshot: plan depth and executor memory stay
    O(1) in rounds.

    Returns (node, hop) for every node reached within `rounds`.
    """
    if rounds < 0:
        raise ValueError(f"bfs_hops: rounds must be ≥ 0, got {rounds}")
    ckpt, release = _ckpt_tools(edges)
    und = (
        edges.select(
            F.least("src", "dst").alias("lo"),
            F.greatest("src", "dst").alias("hi"),
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
    )
    e, e_ids = ckpt(
        und.select(F.col("lo").alias("src"), F.col("hi").alias("dst")).unionByName(
            und.select(F.col("hi").alias("src"), F.col("lo").alias("dst"))
        )
    )
    # materialized checkpoint → one cheap count; under the gate the
    # whole expansion runs on the driver (directed rows here, 2× the
    # undirected edge count)
    if gates.small("graph_driver", e.count()):
        try:
            return _driver_bfs(e, seeds, rounds)
        finally:
            release(e_ids)
    dist, held = ckpt(
        seeds.select(F.col(seeds.columns[0]).alias("node"))
        .distinct()
        .withColumn("hop", F.lit(0).cast("long"))
    )
    try:
        for r in range(1, rounds + 1):
            frontier = dist.filter(F.col("hop") == r - 1)
            # dist is a materialized checkpoint, so the frontier count
            # is a cheap ExistingRDD scan; it gates broadcasting the
            # frontier into the edge join (the edge table then never
            # shuffles — before, every round sort-merge-shuffled the
            # full directed edge table) and detects exhaustion: an
            # empty frontier makes every remaining round the identity,
            # so stopping early returns the identical table
            n_frontier = frontier.count()
            if n_frontier == 0:
                break
            reached = _bcast(
                frontier, gates.small("graph_broadcast", n_frontier)
            ).join(e, frontier["node"] == e["src"]).select(
                F.col("dst").alias("node"), F.lit(r).cast("long").alias("hop")
            )
            nxt = (
                dist.unionByName(reached)
                .groupBy("node")
                .agg(F.min("hop").alias("hop"))
            )
            nxt, ids = ckpt(nxt)
            release(held)
            dist, held = nxt, ids
    finally:
        release(e_ids)
    return dist
