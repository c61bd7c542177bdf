"""Dedup clustering: connected components over near-dup pairs and
cluster-representative selection (the "which copy do we keep" step).

Pair generators (llm.dedup: exact, MinHash-LSH, SimHash; llm.similarity:
embedding near-dup) emit EDGES — (doc_a, doc_b) with doc_a < doc_b. A
training-data dedup must then group transitively-connected docs into
clusters and keep one representative per cluster; this module is that
step, as pure DataFrame iterations.

Two algorithms behind one API:

1. Min-label propagation (default first try). label(v) starts as v;
   each round every node takes the min of its own label and its
   neighbors' labels; fixpoint = every node holds the min doc_id of
   its component. Rounds needed = graph diameter, and near-dup graphs
   are unions of near-cliques (diameter 2-3 in practice), so 3-5
   rounds close them.
2. Alternating large-star/small-star contraction (Kiveris et al.,
   "Connected Components in MapReduce and Beyond", SoCC'14) — the
   adversarial-diameter path: converges in O(log n) rounds on ANY
   graph (a diameter-n chain included) using the same join+min
   building blocks. `algorithm="auto"` (default) runs propagation and
   switches to star contraction if the diameter exceeds `max_iter`
   instead of raising; `algorithm="star"` goes straight there.

Scale notes (100 TB):
- Each round of either algorithm is equi-joins + partial-agg'd groupBy
  mins — shuffles on doc_id, AQE-coalesced as components collapse.
  Star contraction never inflates the edge set beyond the neighbor
  list it already materializes (each node emits ≤ deg(u) edges).
- Lineage is truncated every round with localCheckpoint(): iterative
  plans otherwise grow exponentially and re-execute prior rounds.
- Superseded snapshots are released eagerly — an N-round run holds
  ONE labels/edges table in executor memory, not N.
- Propagation convergence is detected by sum(label): labels only ever
  decrease, so an unchanged sum IS the fixpoint. Star convergence is
  an unchanged (count, hash-sum) edge-set fingerprint — one scalar
  aggregate per round either way, no driver-side table diffing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from realtime0523_spark.core import gates


# When set to a list, every frame passed through a _ckpt_tools ckpt()
# appends its formatted physical plan here BEFORE materializing.
# Iterative operators (pagerank/kcore/BFS/label-prop) execute their
# rounds eagerly at checkpoint points, so the frame a caller can
# explain afterwards is only the final checkpoint scan — this hook is
# how tools/dump_plan.py records the per-round shapes the optimizer
# actually ran. None (the default) costs nothing.
PLAN_SINK: list | None = None


def _ckpt_tools(df: DataFrame):
    """(ckpt, release): localCheckpoint with eager release of
    superseded snapshots. Superseded checkpoints stay pinned in the
    block manager until the ContextCleaner happens to GC them — at
    100 TB each is a full table snapshot, so an N-round iteration
    would hold N snapshots of executor memory. Release eagerly; the
    next checkpoint is already materialized, so nothing can recompute
    through a released one."""
    sc = df.sparkSession.sparkContext

    def _ids() -> set:
        return set(sc._jsc.getPersistentRDDs().keySet().toArray())

    def ckpt(frame):
        if PLAN_SINK is not None:
            import io
            from contextlib import redirect_stdout

            buf = io.StringIO()
            with redirect_stdout(buf):
                frame.explain("formatted")
            PLAN_SINK.append(buf.getvalue())
        before = _ids()
        out = frame.localCheckpoint()  # eager: materializes now
        return out, _ids() - before

    def release(ids: set) -> None:
        live = sc._jsc.getPersistentRDDs()
        for i in ids:
            rdd = live.get(i)
            if rdd is not None:
                rdd.unpersist(False)

    return ckpt, release


def _propagate(edges: DataFrame, max_iter: int, ckpt, release):
    """Min-label propagation over a both-directions edge table.
    Returns the converged labels DataFrame (u, label), or None if the
    fixpoint was not reached within max_iter rounds."""
    labels = edges.select("u").distinct().withColumn("label", F.col("u"))
    prev_sum = labels.agg(F.sum("label")).first()[0]

    def step(lbl):
        nbr_min = (
            edges.join(lbl.withColumnRenamed("u", "v"), "v")
            .groupBy("u")
            .agg(F.min("label").alias("nbr_label"))
        )
        return lbl.join(nbr_min, "u", "left").select(
            "u",
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
            ).alias("label"),
        )

    label_ids: set = set()
    for _ in range(max_iter):
        # two hops per convergence check: the check (sum) is a whole
        # Spark job whose fixed latency — not the tiny shuffle —
        # dominates a round, so pay it every OTHER hop; each hop still
        # checkpoints so no join input is ever evaluated twice. At
        # worst one wasted hop after the fixpoint.
        labels, ids1 = ckpt(step(labels))
        release(label_ids)
        labels, label_ids = ckpt(step(labels))
        release(ids1)
        cur_sum = labels.agg(F.sum("label")).first()[0]
        if cur_sum == prev_sum:  # labels only decrease: equal sum == fixpoint
            return labels
        prev_sum = cur_sum
    release(label_ids)
    return None


def _star_contract(edges: DataFrame, max_iter: int, ckpt, release):
    """Alternating large-star/small-star contraction (Kiveris et al.
    SoCC'14 Algorithm 2) over a both-directions edge table; O(log n)
    rounds on any graph. Returns converged labels (u, label).

    One alternation, per node u with m = min(Γ(u) ∪ {u}):
    - large-star rewires every LARGER neighbor v > u to m (edge
      (v, m)); strictly-smaller neighbors are kept by the emitting
      side of their own star. Preserves connectivity, halves the
      height of tall components.
    - small-star rewires every smaller-or-equal neighbor (and u
      itself) to m: edges (v, m) for v < u plus (u, m). Collapses the
      shallow trees large-star leaves into stars.
    Fixpoint: the edge set is a union of stars rooted at component
    minima — detected by an unchanged (count, xxhash-sum) fingerprint,
    one scalar aggregate per alternation."""
    e, e_ids = ckpt(edges.filter(F.col("u") < F.col("v")).distinct())

    def nbrs(ed):
        return ed.unionByName(
            ed.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )

    def with_min(ed):
        # m(u) = min over Γ⁺(u); one partial-agg'd groupBy, joined back
        n = nbrs(ed)
        mins = n.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        return n.join(mins, "u")

    def canonical(emitted):
        # each emitted edge has m ≤ both endpoints' neighborhoods'
        # minima, so (m, x) is already (smaller, larger); drop loops
        return emitted.filter(F.col("a") != F.col("b")).distinct()

    def fingerprint(ed):
        # decimal sum: exact and overflow-free under ANSI mode at any
        # edge count (a long sum of 2^63-range hashes overflows)
        row = ed.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).first()
        return row["n"], row["h"]

    prev = fingerprint(e)
    for _ in range(max_iter):
        g = with_min(e)
        large = canonical(
            g.filter(F.col("v") > F.col("u")).select(
                F.col("m").alias("a"), F.col("v").alias("b")
            )
        )
        e1, ids1 = ckpt(large.select(F.col("a").alias("u"), F.col("b").alias("v")))
        g2 = with_min(e1)
        small = canonical(
            g2.filter(F.col("v") < F.col("u"))
            .select(F.col("m").alias("a"), F.col("v").alias("b"))
            .unionByName(
                g2.select(F.col("m").alias("a"), F.col("u").alias("b")).distinct()
            )
        )
        e2, ids2 = ckpt(small.select(F.col("a").alias("u"), F.col("b").alias("v")))
        release(e_ids)
        release(ids1)
        e, e_ids = e2, ids2
        cur = fingerprint(e)
        if cur == prev:
            # stars: every node's min-neighbor (or itself) is its root
            return nbrs(e).groupBy("u").agg(
                F.least(F.min("v"), F.first("u")).alias("label")
            )
        prev = cur
    raise RuntimeError(
        f"star contraction did not converge in {max_iter} alternations — "
        f"this bounds components of ~2^{max_iter} nodes and should be "
        f"unreachable; raise max_iter."
    )


def _driver_union_find(edges: DataFrame) -> DataFrame:
    """Component minima via one collect + union-find — the
    `algorithm="auto"` small-graph path. `edges` is the checkpointed
    both-directions loop-free edge set; collecting the u < v half
    fetches each undirected edge once — through Arrow (`toPandas`,
    round-14: the row-collect held ~10× the payload in Row objects at
    the 1M-edge gate ceiling; two int64 numpy columns are the honest
    "16 MB" the gate arithmetic assumes). Union-by-min-root keeps
    every tree's root equal to its component minimum (merging always
    attaches the larger root under the smaller), so `find` after all
    unions IS the cluster label — identical to the propagation/star
    contract."""
    pdf = edges.filter(F.col("u") < F.col("v")).toPandas()
    us, vs = pdf["u"].tolist(), pdf["v"].tolist()
    parent: dict = {}

    def find(x):
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for u, v in zip(us, vs):
        ru, rv = find(u), find(v)
        if ru != rv:
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    labels = [(n, find(n)) for n in parent]
    spark = edges.sparkSession
    u_type = edges.schema["u"].dataType.simpleString()
    return spark.createDataFrame(
        labels, f"doc_id {u_type}, cluster_id {u_type}"
    )


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 25,
    algorithm: str = "auto",
) -> DataFrame:
    """(doc_id, cluster_id) for every doc that appears in `pairs`,
    where cluster_id is the minimum doc_id of the doc's connected
    component. Docs with no near-dup edge are singletons by definition
    and are NOT emitted (callers treat absence as "own cluster") —
    this keeps the output proportional to the duplicate density, not
    the corpus.

    `algorithm`: "auto" (driver-side union-find when the MEASURED
    undirected edge count passes the `cc_driver` gate, else min-label
    propagation, switching to large-star/small-star contraction if the
    diameter exceeds `max_iter` rounds), "propagation" (distributed
    always; raise instead of switching — the loud variant for
    pipelines that treat a pathological pair graph as a data bug), or
    "star" (straight to the O(log n) contraction, for graphs known to
    be long-chained). The explicit algorithms never take the driver
    path, so their convergence contracts stay testable.

    Self-pairs (src == dst) are ignored — filtered here, at the entry,
    so every algorithm sees the identical loop-free edge set (a
    self-loop is not a near-dup edge; a doc whose only "pair" is
    itself is a singleton and, per the contract above, not emitted).
    """
    if algorithm not in ("auto", "propagation", "star"):
        raise ValueError(f"unknown algorithm {algorithm!r}")
    ckpt, release = _ckpt_tools(pairs)

    e = pairs.select(F.col(src).alias("u"), F.col(dst).alias("v")).filter(
        F.col("u") != F.col("v")
    )
    edges, edge_ids = ckpt(
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
    )
    # full count, not limit(1): same single cheap job over the
    # checkpoint, and the count doubles as the driver-path gate
    n_directed = edges.count()
    if n_directed == 0:  # no edges at all
        release(edge_ids)
        return edges.select(
            F.col("u").alias("doc_id"), F.col("v").alias("cluster_id")
        )
    if algorithm == "auto" and gates.small("cc_driver", n_directed // 2):
        out = _driver_union_find(edges)
        release(edge_ids)
        return out

    labels = None
    if algorithm in ("auto", "propagation"):
        labels = _propagate(edges, max_iter, ckpt, release)
        if labels is None and algorithm == "propagation":
            release(edge_ids)
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} rounds; "
                f"the pair graph has diameter > {max_iter} (pathological "
                f"chain) — raise max_iter, or use algorithm='auto'/'star' "
                f"for the O(log n) large-star/small-star contraction."
            )
    if labels is None:  # algorithm == "star", or auto fallback
        labels = _star_contract(edges, max(max_iter, 40), ckpt, release)
    release(edge_ids)
    return labels.select(F.col("u").alias("doc_id"), F.col("label").alias("cluster_id"))


def keep_best(
    docs: DataFrame,
    components: DataFrame,
    quality_col: str = "quality_score",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per cluster: the representative to keep (highest quality, ties
    to the smallest doc_id) and the member count. The other members are
    the dedup's drop set.

    One broadcast-able join (components ≪ corpus: only docs with a
    near-dup edge appear) + one groupBy cluster. The max_by tiebreak
    is encoded in a single struct-max: max of (quality, -doc_id)
    lexicographic == highest quality then smallest id — no window, no
    second shuffle.
    """
    member = docs.select(F.col(id_col).alias("doc_id"), F.col(quality_col)).join(
        F.broadcast(components), "doc_id"
    )
    best = F.max(
        F.struct(F.col(quality_col).alias("q"), (-F.col("doc_id")).alias("neg_id"))
    )
    return member.groupBy("cluster_id").agg(
        (-best.getField("neg_id")).alias("kept_doc_id"),
        F.count(F.lit(1)).alias("n_members"),
    )


def dedup_filter(
    docs: DataFrame,
    components: DataFrame,
    quality_col: str = "quality_score",
    id_col: str = "doc_id",
) -> DataFrame:
    """The dedup itself: `docs` minus every non-representative cluster
    member. Singletons (no edge, hence no components row) pass through
    untouched; each cluster keeps exactly its `keep_best` row.

    Anti-join against the (small) drop set — at 100 TB the corpus is
    never shuffled: both the membership probe and the drop-set lookup
    broadcast the duplicate-density-sized side.
    """
    kept = keep_best(docs, components, quality_col, id_col)
    drop = components.join(
        F.broadcast(kept),
        (components.cluster_id == kept.cluster_id)
        & (components.doc_id == kept.kept_doc_id),
        "left_anti",
    ).select("doc_id")
    return docs.join(
        F.broadcast(drop), docs[id_col] == drop.doc_id, "left_anti"
    )
