"""Embedding similarity search: brute-force cosine top-k (baseline)
and sign-LSH bucketed ANN (scale path).

Vectors are `array<float>` columns. All hot-path arithmetic runs as
Arrow-batched numpy kernels (mapInPandas / applyInPandas /
pandas_udf): Spark's higher-order array functions (`zip_with` +
`aggregate`) are interpreted per element — measured 20-50× slower
than one vectorized matmul per Arrow batch, and a 100 TB corpus scan
lives or dies on that constant. Elements are cast float32→float64
before multiplying, matching the SQL oracle's CAST(x AS DOUBLE);
query outputs are rounded to 9 dp on both sides, which absorbs the
summation-order difference between numpy's pairwise sums and the
oracle's sequential fold (≤ 1 ulp on 64-dim dots).

One ranking rule holds for every search operator: `score` is rounded
half-up at 9 dp (functions.scalar.round9) and each query keeps its top
k by (score desc, ids asc), ranked 1..k in `rk` (_rank_topk). Shortlist
indexes (PQ, IVFADC, SQ, random projection) re-rank through the one
fetch-pair-score tail, cross_rerank_topk.

Scale: brute force is O(n·q) dot products with per-batch partial
top-k — fine for a broadcast query set; the LSH path buckets vectors
by hyperplane sign bits (linear scan) and only scores within buckets.
At 100 TB: broadcast the (small) query set, never shuffle the corpus.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from realtime0523_spark.functions.scalar import round9
from realtime0523_spark.llm.text import tokens
from realtime0523_spark.operators.windows import topk_per_group


def _rank_topk(
    scored: DataFrame, query_id_col: str, id_cols: list[str], k: int
) -> DataFrame:
    """The final rank step of every search operator: round `score` to
    9 dp, then keep each query's top k by (score desc, ids asc)."""
    return topk_per_group(
        scored.withColumn("score", round9("score")),
        query_id_col,
        [F.desc("score"), *[F.col(c) for c in id_cols]],
        k,
        rank_col="rk",
    )


def _mat(series: pd.Series) -> np.ndarray:
    """(n, dims) float64 matrix from an Arrow array<float> column."""
    return np.vstack(series.to_numpy()).astype(np.float64)


def cosine_pudf(a: Column, b: Column) -> Column:
    """Row-wise cosine of two vector columns (Arrow-batched numpy)."""

    @F.pandas_udf(T.DoubleType())
    def _cos(va, vb):
        ma, mb = _mat(va), _mat(vb)
        dots = np.einsum("ij,ij->i", ma, mb)
        return pd.Series(
            dots / (np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1))
        )

    return _cos(a, b)


# Column-expression dot product for lsh_bucket's one-off projections;
# hot paths use the numpy kernels above.
def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
    query_vec_col: str = "qv",
    label_col: str | None = None,
    query_label_col: str | None = None,
) -> DataFrame:
    """Brute-force exact top-k neighbors per query vector (self-match
    excluded when ids collide).

    With `label_col`/`query_label_col` set, corpus rows sharing the
    query's label are ALSO excluded — the hard-negative-mining mask
    (see hard_negative_topk).

    The query set is collected and closure-broadcast (it is small by
    contract); the corpus streams through one mapInPandas pass that
    scores a whole Arrow batch against ALL queries in a single
    (batch × dims) @ (dims × nq) matmul and keeps only each query's
    per-batch top-k. The kernel ranks by the 9-dp-rounded score
    (_r9_np, bit-identical to round9), the same total order as the
    final rank, so batch-local pruning is exact: top-k is
    distributive. The final window rank then sees ≤ k·nq rows per
    batch instead of n·q scored rows — the corpus is scanned once,
    nothing big ever shuffles."""
    if (label_col is None) != (query_label_col is None):
        raise ValueError("label_col and query_label_col must be set together")
    qcols = [query_id_col, query_vec_col] + (
        [query_label_col] if query_label_col else []
    )
    qrows = queries.select(*qcols).collect()
    qids = np.array([r[0] for r in qrows])
    qmat = np.vstack([np.asarray(r[1], dtype=np.float64) for r in qrows])
    qnorm = np.linalg.norm(qmat, axis=1)
    qlabels = np.array([r[2] for r in qrows]) if query_label_col else None

    scan_cols = [id_col, vec_col] + ([label_col] if label_col else [])
    out_schema = T.StructType(
        [
            T.StructField(query_id_col, queries.schema[query_id_col].dataType),
            T.StructField(id_col, corpus.schema[id_col].dataType),
            T.StructField("score", T.DoubleType()),
        ]
    )

    def score_batches(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            labels = pdf[label_col].to_numpy() if label_col else None
            mat = _mat(pdf[vec_col])
            scores = _r9_np(
                (mat @ qmat.T)
                / (np.linalg.norm(mat, axis=1)[:, None] * qnorm[None, :])
            )  # (n, nq), rounded as the final rank rounds
            parts = []
            for j, qid in enumerate(qids):
                s = scores[:, j]
                mask = ids != qid  # exclude self-match
                if labels is not None:
                    mask &= labels != qlabels[j]  # hard-negative mask
                cand_idx = np.nonzero(mask)[0]
                if len(cand_idx) == 0:
                    continue
                # order by (score desc, id asc) — same total order as the
                # final rank, so ties at the k-cutoff prune identically
                top = cand_idx[np.lexsort((ids[cand_idx], -s[cand_idx]))][:k]
                parts.append(
                    pd.DataFrame(
                        {
                            query_id_col: qid,
                            id_col: ids[top],
                            "score": s[top],
                        }
                    )
                )
            if parts:
                yield pd.concat(parts, ignore_index=True)

    scored = corpus.select(*scan_cols).mapInPandas(score_batches, out_schema)
    return _rank_topk(scored, query_id_col, [id_col], k)


def hard_negative_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "qid",
    query_vec_col: str = "qv",
    query_label_col: str = "qlabel",
) -> DataFrame:
    """Hard-negative mining for contrastive training (the in-batch-
    negatives upgrade of DPR, Karpukhin et al. EMNLP 2020 §3.2, and
    every bi-encoder recipe since): for each query, the k most-similar
    corpus vectors with a DIFFERENT label — maximally confusable
    non-matches, the pairs a contrastive loss learns the most from.
    Easy negatives (random different-label) are cosine-distant and
    contribute ~zero gradient; these are the near-boundary ones.

    Same exact one-pass scan as cosine_topk (the label mask is applied
    inside the batch-local prune, so pruning stays exact); at mining
    scale the same mask drops into the ANN shortlists instead —
    retrieve k + expected-same-label extra and filter."""
    return cosine_topk(
        corpus,
        queries,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
        label_col=label_col,
        query_label_col=query_label_col,
    )


# --- sign-LSH (random hyperplanes with a deterministic portable PRNG) --

LSH_BITS = 4
LSH_TABLES = 8

# LCG parameters for the deterministic hyperplanes — exported so the
# DuckDB oracle twin is generated from the SAME constants and cannot
# drift (glibc rand() multiplier/increment; SALT decorrelates bits).
LCG_A = 1103515245
LCG_C = 12345
LCG_M = 2147483648
LCG_SALT = 9973


def _plane_component(bit: int, dim: int) -> float:
    """Deterministic hyperplane component in [-0.5, 0.5): an LCG on
    (bit, dim) — reproducible anywhere, including plain SQL."""
    v = (LCG_A * (bit * LCG_SALT + dim) + LCG_C) % LCG_M
    return v / LCG_M - 0.5


def _r9_np(x):
    """Round-half-up at 9 dp (numpy) — the same quantization the SQL
    twins apply, so cross-engine float-sum-order differences (pairwise
    vs sequential, ≤1 ulp) can never flip a bucketing decision."""
    import numpy as np

    return np.floor(x * 1e9 + 0.5) / 1e9


def lsh_bucket(vec: Column, dims: int, bits: int = LSH_BITS, table: int = 0) -> Column:
    """Bucket id = sign bits of `bits` hyperplane projections; each
    hash table uses a disjoint hyperplane family. The sign decision is
    taken on the 9dp-quantized projection (see _r9_np)."""
    total = F.lit(0).cast("bigint")
    for i in range(bits):
        plane = F.array(
            *[F.lit(_plane_component(table * bits + i, d)) for d in range(dims)]
        )
        proj = round9(_dot(vec, plane))
        total = total + F.when(proj > 0, F.lit(1 << i).cast("bigint")).otherwise(F.lit(0))
    return total


def _lsh_table_entries(
    df: DataFrame, vec_col: str, dims: int, bits: int, tables: int
) -> DataFrame:
    """(row, table, bucket) entries for all hash tables in one pass —
    explode of a per-row bucket array, so candidate generation is a
    single equi-join on (table, bucket) regardless of L.

    All `tables*bits` projections are one Arrow-batched numpy matmul
    (a Pandas UDF): higher-order array functions are interpreted
    per-element in Spark, and profiling showed the 32-plane fold
    dominating the ANN path. The index carries an EXACT SQL oracle,
    so bucket membership must be engine-independent: the
    sign decision runs on the 9dp-quantized projection (numpy pairwise
    sums vs a SQL sequential fold differ by ≤1 ulp on 64-dim dots,
    which quantization absorbs — same discipline as the score
    ranks)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, LongType

    planes = np.array(
        [
            [_plane_component(b, d) for d in range(dims)]
            for b in range(tables * bits)
        ]
    )  # (tables*bits, dims); row t*bits+i = bit i of table t
    weights = 1 << np.arange(bits)

    # no type hints: `from __future__ import annotations` stringifies
    # them and pandas_udf can't resolve the local pd import; the
    # returnType alone selects scalar eval.
    @F.pandas_udf(ArrayType(LongType()))
    def bucket_ids(v):
        mat = np.vstack(v.to_numpy()).astype(np.float64)  # (n, dims)
        proj = _r9_np(mat @ planes.T)  # (n, tables*bits), quantized
        bits_m = (proj > 0).reshape(len(v), tables, bits)
        ids = (bits_m * weights).sum(axis=2).astype(np.int64)  # (n, tables)
        return pd.Series(list(ids))

    return df.select("*", F.posexplode(bucket_ids(F.col(vec_col))).alias("__t", "__bucket"))


def ann_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    dims: int,
    k: int = 5,
    bits: int = LSH_BITS,
    tables: int = LSH_TABLES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
    query_vec_col: str = "qv",
    probe_hamming: int = 0,
) -> DataFrame:
    """Multi-table sign-LSH approximate top-k.

    Candidates = corpus vectors sharing ANY of `tables` hash-table
    buckets with the query (per-bit collision prob p=1-θ/π ⇒ recall
    ≈ 1-(1-p^bits)^tables); exact cosine re-rank within candidates.
    More tables → higher recall, more candidates; more bits → smaller
    buckets. All candidate generation is one equi-join on
    (table, bucket) — never a cross join.

    `probe_hamming=1` turns on MULTI-PROBE (Lv et al., VLDB 2007):
    each query additionally probes every bucket at Hamming distance 1
    from its own — the vectors a near-boundary hyperplane sign flip
    would have bucketed elsewhere. Recall rises like adding ~`bits`
    extra tables but the INDEX does not grow at all: only the
    (tiny, broadcast) query-side entries multiply by bits+1. The
    deterministic all-single-flips probe set keeps the index
    SQL-replayable (the paper's margin-ordered probing is a
    cost-ordering of the same set)."""
    if probe_hamming not in (0, 1):
        raise ValueError(
            f"probe_hamming supports 0 (exact bucket) or 1 (all "
            f"single-bit flips), got {probe_hamming}"
        )
    c = _lsh_table_entries(corpus, vec_col, dims, bits, tables)
    q = _lsh_table_entries(queries, query_vec_col, dims, bits, tables).select(
        F.col(query_id_col),
        F.col(query_vec_col),
        F.col("__t").alias("__qt"),
        F.col("__bucket").alias("__qbucket"),
    )
    if probe_hamming == 1:
        probes = F.array(
            F.col("__qbucket"),
            *[
                F.col("__qbucket").bitwiseXOR(F.lit(1 << i))
                for i in range(bits)
            ],
        )
        q = q.select(
            query_id_col,
            query_vec_col,
            "__qt",
            F.explode(probes).alias("__qbucket"),
        )
    cand = (
        c.join(
            F.broadcast(q),
            (F.col("__t") == F.col("__qt"))
            & (F.col("__bucket") == F.col("__qbucket"))
            & (F.col(id_col) != F.col(query_id_col)),
        )
        .select(query_id_col, id_col, vec_col, query_vec_col)
        .dropDuplicates([query_id_col, id_col])
    )
    scored = cand.select(
        F.col(query_id_col),
        F.col(id_col),
        cosine_pudf(F.col(vec_col), F.col(query_vec_col)).alias("score"),
    )
    return _rank_topk(scored, query_id_col, [id_col], k)


# --- IVF (inverted-file ANN over spherical k-means cells) ------------


def ivf_train_centroids(
    corpus: DataFrame,
    n_cells: int = 16,
    sample: int = 2048,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Train unit-norm cell centroids by spherical k-means (Lloyd) on a
    bounded, deterministic corpus sample.

    The sample is the `sample` rows with the smallest hash(id) — a
    TakeOrdered, i.e. per-partition top-k then a driver merge, so at
    100 TB the full corpus is never collected and the sample is stable
    under repartitioning/replay (no rand()). IVF training on a sample
    is the standard recipe (FAISS does the same); only assignment
    (below) touches every row, as one map-only Arrow pass.

    Deterministic init: the first `n_cells` sampled vectors (hash
    order). Empty cells keep their previous centroid.
    """
    rows = (
        corpus.select(id_col, vec_col)
        .orderBy(F.pmod(F.hash(F.col(id_col)), F.lit(1_000_003)), F.col(id_col))
        .limit(sample)
        .collect()
    )
    if len(rows) < n_cells:
        raise ValueError(
            f"IVF training sample has {len(rows)} vectors < n_cells={n_cells}; "
            f"lower n_cells or raise `sample`."
        )
    x = np.vstack([np.asarray(r[1], dtype=np.float64) for r in rows])
    # zero-norm guard: a zero vector normalizes to zero, not NaN
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    cent = x[:n_cells].copy()
    for _ in range(iters):
        assign = (x @ cent.T).argmax(axis=1)
        for c in range(n_cells):
            members = x[assign == c]
            if len(members):
                v = members.sum(axis=0)
                cent[c] = v / max(np.linalg.norm(v), 1e-12)
    return cent


def _nearest_cells_udf(centroids: np.ndarray, nprobe: int):
    """Arrow-batched: top-`nprobe` centroid ids per vector, by cosine
    (centroids are unit-norm, so the dot product ranks)."""
    cent = np.ascontiguousarray(centroids, dtype=np.float64)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def nearest(v):
        # raw dots, not normalized-cosine: centroids are unit-norm so
        # the rank is identical, and the SQL twin quantizes the SAME
        # quantity — normalizing here would round a different value
        # and let tie patterns diverge across engines
        sims = _r9_np(_mat(v) @ cent.T)  # (n, n_cells), quantized
        # stable sort: quantize-equal dots break ties by cell index,
        # the same order the SQL twin's (dot DESC, cell ASC) rank uses
        top = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe].astype(np.int32)
        return pd.Series(list(top))

    return nearest


def ann_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    n_cells: int = 16,
    nprobe: int = 4,
    k: int = 5,
    sample: int = 2048,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
    query_vec_col: str = "qv",
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors are bucketed into their
    nearest k-means cell (one map-only pass, centroids in the UDF
    closure = a broadcast); each query probes its `nprobe` nearest
    cells; exact cosine re-ranks within the probed cells.

    Scale shape: candidate generation is an equi-join on the cell id
    with the (small) exploded query-probe set broadcast — the corpus
    never shuffles, never self-joins. Recall/cost is tuned by
    nprobe/n_cells exactly as in FAISS IVF-Flat; recall vs the exact
    baseline is asserted in tests/test_llm.py. Pass `centroids` to
    reuse a trained index across queries (else trains on the spot).
    """
    if centroids is None:
        centroids = ivf_train_centroids(
            corpus, n_cells=n_cells, sample=sample, id_col=id_col, vec_col=vec_col
        )
    cells = assign_ivf_cells(corpus, centroids, id_col=id_col, vec_col=vec_col)
    return ivf_query_cells(
        cells,
        queries,
        centroids,
        nprobe=nprobe,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
    )


def assign_ivf_cells(
    corpus: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "__cell",
) -> DataFrame:
    """Map-only nearest-cell assignment, PROJECTED to
    (id, vector, cell). The materializable half of the IVF index —
    what a streaming appender commits per batch and a compaction job
    rewrites. Projecting (rather than withColumn on the full corpus)
    keeps payload columns out of the probe join and makes the index
    immune to corpus columns that collide with query-side names."""
    assign1 = _nearest_cells_udf(centroids, 1)
    return corpus.select(
        id_col,
        vec_col,
        F.element_at(assign1(F.col(vec_col)), 1).alias(cell_col),
    )


def ivf_query_cells(
    cells: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    nprobe: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
    query_vec_col: str = "qv",
    cell_col: str = "__cell",
) -> DataFrame:
    """Serve top-k from a STORED (id, vector, cell) index — the probe
    join + exact re-rank half of ann_topk_ivf, split out so an
    at-rest index maintained incrementally (streaming/ann_index.py)
    shares the exact batch query path. The corpus/index never
    shuffles: the exploded query-probe set broadcasts onto the cell
    equi-join."""
    probe = _nearest_cells_udf(centroids, nprobe)
    q = queries.select(
        query_id_col,
        query_vec_col,
        F.explode(probe(F.col(query_vec_col))).alias("__qcell"),
    )
    cand = (
        cells.join(
            F.broadcast(q),
            (F.col(cell_col) == F.col("__qcell"))
            & (F.col(id_col) != F.col(query_id_col)),
        )
        .select(query_id_col, id_col, vec_col, query_vec_col)
        .dropDuplicates([query_id_col, id_col])
    )
    scored = cand.select(
        F.col(query_id_col),
        F.col(id_col),
        cosine_pudf(F.col(vec_col), F.col(query_vec_col)).alias("score"),
    )
    return _rank_topk(scored, query_id_col, [id_col], k)


# Knuth multiplicative-hash constant; dim weights in [1, 2) derived
# from it are exported so the SQL oracle replays them exactly.
RERANK_WEIGHT_MULT = 2654435761
RERANK_WEIGHT_MOD = 1009


def _rerank_weights(dims: int) -> np.ndarray:
    idx = np.arange(dims, dtype=np.int64)
    return 1.0 + ((idx * RERANK_WEIGHT_MULT) % RERANK_WEIGHT_MOD) / float(
        RERANK_WEIGHT_MOD
    )


def interaction_score_pudf(a: Column, b: Column) -> Column:
    """Deterministic stand-in for a cross-encoder pair scorer: a
    dim-WEIGHTED cosine, w_d = 1 + hash(d)/m in [1, 2) from a Knuth
    multiplicative hash. Re-weighting feature interactions is exactly
    what a learned pair scorer does, and it is NOT monotone in plain
    cosine — it genuinely re-orders a cosine-ranked short list (the
    property a second stage must have; asserted in tests) while
    staying exactly SQL-replayable. A real learned cross-encoder drops
    into the same `scorer` slot of cross_rerank_topk as a pandas_udf
    with this signature. Arrow-batched; one numpy pass per batch."""

    @F.pandas_udf(T.DoubleType())
    def _score(va, vb):
        ma, mb = _mat(va), _mat(vb)
        w = _rerank_weights(ma.shape[1])
        wdot = (ma * mb) @ w
        na = np.sqrt((ma * ma) @ w)
        nb = np.sqrt((mb * mb) @ w)
        return pd.Series(wdot / (na * nb))

    return _score(a, b)


def cross_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    scorer=None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
    query_vec_col: str = "qv",
) -> DataFrame:
    """Second-stage re-rank — the cross-encoder slot of a two-stage
    retrieval stack (retrieve cheaply with ANN, re-score the short
    list with an expensive pairwise model, keep the top k).

    `candidates` is the first stage's (query_id, id) pair list —
    |queries| × k_retrieve rows, small BY CONTRACT. It broadcasts onto
    the corpus to fetch candidate vectors (the corpus is filtered by a
    broadcast hash join, never shuffled), the query vectors broadcast
    on top, and every surviving pair is scored ONCE by `scorer` in
    Arrow batches. `scorer(vec, query_vec) -> Column` defaults to the
    deterministic interaction scorer above, keeping the whole stack
    oracle-replayable end-to-end (emb_ann_rerank). The shortlist
    indexes (PQ, IVFADC, SQ, random projection) end here too, with
    `scorer=cosine_pudf`: their exact re-rank is this same tail.

    Scale shape: two broadcast joins + one map-only Arrow scoring pass
    over |queries|·k_retrieve rows; the only shuffle is the final
    per-query top-k, whose input is already candidate-sized."""
    cand = candidates.select(query_id_col, id_col)
    fetched = corpus.select(id_col, vec_col).join(F.broadcast(cand), id_col)
    paired = fetched.join(
        F.broadcast(queries.select(query_id_col, query_vec_col)), query_id_col
    )
    score = (scorer or interaction_score_pudf)(
        F.col(vec_col), F.col(query_vec_col)
    )
    scored = paired.select(
        F.col(query_id_col), F.col(id_col), score.alias("score")
    )
    return _rank_topk(scored, query_id_col, [id_col], k)


def label_centroids(
    emb: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Unit-norm centroid per label value, as an (n_labels, dims)
    matrix in ascending-label order (row i = i-th smallest label).

    Computed as the normalized per-dimension SUM (normalizing makes
    sum ≡ mean), aggregated fully in Spark — only |labels|×dims
    scalars ever reach the driver, so this is a legal collect at any
    corpus size. The formula is plain SQL (per-dim sums + a window
    normalize), which is what lets IVF-with-label-cells carry an exact
    DuckDB oracle where the Lloyd-trained variant cannot (its training
    sample ordering uses engine-local hashing)."""
    rows = (
        emb.select(label_col, F.posexplode(vec_col).alias("d", "v"))
        .groupBy(label_col, "d")
        .agg(F.sum(F.col("v").cast("double")).alias("s"))
        .collect()
    )
    return centroids_from_sums(rows)


def centroids_from_sums(rows) -> np.ndarray:
    """Normalized centroid matrix from (label, dim, sum) triples —
    shared by label_centroids and the streaming index appender, whose
    per-batch partial sums fold to the identical triples (per-dim SUM
    is distributive, so incremental maintenance is exact)."""
    labels = sorted({r[0] for r in rows})
    dims = max(r[1] for r in rows) + 1
    cent = np.zeros((len(labels), dims))
    pos = {lb: i for i, lb in enumerate(labels)}
    for r in rows:
        cent[pos[r[0]], r[1]] = r[2]
    cent /= np.maximum(np.linalg.norm(cent, axis=1, keepdims=True), 1e-12)
    return cent


def embedding_dedup_pairs(
    emb: DataFrame,
    threshold: float,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within a blocking key
    (coarse cluster/IVF cell): one shuffle groups each block onto one
    task, which computes ALL pairwise cosines of the block in a single
    normalized X@Xᵀ matmul and emits only pairs >= threshold.

    Each vector moves through Arrow once per block (n·dims), not once
    per pair (n²·dims) as a pair self-join would — blocking turns n²
    work into Σ block², and the matmul makes the per-block constant
    tiny. The 100 TB contract is that one IVF cell fits a task (same
    contract the self-join variant's per-key hash partition has);
    oversized cells get re-blocked by a finer clustering first."""
    blk_field = emb.schema[block_col].dataType
    id_field = emb.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("blk", blk_field),
            T.StructField("id_a", id_field),
            T.StructField("id_b", id_field),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )
    # the kernel keeps a 1e-9 slack under the threshold so the FINAL
    # round-to-9dp-then-threshold filter decides the boundary: a pair
    # with raw cosine in [threshold-5e-10, threshold) rounds UP to the
    # threshold and must survive (this is the oracle's round-first
    # semantics; an unrounded >= filter would drop it)
    slack = threshold - 1e-9

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        ids = pdf[id_col].to_numpy()
        mat = _mat(pdf[vec_col])
        normed = mat / np.linalg.norm(mat, axis=1)[:, None]
        sims = normed @ normed.T
        ia, ib = np.triu_indices(len(ids), k=1)  # i<j in id order → id_a < id_b
        keep = sims[ia, ib] >= slack
        return pd.DataFrame(
            {
                "blk": np.full(int(keep.sum()), pdf[block_col].iloc[0]),
                "id_a": ids[ia[keep]],
                "id_b": ids[ib[keep]],
                "cos_sim": sims[ia[keep], ib[keep]],
            }
        )

    scored = emb.select(block_col, id_col, vec_col).groupBy(block_col).applyInPandas(
        block_pairs, out_schema
    )
    # round-then-threshold (half-up at 9 dp), matching the SQL oracle's
    # semantics exactly at the boundary; cos_sim stays raw in the output
    # round-then-threshold, the oracle's semantics at the boundary;
    # cos_sim stays raw in the output
    return scored.filter(round9("cos_sim") >= threshold)


# --- Product quantization (PQ-ADC shortlist + exact re-rank) ----------
#
# The third ANN rung after sign-LSH and IVF: compress each vector to
# M small codes (one codeword index per subspace), score candidates
# against a per-query lookup table of subspace dot products
# (asymmetric distance computation, ADC), then re-rank the short list
# exactly. Jégou, Douze, Schmid, "Product Quantization for Nearest
# Neighbor Search", IEEE TPAMI 2011 — public method, original code.
#
# Scale story: the coded corpus is M int8-sized codes per vector
# (64 float32 dims → 8 codes = 32× smaller), so the ADC scan reads a
# fraction of the bytes of a flat scan and the codes fit in memory at
# corpus sizes where raw vectors cannot. The scan itself is map-only
# (LUTs live in the UDF closure = broadcast); nothing big shuffles.

PQ_SUBSPACES = 8
PQ_RETRIEVE = 20


def pq_codebooks(
    emb: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Label-seeded PQ codebooks: the per-label MEAN vector, one row
    per label in ascending-label order, as an (n_labels, dims) matrix;
    subspace m's codebook is the column slice [m·subdim, (m+1)·subdim).

    Like the IVF inventory twin's label-seeded cells, seeding the
    codewords from a data column (instead of per-subspace Lloyd) keeps
    the index exactly SQL-replayable: a per-(label, dim) AVG is plain
    SQL in any engine. Only |labels|×dims scalars reach the driver —
    a legal collect at any corpus size. A Lloyd-per-subspace trainer
    can produce the same matrix shape and drop into `ann_topk_pq`'s
    `codebooks` argument unchanged."""
    rows = (
        emb.select(label_col, F.posexplode(vec_col).alias("d", "v"))
        .groupBy(label_col, "d")
        .agg(F.avg(F.col("v").cast("double")).alias("w"))
        .collect()
    )
    labels = sorted({r[0] for r in rows})
    dims = max(r[1] for r in rows) + 1
    cent = np.zeros((len(labels), dims))
    pos = {lb: i for i, lb in enumerate(labels)}
    for r in rows:
        cent[pos[r[0]], r[1]] = r[2]
    return cent


PQ_TRAIN_CODES = 16
PQ_TRAIN_ITERS = 4
PQ_TRAIN_SAMPLE = 1024


def pq_train_codebooks(
    corpus: DataFrame,
    n_codes: int = PQ_TRAIN_CODES,
    m: int = PQ_SUBSPACES,
    sample: int = PQ_TRAIN_SAMPLE,
    iters: int = PQ_TRAIN_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Lloyd-trained PQ codebooks (Jégou et al. TPAMI 2011 §III —
    the real trainer behind the label-seeded pq_codebooks twin):
    k-means with `n_codes` centroids run INDEPENDENTLY in each of the
    `m` subspaces, on a bounded deterministic corpus sample. Returns
    the same (n_codes, dims) matrix shape, dropping into
    `ann_topk_pq(codebooks=…)` unchanged.

    Deterministic AND SQL-replayable by construction (the
    emb_ann_pq_trained oracle replays every round as generated CTEs,
    the same pattern as the BPE trainer's):
    - sample = the `sample` rows with the smallest
      (md5(vec_id), vec_id) — a portable hash order (TakeOrdered at
      scale, stable under repartitioning, no rand());
    - init = the first `n_codes` sampled vectors' subvectors;
    - assignment = argmin of the 9-dp-quantized subspace L2, ties to
      the smallest code index;
    - update = per-(code, dim) mean, itself 9-dp-quantized — rounding
      the centroids each round pins both engines to identical values,
      so summation-order drift cannot compound across rounds;
    - empty codes keep their previous centroid.
    Only sample×dims scalars reach the driver; full-corpus assignment
    stays the map-only pq_encode pass."""
    from realtime0523_spark.llm.dedup import md5_int32

    rows = (
        corpus.select(id_col, vec_col)
        .orderBy(md5_int32(F.col(id_col).cast("string")), F.col(id_col))
        .limit(sample)
        .collect()
    )
    if len(rows) < n_codes:
        raise ValueError(
            f"PQ training sample has {len(rows)} vectors < n_codes="
            f"{n_codes}; lower n_codes or raise `sample`."
        )
    X = np.vstack([np.asarray(r[1], dtype=np.float64) for r in rows])
    return _lloyd_pq(X, n_codes, m, iters)


def _lloyd_pq(X: "np.ndarray", n_codes: int, m: int, iters: int) -> "np.ndarray":
    """Matrix-level per-subspace Lloyd trainer (the body of
    pq_train_codebooks, extracted so OPQ can retrain on rotated
    samples): init = first n_codes rows; assignment = argmin of the
    9-dp-quantized subspace L2 with ties to the smallest code;
    update = 9-dp-quantized per-(code, dim) mean; empty codes keep
    their previous centroid. Numerics are bit-identical to the SQL
    replay of emb_ann_pq_trained."""
    dims = X.shape[1]
    if dims % m:
        raise ValueError(
            f"PQ: dims {dims} not divisible by m={m} subspaces"
        )
    sd = dims // m
    cb = X[:n_codes].copy()
    for _ in range(iters):
        new = cb.copy()
        for j in range(m):
            Xm = X[:, j * sd : (j + 1) * sd]
            Cm = cb[:, j * sd : (j + 1) * sd]
            # direct (x-c)² sum, quantized before the argmin — the
            # exact total order the SQL twin's (round(d2), code) uses
            d2 = ((Xm[:, None, :] - Cm[None, :, :]) ** 2).sum(axis=-1)
            assign = np.argmin(_r9_np(d2), axis=1)
            for c in range(n_codes):
                members = Xm[assign == c]
                if len(members):
                    new[c, j * sd : (j + 1) * sd] = _r9_np(members.mean(axis=0))
        cb = new
    return cb


OPQ_ITERS = 3


def opq_train(
    corpus: DataFrame,
    n_codes: int = PQ_TRAIN_CODES,
    m: int = PQ_SUBSPACES,
    sample: int = PQ_TRAIN_SAMPLE,
    iters: int = PQ_TRAIN_ITERS,
    opq_iters: int = OPQ_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple["np.ndarray", "np.ndarray"]:
    """OPQ — Optimized Product Quantization (Ge, He, Ke, Sun, CVPR
    2013, the non-parametric alternation): learn an ORTHONORMAL
    rotation R jointly with the PQ codebooks so the subspace split
    aligns with the data's principal structure (plain PQ quantizes
    whatever balance the raw coordinate order happens to give the
    subspaces; on anisotropic/correlated embeddings the rotation
    recovers large recall at identical code size).

    Alternation per round, on the same bounded md5-ordered sample as
    pq_train_codebooks: (1) Lloyd codebooks on X·R; (2) encode the
    rotated sample and reconstruct Ŷ; (3) R ← U·Vᵀ from
    SVD(Xᵀ·Ŷ) — the orthogonal-Procrustes minimizer of
    ‖X·R − Ŷ‖². Returns (R, codebooks) with codebooks retrained
    under the final R.

    ORACLE CONTRACT (documented deviation from the exact-replay
    families): the SVD is not SQL-replayable, so emb_ann_opq is a
    RECALL-CONTRACT row (like dau_approx / the quality-sketch
    contract), not a value-hash row — the checkable surface is
    recall ≥ the trained-PQ baseline, asserted in tests and by the
    registered contract query."""
    from realtime0523_spark.llm.dedup import md5_int32

    rows = (
        corpus.select(id_col, vec_col)
        .orderBy(md5_int32(F.col(id_col).cast("string")), F.col(id_col))
        .limit(sample)
        .collect()
    )
    if len(rows) < n_codes:
        raise ValueError(
            f"OPQ training sample has {len(rows)} vectors < n_codes="
            f"{n_codes}; lower n_codes or raise `sample`."
        )
    X = np.vstack([np.asarray(r[1], dtype=np.float64) for r in rows])
    dims = X.shape[1]
    if dims % m:
        raise ValueError(f"OPQ: dims {dims} not divisible by m={m}")
    sd = dims // m
    R = np.eye(dims)
    for _ in range(opq_iters):
        Xr = X @ R
        cb = _lloyd_pq(Xr, n_codes, m, iters)
        Y = np.empty_like(Xr)
        for j in range(m):
            Xm = Xr[:, j * sd : (j + 1) * sd]
            Cm = cb[:, j * sd : (j + 1) * sd]
            d2 = ((Xm[:, None, :] - Cm[None, :, :]) ** 2).sum(axis=-1)
            Y[:, j * sd : (j + 1) * sd] = Cm[np.argmin(_r9_np(d2), axis=1)]
        U, _, Vt = np.linalg.svd(X.T @ Y)
        R = U @ Vt
    cb = _lloyd_pq(X @ R, n_codes, m, iters)
    return R, cb


def rotate_vectors(
    df: DataFrame,
    R: "np.ndarray",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, vec·R): one Arrow matmul map, no shuffle — the same
    shape as rp_project but with a learned square rotation."""
    Rm = np.ascontiguousarray(R, dtype=np.float64)

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def rot(v):
        X = _mat(v)
        if X.shape[1] != Rm.shape[0]:
            raise ValueError(
                f"rotate_vectors: vector dims {X.shape[1]} != rotation "
                f"dims {Rm.shape[0]}"
            )
        return pd.Series(list(X @ Rm))

    return df.select(id_col, rot(F.col(vec_col)).alias(vec_col))


def ann_topk_opq(
    corpus: DataFrame,
    queries: DataFrame,
    rotation: "np.ndarray",
    codebooks: "np.ndarray",
    m: int = PQ_SUBSPACES,
    retrieve: int = PQ_RETRIEVE,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
    query_vec_col: str = "qv",
) -> DataFrame:
    """OPQ-ADC top-k: rotate corpus and queries by the learned R
    (map-only Arrow pass each), then run the standard PQ-ADC scan +
    exact re-rank in rotated space. An orthonormal rotation preserves
    cosine exactly in real arithmetic (up to float ulps here — this
    family's checkable surface is the recall contract, not a value
    hash). Scale shape is PQ's: LUTs closure-broadcast, map-only
    coded scan with batch-local prune, broadcast shortlist fetch —
    plus one extra map for the rotation; the corpus never shuffles."""
    rc = rotate_vectors(corpus, rotation, id_col, vec_col)
    rq = rotate_vectors(queries, rotation, query_id_col, query_vec_col)
    return ann_topk_pq(
        rc,
        rq,
        codebooks=codebooks,
        m=m,
        retrieve=retrieve,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
    )


def ann_topk_ivfopq(
    corpus: DataFrame,
    queries: DataFrame,
    rotation: "np.ndarray" = None,
    codebooks: "np.ndarray" = None,
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = PQ_SUBSPACES,
    retrieve: int = PQ_RETRIEVE,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
    query_vec_col: str = "qv",
) -> DataFrame:
    """IVF-OPQ — the full FAISS `OPQm,IVFn,PQm` recipe and the last
    rung of the ANN family: the learned orthonormal rotation (OPQ)
    composed with the coarse-quantizer + PQ-ADC index (IVFADC). The
    rotation aligns the PQ subspace split with the data's principal
    structure; IVF cuts the scan to nprobe cells; PQ cuts the bytes —
    all three savings compose because each is a map-only pass.

    Execution adds exactly ONE Arrow rotation map per side over
    ann_topk_ivfpq's shape (cell assignment, coded scan, broadcast
    probe join, exact re-rank — the corpus never shuffles); IVF
    centroids are trained in ROTATED space so cells partition the
    geometry the codes actually live in. Same oracle stance as OPQ:
    the SVD is not SQL-replayable, so the registered row is a
    recall-contract, not a value hash."""
    if rotation is None or codebooks is None:
        rotation, codebooks = opq_train(
            corpus, m=m, id_col=id_col, vec_col=vec_col
        )
    rc = rotate_vectors(corpus, rotation, id_col, vec_col)
    rq = rotate_vectors(queries, rotation, query_id_col, query_vec_col)
    cents = ivf_train_centroids(
        rc, n_cells=n_cells, id_col=id_col, vec_col=vec_col
    )
    return ann_topk_ivfpq(
        rc,
        rq,
        centroids=cents,
        codebooks=codebooks,
        n_cells=n_cells,
        nprobe=nprobe,
        m=m,
        retrieve=retrieve,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
    )


def pq_encode_udf(codebooks: np.ndarray, m: int = PQ_SUBSPACES):
    """Arrow-batched encoder: per subspace, the ascending-label index
    of the L2-nearest codeword (9-dp-quantized distances, ties to the
    smallest index — the same total order the SQL twin's
    `ORDER BY round(d2) ASC, label` rank uses)."""
    cb = np.ascontiguousarray(codebooks, dtype=np.float64)
    if cb.shape[1] % m:
        raise ValueError(
            f"PQ: codebook width {cb.shape[1]} is not divisible by "
            f"m={m} subspaces — the trailing {cb.shape[1] % m} dims "
            f"would be silently ignored in codes and LUTs."
        )

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def encode(v):
        X = _mat(v)
        n, dims = X.shape
        if dims != cb.shape[1]:
            raise ValueError(
                f"PQ: vector dims {dims} != codebook dims {cb.shape[1]}"
            )
        sd = dims // m
        codes = np.empty((n, m), dtype=np.int32)
        for j in range(m):
            Xm = X[:, j * sd : (j + 1) * sd]
            Cm = cb[:, j * sd : (j + 1) * sd]
            # direct (x-c)² sum — the same quantity the SQL twin sums,
            # NOT the |x|²-2xc+|c|² expansion (different rounding)
            d2 = ((Xm[:, None, :] - Cm[None, :, :]) ** 2).sum(axis=-1)
            codes[:, j] = np.argmin(_r9_np(d2), axis=1)  # first min = smallest label
        return pd.Series(list(codes))

    return encode


def pq_encode(
    corpus: DataFrame,
    codebooks: np.ndarray,
    m: int = PQ_SUBSPACES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, pq_code array<int>) — the compressed index; one map-only
    pass, no shuffle."""
    enc = pq_encode_udf(codebooks, m)
    return corpus.select(id_col, enc(F.col(vec_col)).alias("pq_code"))


def ann_topk_pq(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray | None = None,
    m: int = PQ_SUBSPACES,
    retrieve: int = PQ_RETRIEVE,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
    query_vec_col: str = "qv",
) -> DataFrame:
    """PQ-ADC approximate top-k: encode the corpus to M codes per
    vector, scan the codes once scoring every vector against each
    query's (m × n_codewords) dot-product lookup table, keep the
    per-query top-`retrieve` by quantized ADC score, then re-rank the
    short list with exact cosine and keep the top k.

    Scale shape: the LUTs are tiny and closure-broadcast; the ADC scan
    is map-only over the coded (32× smaller) corpus with exact
    batch-local pruning (scores are quantized BEFORE the prune, so the
    batch-local order equals the final rank's total order and the top
    `retrieve` is preserved exactly); the re-rank fetches `retrieve`
    vectors per query via a broadcast join. The corpus never shuffles
    and is read in full precision only for |queries|·retrieve rows."""
    if codebooks is None:
        codebooks = pq_codebooks(corpus, vec_col=vec_col)
    cb = np.ascontiguousarray(codebooks, dtype=np.float64)
    n_codes, dims = cb.shape
    if dims % m:
        raise ValueError(
            f"PQ: codebook width {dims} is not divisible by m={m} "
            f"subspaces — the trailing {dims % m} dims would be "
            f"silently ignored in codes and ADC LUTs."
        )
    sd = dims // m

    qrows = queries.select(query_id_col, query_vec_col).collect()
    qids = np.array([r[0] for r in qrows])
    qmat = np.vstack([np.asarray(r[1], dtype=np.float64) for r in qrows])
    # LUT[q, j, c] = <query_q's subvector j, codeword c's subvector j>
    lut = np.einsum(
        "qjd,cjd->qjc", qmat.reshape(len(qids), m, sd), cb.reshape(n_codes, m, sd)
    )

    coded = pq_encode(corpus, cb, m, id_col=id_col, vec_col=vec_col)
    out_schema = T.StructType(
        [
            T.StructField(query_id_col, queries.schema[query_id_col].dataType),
            T.StructField(id_col, corpus.schema[id_col].dataType),
            T.StructField("__adc", T.DoubleType()),
        ]
    )

    def adc_scan(batches):
        cols = np.arange(m)
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            codes = np.vstack(pdf["pq_code"].to_numpy())  # (n, m)
            for j, qid in enumerate(qids):
                adc = _r9_np(lut[j, cols, codes].sum(axis=1))
                mask = ids != qid
                cand = np.nonzero(mask)[0]
                if len(cand) == 0:
                    continue
                top = cand[np.lexsort((ids[cand], -adc[cand]))][:retrieve]
                yield pd.DataFrame(
                    {query_id_col: qid, id_col: ids[top], "__adc": adc[top]}
                )

    shortlist = topk_per_group(
        coded.mapInPandas(adc_scan, out_schema),
        query_id_col,
        [F.desc("__adc"), F.col(id_col)],
        retrieve,
        rank_col="__rn",
    ).select(query_id_col, id_col)

    return cross_rerank_topk(
        corpus,
        queries,
        shortlist,
        k=k,
        scorer=cosine_pudf,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
    )


def ann_topk_ivfpq(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray = None,
    codebooks: np.ndarray = None,
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = PQ_SUBSPACES,
    retrieve: int = PQ_RETRIEVE,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
    query_vec_col: str = "qv",
) -> DataFrame:
    """IVFADC — the combined coarse-quantizer + product-quantizer index
    (Jégou et al. TPAMI 2011 §V, the architecture behind FAISS
    IndexIVFPQ and every billion-vector deployment): IVF restricts the
    search to the query's `nprobe` cells, PQ-ADC scores only those
    candidates from the 32×-compressed codes, and the short list is
    re-ranked with exact cosine.

    Why the combination is THE scale shape: IVF-Flat still reads full
    vectors for every probed cell (memory-bound); PQ alone still scans
    every code (compute grows with the corpus). IVFPQ touches ~
    nprobe/n_cells of the corpus, as codes — both axes cut at once.

    Execution: the index is two map-only Arrow passes over the corpus
    (cell assignment + PQ encoding, centroids and codebooks
    closure-broadcast); candidate generation is an equi-join on the
    cell id against the BROADCAST exploded query-probe set; ADC scores
    candidates with per-query LUTs (quantized before the cut, so the
    shortlist is the exact ADC-order prefix); the exact re-rank
    fetches `retrieve` full vectors per query via broadcast joins. The
    corpus never shuffles and is read at full precision only for the
    shortlist."""
    if centroids is None:
        centroids = ivf_train_centroids(
            corpus, n_cells=n_cells, id_col=id_col, vec_col=vec_col
        )
    if codebooks is None:
        codebooks = pq_train_codebooks(corpus, m=m, id_col=id_col, vec_col=vec_col)
    indexed = assign_ivfpq_index(
        corpus, centroids, codebooks, m=m, id_col=id_col, vec_col=vec_col
    )
    return ivfpq_query_index(
        indexed,
        corpus,
        queries,
        centroids,
        codebooks,
        nprobe=nprobe,
        m=m,
        retrieve=retrieve,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
    )


def assign_ivfpq_index(
    corpus: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    m: int = PQ_SUBSPACES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The materializable IVFADC index: (id, __cell, __code) from one
    map-only pass (cell assignment + PQ encoding, both
    closure-broadcast) — what a streaming appender commits per batch
    and a compaction rewrites."""
    cb = np.ascontiguousarray(codebooks, dtype=np.float64)
    if cb.shape[1] % m:
        raise ValueError(
            f"PQ: codebook width {cb.shape[1]} is not divisible by m={m} subspaces"
        )
    assign1 = _nearest_cells_udf(centroids, 1)
    enc = pq_encode_udf(cb, m)
    return corpus.select(
        id_col,
        F.element_at(assign1(F.col(vec_col)), 1).alias("__cell"),
        enc(F.col(vec_col)).alias("__code"),
    )


def ivfpq_query_index(
    indexed: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    nprobe: int = 4,
    m: int = PQ_SUBSPACES,
    retrieve: int = PQ_RETRIEVE,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
    query_vec_col: str = "qv",
) -> DataFrame:
    """Serve IVFADC top-k from a STORED (id, __cell, __code) index —
    the probe-join + ADC + exact-rerank half of ann_topk_ivfpq, split
    out so an incrementally-maintained at-rest index
    (streaming/ann_index.py) shares the exact batch query path.
    `corpus` supplies full vectors for the shortlist fetch only."""
    cb = np.ascontiguousarray(codebooks, dtype=np.float64)
    n_codes, dims = cb.shape
    if dims % m:
        raise ValueError(
            f"PQ: codebook width {dims} is not divisible by m={m} subspaces"
        )
    sd = dims // m
    probe = _nearest_cells_udf(centroids, nprobe)
    qprobe = queries.select(
        query_id_col, F.explode(probe(F.col(query_vec_col))).alias("__qcell")
    )
    cand = indexed.join(
        F.broadcast(qprobe),
        (F.col("__cell") == F.col("__qcell"))
        & (F.col(id_col) != F.col(query_id_col)),
    ).dropDuplicates([query_id_col, id_col])

    qrows = queries.select(query_id_col, query_vec_col).collect()
    lut = {
        int(r[0]): np.einsum(
            "jd,cjd->jc",
            np.asarray(r[1], dtype=np.float64).reshape(m, sd),
            cb.reshape(n_codes, m, sd),
        )
        for r in qrows
    }
    cols = np.arange(m)

    @F.pandas_udf(T.DoubleType())
    def adc(qid: pd.Series, code: pd.Series) -> pd.Series:
        if len(qid) == 0:
            return pd.Series([], dtype="float64")
        codes = np.vstack(code.to_numpy())  # (n, m)
        qv = qid.to_numpy()
        out = np.empty(len(qv))
        for u in np.unique(qv):
            sel = qv == u
            out[sel] = lut[int(u)][cols, codes[sel]].sum(axis=1)
        return pd.Series(_r9_np(out))

    scored_adc = cand.select(
        query_id_col, id_col, adc(F.col(query_id_col), F.col("__code")).alias("__adc")
    )
    shortlist = topk_per_group(
        scored_adc,
        query_id_col,
        [F.desc("__adc"), F.col(id_col)],
        retrieve,
        rank_col="__rn",
    ).select(query_id_col, id_col)

    return cross_rerank_topk(
        corpus,
        queries,
        shortlist,
        k=k,
        scorer=cosine_pudf,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
    )


# --- SQ8 scalar quantization (faiss IndexScalarQuantizer QT_8bit) -----

SQ_LEVELS = 256
SQ_RETRIEVE = 20


def sq_train_bounds(
    corpus: DataFrame, vec_col: str = "embedding"
) -> np.ndarray:
    """Per-dimension (min, max) over the full corpus — the SQ8
    quantizer's training state (faiss QT_8bit's vmin/vdiff). One
    posexplode + partial-agg'd groupBy; |dims|×2 scalars reach the
    driver (legal at any corpus size). min/max are order-insensitive,
    so unlike a mean/variance trainer this is exactly SQL-replayable
    with no quantization contract."""
    rows = (
        corpus.select(F.posexplode(vec_col).alias("d", "v"))
        .groupBy("d")
        .agg(
            F.min(F.col("v").cast("double")).alias("mn"),
            F.max(F.col("v").cast("double")).alias("mx"),
        )
        .collect()
    )
    dims = max(r[0] for r in rows) + 1
    bounds = np.zeros((dims, 2))
    for r in rows:
        bounds[r[0]] = (r[1], r[2])
    return bounds


def sq_encode(
    corpus: DataFrame,
    bounds: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, sq_code array<int>): code_d = clip(⌊(x−mn)·256/(mx−mn)⌋,
    0, 255) — uniform 8-bit quantization per dimension (4× smaller
    than fp32). Degenerate dims (mx = mn) code to 0.

    ENTIRELY built-in expressions: the bounds ride as two literal
    arrays and the encode is one `transform` over the vector — pure
    whole-stage codegen, zero Python, no shuffle. (PQ needs an Arrow
    argmin kernel; SQ's per-dim formula doesn't.)"""
    mins = F.array(*[F.lit(float(b[0])) for b in bounds])
    maxs = F.array(*[F.lit(float(b[1])) for b in bounds])

    def code(x, i):
        mn = F.element_at(mins, i + 1)
        mx = F.element_at(maxs, i + 1)
        raw = F.floor((x.cast("double") - mn) / (mx - mn) * F.lit(256))
        clipped = F.least(F.lit(255), F.greatest(F.lit(0), raw)).cast("int")
        return F.when(mx == mn, F.lit(0)).otherwise(clipped)

    return corpus.select(
        id_col, F.transform(F.col(vec_col), code).alias("sq_code")
    )


def ann_topk_sq(
    corpus: DataFrame,
    queries: DataFrame,
    bounds: np.ndarray | None = None,
    retrieve: int = SQ_RETRIEVE,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
    query_vec_col: str = "qv",
) -> DataFrame:
    """Scalar-quantization ANN (the faiss IndexScalarQuantizer /
    QT_8bit recipe): scan the 4×-compressed coded corpus scoring each
    query against the midpoint RECONSTRUCTION recon_d = mn +
    (code+0.5)·(mx−mn)/256 (asymmetric distance — the query stays
    full-precision), keep the per-query top-`retrieve` by quantized
    cosine, then re-rank the shortlist with exact cosine and keep the
    top k. The cheapest quantized index: no codebook training, exact
    SQL replay, and recall typically above PQ at the same shortlist
    because per-dim resolution is 256 levels instead of shared
    codewords.

    Scale shape mirrors ann_topk_pq: bounds + per-(dim, code)
    reconstruction/norm LUTs are tiny and closure-broadcast; the scan
    is map-only with exact batch-local pruning (scores quantized
    BEFORE the prune so batch order equals the final total order);
    the re-rank fetches `retrieve` full vectors per query via a
    broadcast join. The corpus never shuffles."""
    if bounds is None:
        bounds = sq_train_bounds(corpus, vec_col=vec_col)
    mns = bounds[:, 0]
    spans = bounds[:, 1] - bounds[:, 0]
    dims = len(bounds)
    codes_axis = np.arange(SQ_LEVELS, dtype=np.float64)
    # recon[d, c] = mn_d + (c + 0.5) * (mx_d - mn_d) / 256 — the same
    # left-assoc op order as the SQL twin, element-exact per entry
    recon = mns[:, None] + (codes_axis[None, :] + 0.5) * spans[:, None] / 256.0
    recon_sq = recon * recon

    qrows = queries.select(query_id_col, query_vec_col).collect()
    qids = np.array([r[0] for r in qrows])
    qmat = np.vstack([np.asarray(r[1], dtype=np.float64) for r in qrows])
    qnorm = np.linalg.norm(qmat, axis=1)

    coded = sq_encode(corpus, bounds, id_col=id_col, vec_col=vec_col)
    out_schema = T.StructType(
        [
            T.StructField(query_id_col, queries.schema[query_id_col].dataType),
            T.StructField(id_col, corpus.schema[id_col].dataType),
            T.StructField("__adc", T.DoubleType()),
        ]
    )
    dim_idx = np.arange(dims)

    def sq_scan(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            codes = np.vstack(pdf["sq_code"].to_numpy())  # (n, dims)
            rv = recon[dim_idx[None, :], codes]  # (n, dims) reconstructed
            rnorm = np.sqrt(recon_sq[dim_idx[None, :], codes].sum(axis=1))
            scores = (rv @ qmat.T) / (rnorm[:, None] * qnorm[None, :])
            for j, qid in enumerate(qids):
                adc = _r9_np(scores[:, j])
                cand = np.nonzero(ids != qid)[0]
                if len(cand) == 0:
                    continue
                top = cand[np.lexsort((ids[cand], -adc[cand]))][:retrieve]
                yield pd.DataFrame(
                    {query_id_col: qid, id_col: ids[top], "__adc": adc[top]}
                )

    shortlist = topk_per_group(
        coded.mapInPandas(sq_scan, out_schema),
        query_id_col,
        [F.desc("__adc"), F.col(id_col)],
        retrieve,
        rank_col="__rn",
    ).select(query_id_col, id_col)

    return cross_rerank_topk(
        corpus,
        queries,
        shortlist,
        k=k,
        scorer=cosine_pudf,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
    )


# --- JL random projection (sign/Achlioptas sketch) --------------------

RP_DIMS = 32
RP_RETRIEVE = 100
RP_SALT = "rp-v1"


def _rp_sign_matrix(in_dims: int, out_dims: int) -> np.ndarray:
    """±1 projection matrix from the corpus-standard md5 derivation:
    sign(d, j) = +1 iff md5_int32('rp-v1:d:j') is even. Deterministic,
    engine-portable, exactly replayable in SQL — the derandomized
    form of Achlioptas' database-friendly JL projection (Achlioptas,
    JCSS 2003: ±1 entries satisfy the JL lemma; no gaussian needed).
    The 1/√k scale is omitted — cosine is scale-invariant."""
    import hashlib

    m = np.empty((in_dims, out_dims), dtype=np.float64)
    for d in range(in_dims):
        for j in range(out_dims):
            h = int(
                hashlib.md5(f"{RP_SALT}:{d}:{j}".encode()).hexdigest()[:8], 16
            )
            m[d, j] = 1.0 if h % 2 == 0 else -1.0
    return m


def rp_project(
    emb: DataFrame,
    in_dims: int,
    out_dims: int = RP_DIMS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "rp",
) -> DataFrame:
    """(id, rp array<double>): project each vector to `out_dims` sign
    sums — one Arrow-batched matmul pass, map-only, no shuffle. The
    4×-narrower sketch preserves pairwise angles to JL tolerance, so
    it serves as the cheap first-pass scorer for ANN shortlists and
    halves-and-halves the bytes any downstream index (LSH buckets,
    k-means training) touches."""
    S = _rp_sign_matrix(in_dims, out_dims)

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def proj(v):
        X = _mat(v)
        if X.shape[1] != S.shape[0]:
            raise ValueError(
                f"rp_project: vector dims {X.shape[1]} != matrix "
                f"in_dims {S.shape[0]}"
            )
        return pd.Series(list(X @ S))

    return emb.select(id_col, proj(F.col(vec_col)).alias(out_col))


def ann_topk_rp(
    corpus: DataFrame,
    queries: DataFrame,
    in_dims: int,
    out_dims: int = RP_DIMS,
    retrieve: int = RP_RETRIEVE,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
    query_vec_col: str = "qv",
) -> DataFrame:
    """Random-projection ANN: score the JL sketch (out_dims ≪ dims)
    with the exact one-pass top-k machinery to build a per-query
    shortlist, then re-rank the shortlist by full-precision cosine.
    The sketch scan reads out_dims/dims of the bytes of a full scan
    (2× at the defaults); unlike PQ/SQ there is no training state at
    all — the projection is a pure function of (dim, output index).
    The default shortlist is deliberately wide (retrieve=100): the
    sketch's ranking error grows as neighbor gaps shrink, and the
    near-isotropic fixture is the worst case (recall@5 ≈ 0.8 there;
    clustered real-world embeddings do far better at narrower
    shortlists) — widening retrieve is the standard JL compensation
    and costs only broadcast-fetch rows, never a corpus shuffle.

    Same scale shape as the other quantized indexes: map-only sketch
    pass + batch-local prune, broadcast shortlist fetch, corpus never
    shuffles."""
    pc = rp_project(corpus, in_dims, out_dims, id_col, vec_col)
    pq_ = rp_project(
        queries, in_dims, out_dims, query_id_col, query_vec_col, out_col="rp"
    )
    shortlist = cosine_topk(
        pc,
        pq_,
        k=retrieve,
        id_col=id_col,
        vec_col="rp",
        query_id_col=query_id_col,
        query_vec_col="rp",
    ).select(query_id_col, id_col)

    return cross_rerank_topk(
        corpus,
        queries,
        shortlist,
        k=k,
        scorer=cosine_pudf,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
    )


# --- BM25 lexical retrieval (Okapi BM25 over an inverted index) -------

BM25_K1 = 1.2
BM25_B = 0.75


def bm25_search_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    k1: float = BM25_K1,
    b: float = BM25_B,
    id_col: str = "doc_id",
    query_id_col: str = "qid",
    text_col: str = "text",
    query_text_col: str = "qtext",
) -> DataFrame:
    """Okapi BM25 top-k retrieval (Robertson & Zaragoza, "The
    Probabilistic Relevance Framework: BM25 and Beyond", FnTIR 2009) —
    the canonical lexical ranking the feature-hash sparse search
    approximates, with real term statistics:

        score(q, d) = Σ_{t ∈ q} idf(t) · tf·(k1+1) /
                      (tf + k1·(1 − b + b·|d|/avgdl))
        idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1)   [Lucene's form]

    Query terms are the query doc's DISTINCT tokens. Self-matches
    (corpus id == query id) are excluded.

    Determinism/oracle contract: idf is 9-dp-quantized before use (ln
    is the one non-rational op — both engines' libm agree far below
    1e-9), every other per-row scalar is the same fixed expression
    tree in both engines, and only the per-(q,d) SUM is
    order-dependent — absorbed by the final rank's 9-dp rounding like
    every other retrieval path.

    Scale shape: postings/doc-lengths/df are each ONE partial-agg'd
    groupBy over the exploded corpus; N+avgdl aggregate to a single
    broadcast row; candidate generation is an equi-join of the
    postings against the BROADCAST query-term set (per-term fan-out =
    that term's df, the classic posting-list cost); scoring is one
    partial-agg'd groupBy on (query, doc). The corpus never
    self-joins, no vocabulary-sized structure reaches the driver."""
    toks = tokens(F.col(text_col))
    postings = (
        corpus.select(F.col(id_col), F.explode(toks).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    doc_len = corpus.select(
        F.col(id_col), F.size(toks).cast("double").alias("dl")
    )
    # N and avgdl: one 1-row scalar collect — the same legality class
    # as the IVF/PQ training collects, and EXACT across engines: doc
    # lengths are integer-valued doubles, so their sum (< 2^53) is
    # order-independent and avgdl = exact_sum / N bit-matches the
    # oracle's avg. (A lazy crossJoin of the 1-row frame would plan a
    # BroadcastNestedLoopJoin, which the plan gate forbids.)
    srow = doc_len.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    ).first()
    n_docs = float(srow["n_docs"])
    # Empty corpus (avgdl is NULL) or all-empty docs (avgdl == 0) would
    # make the length normalization divide by zero — there is nothing to
    # retrieve, so return an empty result with the contract schema.
    if n_docs == 0.0 or srow["avgdl"] is None or float(srow["avgdl"]) == 0.0:
        id_type = dict(corpus.dtypes)[id_col]
        qid_type = dict(queries.dtypes)[query_id_col]
        return corpus.sparkSession.createDataFrame(
            [],
            f"{query_id_col} {qid_type}, {id_col} {id_type}, "
            "score double, rk int",
        )
    avgdl = float(srow["avgdl"])
    df_t = postings.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    qterms = queries.select(
        F.col(query_id_col),
        F.explode(F.array_distinct(tokens(F.col(query_text_col)))).alias("term"),
    )
    # idf only for queried terms: restrict the vocab-sized df table by
    # the (small) query-term set before it goes anywhere
    idf_q = df_t.join(F.broadcast(qterms.select("term").distinct()), "term").select(
        "term",
        round9(
            F.log(
                (F.lit(n_docs) - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
                + F.lit(1.0)
            )
        ).alias("idf"),
    )
    cand = (
        postings.join(F.broadcast(qterms), "term")
        .filter(F.col(id_col) != F.col(query_id_col))
        .join(F.broadcast(idf_q), "term")
        .join(doc_len, id_col)
    )
    contrib = (
        F.col("idf")
        * (F.col("tf").cast("double") * F.lit(k1 + 1.0))
        / (
            F.col("tf").cast("double")
            + F.lit(k1)
            * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl))
        )
    )
    scored = cand.groupBy(query_id_col, id_col).agg(F.sum(contrib).alias("score"))
    return _rank_topk(scored, query_id_col, [id_col], k)


# --- sparse retrieval over hashed features (inverted-index search) ----


def sparse_search_topk(
    corpus_feats: DataFrame,
    query_feats: DataFrame,
    k: int = 3,
    corpus_id_cols: list[str] | None = None,
    query_id_col: str = "qid",
) -> DataFrame:
    """Lexical top-k search: sparse dot product between L2-normalized
    feature-hash vectors (llm.text.hashed_features), computed as an
    inverted-index EQUI-JOIN on the bucket id — the classic sparse
    retrieval shape (posting-list intersection), complementing the
    dense ANN paths. With both sides unit-norm the dot IS the cosine.

    `corpus_feats`: (ids…, bucket, weight); `query_feats`:
    (qid, bucket, weight). The query side is small by contract and
    broadcasts; scoring is one partial-agg'd groupBy over the joined
    postings — per-bucket fan-out bounded by the query set, the
    corpus postings never self-join. A row whose corpus ids equal the
    query id is excluded (self-match)."""
    cid = corpus_id_cols or ["doc_id", "chunk_id"]
    q = query_feats.select(
        F.col(query_id_col),
        F.col("bucket"),
        F.col("weight").alias("__qw"),
    )
    j = corpus_feats.join(F.broadcast(q), "bucket").filter(
        F.col(cid[0]) != F.col(query_id_col)
    )
    scored = j.groupBy(query_id_col, *cid).agg(
        F.sum(F.col("weight") * F.col("__qw")).alias("score")
    )
    return _rank_topk(scored, query_id_col, cid, k)


# --- MMR diversified re-rank (Carbonell & Goldstein, SIGIR 1998) ------

MMR_RETRIEVE = 20
MMR_LAMBDA = 0.5  # exact binary fraction — both engines' doubles agree


def mmr_topk(
    corpus: DataFrame,
    queries: DataFrame,
    retrieve: int = MMR_RETRIEVE,
    k: int = 5,
    lam: float = MMR_LAMBDA,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
    query_vec_col: str = "qv",
) -> DataFrame:
    """Maximal Marginal Relevance diversified top-k (Carbonell &
    Goldstein, SIGIR 1998 — the standard RAG/result-diversification
    re-rank): greedily select k results from a relevance shortlist,
    each round maximizing

        λ·rel(q, d) − (1 − λ)·max_{s ∈ selected} sim(d, s)

    so near-duplicate hits can't crowd the answer set. Relevance and
    pairwise similarities are 9-dp-quantized cosines; each round's
    combined score is re-quantized and ties break on the smallest id
    — the SQL oracle replays the identical greedy rounds as
    generated CTEs.

    Scale shape: the only corpus-sized work is the exact shortlist
    scan (cosine_topk's map-only batch-local prune); everything
    after runs on |queries|·retrieve rows. The greedy itself is
    inherently sequential per query, so it runs driver-side on the
    collected shortlist — at serving scale this is the re-rank tier,
    not a cluster job.

    DRIVER-MEMORY CONTRACT (hard, enforced): the two collects hold
    |queries|·retrieve (id, rel) rows plus ≤ that many embedding
    vectors in driver memory. That is the re-rank tier's working set
    by definition; MMR over an unbounded candidate set is not this
    operator. The |queries| cap below makes the contract loud instead
    of an eventual driver OOM. Output id columns inherit the exact
    input column types (a hardcoded `long` schema would break
    string-id corpora at createDataFrame)."""
    # bounded guard: count only up to the threshold + 1 (a full count
    # of an expensive queries plan would itself be an extra Spark job)
    max_q = 1_000_000 // max(retrieve, 1)
    n_probe = queries.limit(max_q + 1).count()
    if n_probe > max_q:
        raise ValueError(
            f"mmr_topk driver-memory contract: |queries|*retrieve exceeds "
            f"1e6 shortlist rows (>{max_q} queries at retrieve={retrieve}). "
            "MMR is a re-rank-tier operator over a bounded shortlist; "
            "split the query set or lower `retrieve`."
        )
    shortlist = cosine_topk(
        corpus,
        queries,
        k=retrieve,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
    ).select(query_id_col, id_col, F.col("score").alias("rel"))
    rows = shortlist.collect()
    by_q: dict = {}
    ids_needed: set = set()
    for r in rows:
        by_q.setdefault(r[0], []).append((r[1], float(r[2])))
        ids_needed.add(r[1])
    vec_rows = (
        corpus.select(id_col, vec_col)
        .filter(F.col(id_col).isin(list(ids_needed)))
        .collect()
    )
    vecs = {r[0]: np.asarray(r[1], dtype=np.float64) for r in vec_rows}
    out = []
    for qid in sorted(by_q):
        cands = sorted(by_q[qid])  # (vec_id, rel), id-ascending
        ids = [c[0] for c in cands]
        rel = {c[0]: c[1] for c in cands}
        M = np.vstack([vecs[i] for i in ids])
        norms = np.linalg.norm(M, axis=1)
        sims = _r9_np((M @ M.T) / (norms[:, None] * norms[None, :]))
        idx = {i: p for p, i in enumerate(ids)}
        selected: list = []
        chosen: set = set()
        for rank in range(1, min(k, len(ids)) + 1):
            best = None  # (vec_id, score); order by (score desc, id asc)
            for i in ids:
                if i in chosen:
                    continue
                if not selected:
                    sc = rel[i]
                else:
                    ms = max(sims[idx[i], idx[s]] for s in selected)
                    sc = float(_r9_np(lam * rel[i] - (1 - lam) * ms))
                if best is None or sc > best[1] or (sc == best[1] and i < best[0]):
                    best = (i, sc)
            selected.append(best[0])
            chosen.add(best[0])
            out.append((qid, best[0], best[1], rank))
    spark = corpus.sparkSession
    qid_type = queries.schema[query_id_col].dataType.simpleString()
    id_type = corpus.schema[id_col].dataType.simpleString()
    return spark.createDataFrame(
        out,
        f"{query_id_col} {qid_type}, {id_col} {id_type}, "
        "mmr_score double, mmr_rank int",
    )
