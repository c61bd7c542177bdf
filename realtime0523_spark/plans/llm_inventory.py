"""LLM-data-pipeline query inventory: dedup / similarity / text /
multimodal operators on the `documents` and `embeddings` tables, each
paired with an exact DuckDB oracle.

Oracle-parity ground rules (shared with the operator code):
- hashes: md5 hex (identical builtins), ints from hex prefixes,
- integer arithmetic < 2^53 only,
- float outputs rounded floor(x*1e9+0.5)/1e9 in BOTH engines
  (functions.scalar.round9 on the Spark side),
- identical regexes valid in Java regex and RE2.

The SQL twins are generated from the SAME constants the Spark
operators use (realtime0523_spark.llm.dedup) so they cannot drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realtime0523_spark.core.catalog import Catalog
from realtime0523_spark.functions.scalar import round9
from realtime0523_spark.llm import dedup as D
from realtime0523_spark.llm import multimodal as M
from realtime0523_spark.llm import similarity as S
from realtime0523_spark.llm import text as X
from realtime0523_spark.operators import sketches as SK
from realtime0523_spark.plans.inventory import REGISTRY, register

JACCARD_THRESHOLD = 0.8
MINHASH_EST_THRESHOLD = 0.5
SIMHASH_MAX_HAMMING = 3
EMB_DEDUP_THRESHOLD = 0.45
TOPK_QUERIES = 10
TOPK_K = 5
EMB_DIMS = 64


def _r9(x: str) -> str:
    return f"floor(({x}) * 1000000000 + 0.5) / 1000000000"


# Shared SQL fragments -------------------------------------------------

_TOKS = r"list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '')"

# distinct word-3-gram shingles per doc (mirrors llm.text.word_shingles)
_SHINGLES_CTE = f"""
    toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    sh AS (SELECT DISTINCT doc_id, sh FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
                                     i -> array_to_string(t[i:i+2], ' '))) AS sh
        FROM toks))
"""

_MD5_INT32_SQL = "CAST(('0x' || substr(md5({col}), 1, 8)) AS BIGINT)"

# normalized-content fingerprint (mirrors llm.text.doc_fingerprint);
# shared by docs_fingerprint and stream_docs_ingest so document
# identity cannot drift between them
_FP_SQL = "md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))"



# ----------------------------------------------------------------------
# Text analysis
# ----------------------------------------------------------------------


@register(
    "docs_token_stats",
    f"""
    SELECT doc_id, len(t) AS n_tokens,
           CAST(list_aggregate(list_transform(t, x -> length(x)), 'sum') AS DOUBLE)
             / len(t) AS avg_token_len
    FROM (SELECT doc_id, {_TOKS} AS t FROM documents)
    """,
    "Token counting (whitespace tokenizer) + mean token length — "
    "pure built-ins, no shuffle (north-star text analysis).",
)
def q_docs_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    toks = X.tokens("text")
    tok_chars = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
    )
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        (tok_chars.cast("double") / F.size(toks).cast("double")).alias("avg_token_len"),
    )


def _lang_guess_sql() -> str:
    hit = {
        lang: f"len(regexp_extract_all(text, '{pat}'))"
        for lang, pat in X.LANG_PATTERNS.items()
    }
    cases = []
    for lang in X.LANG_PRIORITY:
        conds = [f"c_{lang} > 0"]
        for other in X.LANG_PRIORITY:
            if other == lang:
                continue
            op = ">" if X.LANG_PRIORITY.index(other) < X.LANG_PRIORITY.index(lang) else ">="
            conds.append(f"c_{lang} {op} c_{other}")
        cases.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    hits_select = ", ".join(f"{expr} AS c_{lang}" for lang, expr in hit.items())
    return f"""
    SELECT doc_id, CASE {' '.join(cases)} ELSE 'und' END AS lang_guess
    FROM (SELECT doc_id, {hits_select} FROM documents)
    """


@register(
    "docs_lang_guess",
    _lang_guess_sql(),
    "Language ID via stopword/CJK-codepoint hit counts with a "
    "deterministic priority argmax (north-star text analysis).",
)
def q_docs_lang_guess(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    return docs.select("doc_id", X.lang_guess("text").alias("lang_guess"))


@register(
    "docs_quality",
    f"""
    SELECT doc_id, n_chars, n_tokens, avg_token_len, punct_ratio, stopword_ratio,
           greatest(0.0, least(1.0, 0.05 * avg_token_len + stopword_ratio - punct_ratio))
             AS quality_score
    FROM (
      SELECT doc_id, length(text) AS n_chars, len(t) AS n_tokens,
             CAST(list_aggregate(list_transform(t, x -> length(x)), 'sum') AS DOUBLE)
               / len(t) AS avg_token_len,
             CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE)
               / length(text) AS punct_ratio,
             CAST(len(regexp_extract_all(text, '{X.LANG_PATTERNS['en']}')) AS DOUBLE)
               / len(t) AS stopword_ratio
      FROM (SELECT doc_id, text, {_TOKS} AS t FROM documents))
    """,
    "Document quality scoring: length/punct/stopword ratios folded "
    "into a clipped linear score (north-star text analysis).",
)
def q_docs_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    feats = X.quality_features("text")
    return docs.select(
        "doc_id", *[c.alias(name) for name, c in feats.items()]
    )


@register(
    "top_tokens",
    f"""
    SELECT tok, count(*) AS n
    FROM (SELECT unnest({_TOKS}) AS tok FROM documents)
    GROUP BY tok ORDER BY n DESC, tok LIMIT 20
    """,
    "Corpus-level token frequency (explode → count → top-k): the "
    "UDTF/explode surface plus the classic wordcount, with a "
    "deterministic tiebreak. Partial agg keeps the shuffle at "
    "|vocab|, not |tokens|.",
)
def q_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    return (
        docs.select(F.explode(X.tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "tok")
        .limit(20)
    )


# CMS twin fragments — generated from operators.sketches constants so
# the oracle replays the exact same grid: row d's hash is the d-th
# 8-hex-char slice of one md5 digest (see sketches.cms_bucket)
_CMS_BUCKET_SQL = (
    "CAST(('0x' || substr(md5({key}), 1 + 8 * {d}, 8)) AS BIGINT)"
    + f" % {SK.CMS_WIDTH}"
)


@register(
    "top_tokens_cms",
    f"""
    WITH cmstoks AS (SELECT unnest({_TOKS}) AS tok FROM documents),
    cmsgrid AS (
      SELECT d, {_CMS_BUCKET_SQL.format(d='d', key='tok')} AS bucket,
             count(*) AS cnt
      FROM cmstoks CROSS JOIN range(0, {SK.CMS_DEPTH}) t(d)
      GROUP BY d, bucket),
    cmsest AS (
      SELECT k.tok, min(coalesce(g.cnt, 0)) AS est
      FROM (SELECT DISTINCT tok FROM cmstoks) k
      CROSS JOIN range(0, {SK.CMS_DEPTH}) t(d)
      LEFT JOIN cmsgrid g
        ON g.d = t.d
       AND g.bucket = {_CMS_BUCKET_SQL.format(d='t.d', key='k.tok')}
      GROUP BY k.tok)
    SELECT tok, est, rk FROM (
      SELECT tok, est,
             row_number() OVER (ORDER BY est DESC, tok) AS rk
      FROM cmsest)
    WHERE rk <= 20
    """,
    "Heavy hitters via a count-min sketch (Cormode & Muthukrishnan "
    f"2005): a fixed {SK.CMS_DEPTH}×{SK.CMS_WIDTH} grid replaces the "
    "|vocab|-sized exact count table — the bounded-memory frequency "
    "path for token/n-gram streams whose vocabulary outgrows a "
    "shuffle at 100 TB. Deterministic md5-row hashes make the sketch "
    "exactly SQL-replayable (exact oracle, unlike HLL's contract "
    "check); estimate ≥ truth always, overshoot bound asserted in "
    "tests. top_tokens is the exact twin to compare against.",
)
def q_top_tokens_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    toks = docs.select(F.explode(X.tokens("text")).alias("tok"))
    return SK.cms_topk(toks, "tok", 20)


@register(
    "stream_top_tokens_cms",
    # identical oracle to top_tokens_cms: the streamed grid drained in
    # complete mode equals the batch-built grid cell-for-cell
    f"""
    WITH cmstoks AS (SELECT unnest({_TOKS}) AS tok FROM documents),
    cmsgrid AS (
      SELECT d, {_CMS_BUCKET_SQL.format(d='d', key='tok')} AS bucket,
             count(*) AS cnt
      FROM cmstoks CROSS JOIN range(0, {SK.CMS_DEPTH}) t(d)
      GROUP BY d, bucket),
    cmsest AS (
      SELECT k.tok, min(coalesce(g.cnt, 0)) AS est
      FROM (SELECT DISTINCT tok FROM cmstoks) k
      CROSS JOIN range(0, {SK.CMS_DEPTH}) t(d)
      JOIN cmsgrid g
        ON g.d = t.d
       AND g.bucket = {_CMS_BUCKET_SQL.format(d='t.d', key='k.tok')}
      GROUP BY k.tok)
    SELECT tok, est, rk FROM (
      SELECT tok, est,
             row_number() OVER (ORDER BY est DESC, tok) AS rk
      FROM cmsest)
    WHERE rk <= 20
    """,
    "The CMS grid maintained ON THE STREAM: the sketch cells are a "
    f"streaming aggregation whose entire state is the fixed "
    f"{SK.CMS_DEPTH}×{SK.CMS_WIDTH} grid — frequency-over-unbounded-"
    "stream with memory that never grows with the vocabulary, the "
    "textbook streaming-sketch deployment. The drained grid is probed "
    "by the same batch top-k pass (build-anywhere / probe-anywhere "
    "mergeability); complete-mode drain ≡ the batch grid, so the "
    "oracle is top_tokens_cms's. (Inner-join probe: a streamed grid "
    "drops nothing, every candidate's cells exist.)",
)
def q_stream_top_tokens_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime0523_spark.streaming.runner import run_to_memory
    from realtime0523_spark.streaming.sources import stream_table

    stoks = stream_table(spark, sf_dir, "documents").select(
        F.explode(X.tokens("text")).alias("tok")
    )
    grid = run_to_memory(SK.cms_build(stoks, "tok"), output_mode="complete")
    docs = Catalog(spark, sf_dir).table("documents")
    toks = docs.select(F.explode(X.tokens("text")).alias("tok"))
    return SK.cms_topk(toks, "tok", 20, sketch=grid)


@register(
    "docs_fingerprint",
    f"SELECT doc_id, {_FP_SQL} AS fingerprint FROM documents",
    "Document fingerprinting: md5 of the normalized text (lowercase, "
    "punctuation-collapsed) — whole-document identity hash.",
)
def q_docs_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    return docs.select("doc_id", X.doc_fingerprint("text").alias("fingerprint"))


# ----------------------------------------------------------------------
# Dedup family
# ----------------------------------------------------------------------


@register(
    "docs_exact_dedup",
    """
    SELECT md5(text) AS text_hash, min(doc_id) AS kept_doc_id, count(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
    "Exact dedup: hash-groupBy on content md5, keep min id "
    "(map-side partial agg; one shuffle on the hash).",
)
def q_docs_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup(Catalog(spark, sf_dir).table("documents"))


@register(
    "docs_ngram_jaccard",
    f"""
    WITH {_SHINGLES_CTE},
    cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
              FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           CAST(inter AS DOUBLE) / (ca.n_sh + cb.n_sh - inter) AS jaccard
    FROM inter
    JOIN cnt ca ON inter.doc_a = ca.doc_id
    JOIN cnt cb ON inter.doc_b = cb.doc_id
    WHERE CAST(inter AS DOUBLE) / (ca.n_sh + cb.n_sh - inter) >= {JACCARD_THRESHOLD}
    """,
    "Exact n-gram Jaccard near-dup pairs (word 3-gram shingles, "
    "J >= 0.8) — the exact baseline the MinHash path approximates.",
)
def q_docs_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = D.ngram_jaccard_pairs(
        Catalog(spark, sf_dir).table("documents"), JACCARD_THRESHOLD
    )
    return out.select("doc_a", "doc_b", "jaccard")


def _minhash_agree_sql() -> str:
    return " + ".join(
        f"CASE WHEN sa.sig_{i} = sb.sig_{i} THEN 1 ELSE 0 END"
        for i in range(D.MINHASH_PERMS)
    )


def _minhash_ctes() -> str:
    """The shared sh→x→sig→bands CTE block (signatures + band-bucket
    rows over `documents`) that every MinHash oracle builds on."""
    sig_exprs = []
    for i in range(D.MINHASH_PERMS):
        a, b = D.perm_coeffs(i)
        sig_exprs.append(f"min(({a} * x + {b}) % {D.MINHASH_PRIME}) AS sig_{i}")
    rows_per_band = D.MINHASH_PERMS // D.MINHASH_BANDS
    band_selects = []
    for band in range(D.MINHASH_BANDS):
        cols = [f"sig_{band * rows_per_band + r}" for r in range(rows_per_band)]
        # the band INDEX is hashed into bh (see dedup.band_buckets):
        # bh alone is a complete bucket key
        concat = ", ".join(f"CAST({c} AS VARCHAR)" for c in cols)
        band_selects.append(
            f"SELECT doc_id, {band} AS band, "
            f"md5(concat_ws(',', '{band}', {concat})) AS bh FROM sig"
        )
    return f"""{_SHINGLES_CTE},
    x AS (SELECT doc_id, {_MD5_INT32_SQL.format(col='sh')} AS x FROM sh),
    sig AS (SELECT doc_id, {', '.join(sig_exprs)} FROM x GROUP BY doc_id),
    bands AS ({' UNION ALL '.join(band_selects)})"""


def _minhash_sql() -> str:
    return f"""
    WITH {_minhash_ctes()},
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bands a JOIN bands b
               ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b, est_sim FROM (
      SELECT doc_a, doc_b, ({_minhash_agree_sql()}) / {float(D.MINHASH_PERMS)} AS est_sim
      FROM cand
      JOIN sig sa ON cand.doc_a = sa.doc_id
      JOIN sig sb ON cand.doc_b = sb.doc_id)
    WHERE est_sim >= {MINHASH_EST_THRESHOLD}
    """


@register(
    "docs_minhash_lsh",
    _minhash_sql(),
    "MinHash+LSH near-dup: 16-perm universal-hash signatures over "
    "md5-derived shingle ints, 4-band bucketing (equi-join candidate "
    "generation — no n² pass), signature-agreement verification. The "
    "100 TB dedup path.",
)
def q_docs_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_lsh_pairs(
        Catalog(spark, sf_dir).table("documents"), MINHASH_EST_THRESHOLD
    )


def _simhash_sql() -> str:
    bit_sums = ", ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN c ELSE -c END) AS bs_{j}"
        for j in range(D.SIMHASH_BITS)
    )
    fp = " + ".join(
        f"CASE WHEN bs_{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END"
        for j in range(D.SIMHASH_BITS)
    )
    return f"""
    WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
    cnt AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2),
    h AS (SELECT doc_id, c, {_MD5_INT32_SQL.format(col='tok')} AS h FROM cnt),
    bits AS (SELECT doc_id, {bit_sums} FROM h GROUP BY doc_id)
    SELECT doc_id, ({fp}) AS simhash FROM bits
    """


@register(
    "docs_simhash",
    _simhash_sql(),
    "SimHash fingerprints: 32-bit sign-of-weighted-bit-sums over "
    "token hashes — linear scan, one groupBy; near-dup = small "
    "hamming distance (pairs variant in llm.dedup.simhash_pairs).",
)
def q_docs_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash(Catalog(spark, sf_dir).table("documents"))


# ----------------------------------------------------------------------
# Embedding similarity
# ----------------------------------------------------------------------

_DOT_CTE = """
    pairdot AS (
      SELECT qid, vec_id,
             sum(CAST(ev[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)) AS dot,
             sqrt(sum(CAST(ev[i] AS DOUBLE) * CAST(ev[i] AS DOUBLE))) AS n_a,
             sqrt(sum(CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))) AS n_b
      FROM (SELECT q.qid, e.vec_id, e.embedding AS ev, q.qv
            FROM embeddings e,
                 (SELECT vec_id AS qid, embedding AS qv FROM embeddings
                  WHERE vec_id < {nq}) q
            WHERE e.vec_id <> q.qid),
           LATERAL (SELECT unnest(range(1, len(ev) + 1)) AS i)
      GROUP BY qid, vec_id)
"""


@register(
    "emb_cosine_topk",
    f"""
    WITH {_DOT_CTE.format(nq=TOPK_QUERIES)}
    SELECT qid, vec_id, score, rk FROM (
      SELECT qid, vec_id, {_r9('dot / (n_a * n_b)')} AS score,
             row_number() OVER (PARTITION BY qid
                                ORDER BY {_r9('dot / (n_a * n_b)')} DESC, vec_id) AS rk
      FROM pairdot)
    WHERE rk <= {TOPK_K}
    """,
    "Brute-force cosine top-k similarity search (queries broadcast, "
    "corpus scanned once through a batched numpy matmul with exact "
    "per-batch top-k pruning — the exact baseline; the LSH path is "
    "emb_ann_lsh).",
)
def q_emb_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = Catalog(spark, sf_dir).table("embeddings")
    queries = emb.filter(F.col("vec_id") < TOPK_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    out = S.cosine_topk(emb, queries, k=TOPK_K)
    return out.select("qid", "vec_id", "score", "rk")


@register(
    "emb_dedup_pairs",
    f"""
    WITH pd AS (
      SELECT blk, id_a, id_b,
             sum(CAST(va[i] AS DOUBLE) * CAST(vb[i] AS DOUBLE)) AS dot,
             sqrt(sum(CAST(va[i] AS DOUBLE) * CAST(va[i] AS DOUBLE))) AS n_a,
             sqrt(sum(CAST(vb[i] AS DOUBLE) * CAST(vb[i] AS DOUBLE))) AS n_b
      FROM (SELECT a.label AS blk, a.vec_id AS id_a, b.vec_id AS id_b,
                   a.embedding AS va, b.embedding AS vb
            FROM embeddings a JOIN embeddings b
              ON a.label = b.label AND a.vec_id < b.vec_id),
           LATERAL (SELECT unnest(range(1, len(va) + 1)) AS i)
      GROUP BY blk, id_a, id_b)
    SELECT blk, id_a, id_b, cos_sim FROM (
      SELECT blk, id_a, id_b, {_r9('dot / (n_a * n_b)')} AS cos_sim FROM pd)
    WHERE cos_sim >= {EMB_DEDUP_THRESHOLD}
    """,
    "Embedding-cosine near-dup pairs blocked by the label column "
    "(IVF-cell analog): equi-join on the block then exact cosine — "
    "Σ block² instead of n².",
)
def q_emb_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = Catalog(spark, sf_dir).table("embeddings")
    out = S.embedding_dedup_pairs(emb, EMB_DEDUP_THRESHOLD)
    return out.select("blk", "id_a", "id_b", round9("cos_sim").alias("cos_sim")).filter(
        F.col("cos_sim") >= EMB_DEDUP_THRESHOLD
    )


# --- ANN twins: approximate ≠ nondeterministic ------------------------
# The LSH hyperplanes come from a portable integer LCG and the IVF
# inventory variant seeds its cells from the label column, so BOTH
# approximate indexes are exactly reproducible in plain SQL: the oracle
# replays bucketing/assignment, candidate generation, and the rounded
# cosine re-rank. (The Lloyd-trained IVF remains ann_topk_ivf's default
# — its training-sample ordering uses engine-local hashing, so it is
# exercised by recall assertions in tests/test_llm.py instead.)

IVF_NPROBE = 4

# (tbl, bucket) per vector for all hash tables — mirrors
# llm.similarity._lsh_table_entries, constants imported from it
_LSH_BUCKETS_CTE = f"""
    lshplanes AS (
      SELECT b, d,
             (({S.LCG_A} * (b * {S.LCG_SALT} + d) + {S.LCG_C}) % {S.LCG_M})
               / {S.LCG_M}.0 - 0.5 AS w
      FROM range(0, {S.LSH_TABLES * S.LSH_BITS}) tb(b), range(0, {EMB_DIMS}) td(d)),
    lshbuckets AS (
      SELECT vec_id, tbl,
             sum(CASE WHEN {_r9('pr')} > 0 THEN (1 << bit) ELSE 0 END) AS bucket
      FROM (SELECT e.vec_id,
                   CAST(p.b // {S.LSH_BITS} AS INT) AS tbl,
                   CAST(p.b % {S.LSH_BITS} AS INT) AS bit,
                   sum(CAST(e.embedding[p.d + 1] AS DOUBLE) * p.w) AS pr
            FROM embeddings e CROSS JOIN lshplanes p
            GROUP BY e.vec_id, CAST(p.b // {S.LSH_BITS} AS INT),
                     CAST(p.b % {S.LSH_BITS} AS INT))
      GROUP BY vec_id, tbl)
"""

# exact rounded cosine + rank over a (qid, vec_id) candidate set named
# `{cand}`; emits {out}(qid, vec_id, score, rk)
def _rerank_cte(cand: str, out: str) -> str:
    return f"""
    {out} AS (
      SELECT qid, vec_id, score,
             row_number() OVER (PARTITION BY qid
                                ORDER BY score DESC, vec_id) AS rk
      FROM (SELECT qid, vec_id, {_r9('dot / (n_a * n_b)')} AS score
            FROM (SELECT pr.qid, pr.vec_id,
                         sum(CAST(ev[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)) AS dot,
                         sqrt(sum(CAST(ev[i] AS DOUBLE) * CAST(ev[i] AS DOUBLE))) AS n_a,
                         sqrt(sum(CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))) AS n_b
                  FROM (SELECT c.qid, c.vec_id, e.embedding AS ev, q.embedding AS qv
                        FROM {cand} c
                        JOIN embeddings e ON e.vec_id = c.vec_id
                        JOIN embeddings q ON q.vec_id = c.qid) pr,
                       LATERAL (SELECT unnest(range(1, len(ev) + 1)) AS i)
                  GROUP BY pr.qid, pr.vec_id)))
    """


_LSH_ANN_CTES = f"""
    {_LSH_BUCKETS_CTE},
    lshcand AS (
      SELECT DISTINCT qb.vec_id AS qid, cb.vec_id
      FROM lshbuckets cb
      JOIN (SELECT * FROM lshbuckets WHERE vec_id < {TOPK_QUERIES}) qb
        ON cb.tbl = qb.tbl AND cb.bucket = qb.bucket
       AND cb.vec_id <> qb.vec_id),
    {_rerank_cte('lshcand', 'lshann')}
"""


# multi-probe: every query also probes the bits+1 buckets at Hamming
# distance <= 1 (xor with each single-bit mask) — mirrors
# llm.similarity.ann_topk_lsh(probe_hamming=1)
_MP_XOR_LIST = ", ".join(
    ["bucket"] + [f"xor(bucket, {1 << i})" for i in range(S.LSH_BITS)]
)

_LSH_MP_ANN_CTES = f"""
    {_LSH_BUCKETS_CTE},
    mpq AS (
      SELECT vec_id, tbl, unnest([{_MP_XOR_LIST}]) AS bucket
      FROM lshbuckets WHERE vec_id < {TOPK_QUERIES}),
    mpcand AS (
      SELECT DISTINCT q.vec_id AS qid, c.vec_id
      FROM lshbuckets c JOIN mpq q
        ON c.tbl = q.tbl AND c.bucket = q.bucket AND c.vec_id <> q.vec_id),
    {_rerank_cte('mpcand', 'mpann')}
"""


# label-seeded IVF: centroid = normalized per-dim sum per label (sum ≡
# mean after normalization); corpus rows live in their argmax-dot cell,
# queries probe the top-IVF_NPROBE cells — mirrors
# llm.similarity.label_centroids + ann_topk_ivf
_IVF_ANN_CTES = f"""
    ivfcent AS (
      SELECT label, d, s / sqrt(sum(s * s) OVER (PARTITION BY label)) AS w
      FROM (SELECT label, CAST(d AS INT) AS d,
                   sum(CAST(embedding[d] AS DOUBLE)) AS s
            FROM embeddings CROSS JOIN range(1, {EMB_DIMS + 1}) t(d)
            GROUP BY label, CAST(d AS INT))),
    ivfdot AS (
      SELECT e.vec_id, c.label,
             sum(CAST(e.embedding[c.d] AS DOUBLE) * c.w) AS dot
      FROM embeddings e CROSS JOIN ivfcent c
      GROUP BY e.vec_id, c.label),
    ivfassign AS (
      SELECT vec_id, label AS cell FROM (
        SELECT vec_id, label,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY {_r9('dot')} DESC, label) AS rn
        FROM ivfdot) WHERE rn = 1),
    ivfprobe AS (
      SELECT vec_id AS qid, label AS cell FROM (
        SELECT vec_id, label,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY {_r9('dot')} DESC, label) AS rn
        FROM ivfdot WHERE vec_id < {TOPK_QUERIES}) WHERE rn <= {IVF_NPROBE}),
    ivfcand AS (
      SELECT DISTINCT p.qid, a.vec_id
      FROM ivfassign a JOIN ivfprobe p
        ON a.cell = p.cell AND a.vec_id <> p.qid),
    {_rerank_cte('ivfcand', 'ivfann')}
"""


def _ann_queries(spark: SparkSession, sf_dir: str):
    emb = Catalog(spark, sf_dir).table("embeddings")
    queries = emb.filter(F.col("vec_id") < TOPK_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    return emb, queries


@register(
    "emb_ann_lsh",
    f"""
    WITH {_LSH_ANN_CTES}
    SELECT qid, vec_id, score, rk FROM lshann WHERE rk <= {TOPK_K}
    """,
    "Sign-LSH approximate top-k: 8 hash tables × 4 deterministic "
    "LCG hyperplanes bucket the corpus; exact cosine re-rank within "
    "shared buckets. Deterministic planes make the approximate index "
    "exactly reproducible — the oracle replays it in SQL.",
)
def q_emb_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb, queries = _ann_queries(spark, sf_dir)
    return S.ann_topk_lsh(
        emb, queries, dims=EMB_DIMS, k=TOPK_K
    ).select("qid", "vec_id", "score", "rk")


@register(
    "emb_ann_lsh_mp",
    f"""
    WITH {_LSH_MP_ANN_CTES}
    SELECT qid, vec_id, score, rk FROM mpann WHERE rk <= {TOPK_K}
    """,
    "MULTI-PROBE sign-LSH (Lv et al. VLDB 2007): each query also "
    f"probes every bucket at Hamming distance 1 ({S.LSH_BITS} flips "
    "per table) — the candidates a near-boundary sign flip would "
    "have bucketed elsewhere. Recall rises like adding ~bits extra "
    "tables while the INDEX stays identical; only the broadcast "
    "query-side entries multiply. The deterministic all-flips probe "
    "set keeps it exactly SQL-replayable.",
)
def q_emb_ann_lsh_mp(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb, queries = _ann_queries(spark, sf_dir)
    return S.ann_topk_lsh(
        emb,
        queries,
        dims=EMB_DIMS,
        k=TOPK_K,
        probe_hamming=1,
    ).select("qid", "vec_id", "score", "rk")


@register(
    "emb_ann_ivf",
    f"""
    WITH {_IVF_ANN_CTES}
    SELECT qid, vec_id, score, rk FROM ivfann WHERE rk <= {TOPK_K}
    """,
    "IVF approximate top-k with label-seeded cells (normalized "
    "per-label mean centroids — the deterministic, SQL-replayable "
    "seeding; Lloyd-trained spherical k-means is the ann_topk_ivf "
    "default, recall-asserted in tests/test_llm.py): map-only "
    "broadcast-centroid assignment, queries probe nprobe cells, "
    "exact cosine re-rank within probed cells.",
)
def q_emb_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb, queries = _ann_queries(spark, sf_dir)
    cent = S.label_centroids(emb)
    return S.ann_topk_ivf(
        emb,
        queries,
        nprobe=IVF_NPROBE,
        k=TOPK_K,
        centroids=cent,
    ).select("qid", "vec_id", "score", "rk")


RERANK_RETRIEVE = 20  # stage-1 short-list size per query


@register(
    "emb_ann_rerank",
    f"""
    WITH {_LSH_ANN_CTES},
    rrcand AS (SELECT qid, vec_id FROM lshann WHERE rk <= {RERANK_RETRIEVE}),
    rrpair AS (
      SELECT pr.qid, pr.vec_id,
             sum((CAST(ev[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))
                 * (1.0 + (((i - 1) * {S.RERANK_WEIGHT_MULT})
                           % {S.RERANK_WEIGHT_MOD}) / {float(S.RERANK_WEIGHT_MOD)}))
               AS wdot,
             sqrt(sum((CAST(ev[i] AS DOUBLE) * CAST(ev[i] AS DOUBLE))
                 * (1.0 + (((i - 1) * {S.RERANK_WEIGHT_MULT})
                           % {S.RERANK_WEIGHT_MOD}) / {float(S.RERANK_WEIGHT_MOD)})))
               AS wn_a,
             sqrt(sum((CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))
                 * (1.0 + (((i - 1) * {S.RERANK_WEIGHT_MULT})
                           % {S.RERANK_WEIGHT_MOD}) / {float(S.RERANK_WEIGHT_MOD)})))
               AS wn_b
      FROM (SELECT c.qid, c.vec_id, e.embedding AS ev, q.embedding AS qv
            FROM rrcand c
            JOIN embeddings e ON e.vec_id = c.vec_id
            JOIN embeddings q ON q.vec_id = c.qid) pr,
           LATERAL (SELECT unnest(range(1, len(ev) + 1)) AS i)
      GROUP BY pr.qid, pr.vec_id)
    SELECT qid, vec_id, score, rk FROM (
      SELECT qid, vec_id, score,
             row_number() OVER (PARTITION BY qid
                                ORDER BY score DESC, vec_id) AS rk
      FROM (SELECT qid, vec_id,
                   {_r9('wdot / (wn_a * wn_b)')} AS score
            FROM rrpair))
    WHERE rk <= {TOPK_K}
    """,
    "Two-stage retrieval: sign-LSH retrieves a "
    f"{RERANK_RETRIEVE}-candidate short list per query, then the "
    "cross-encoder slot (llm.similarity.cross_rerank_topk) re-scores "
    "every surviving pair with the deterministic interaction scorer "
    "(dim-weighted cosine, Knuth-hash weights — re-weights feature "
    "interactions, NOT monotone in plain cosine) and keeps the top "
    f"{TOPK_K}. The pair list broadcasts onto the corpus (broadcast "
    "hash join, corpus never shuffles); scoring is one Arrow-batched "
    "numpy pass. A learned cross-encoder drops into the same scorer "
    "slot; this deterministic one keeps the stack oracle-replayable.",
)
def q_emb_ann_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb, queries = _ann_queries(spark, sf_dir)
    cand = S.ann_topk_lsh(
        emb, queries, dims=EMB_DIMS, k=RERANK_RETRIEVE
    ).select("qid", "vec_id")
    return S.cross_rerank_topk(
        emb, queries, cand, k=TOPK_K
    ).select("qid", "vec_id", "score", "rk")


# label-seeded PQ: codebook per subspace = per-label mean subvectors
# (ascending-label codeword order); codes = argmin 9dp-quantized L2;
# ADC = per-query LUT of subspace dots, summed by code — mirrors
# llm.similarity.pq_codebooks / pq_encode_udf / ann_topk_pq
PQ_SUBDIM = EMB_DIMS // S.PQ_SUBSPACES

_PQ_CODE_CTES = f"""
    pqcent AS (
      SELECT label, CAST(d AS INT) AS d,
             CAST((d - 1) // {PQ_SUBDIM} AS INT) AS m,
             avg(CAST(embedding[d] AS DOUBLE)) AS w
      FROM embeddings CROSS JOIN range(1, {EMB_DIMS + 1}) t(d)
      GROUP BY label, d),
    pqdist AS (
      SELECT e.vec_id, c.m, c.label,
             sum((CAST(e.embedding[c.d] AS DOUBLE) - c.w)
                 * (CAST(e.embedding[c.d] AS DOUBLE) - c.w)) AS d2
      FROM embeddings e CROSS JOIN pqcent c
      GROUP BY e.vec_id, c.m, c.label),
    pqcode AS (
      SELECT vec_id, m, label AS code FROM (
        SELECT vec_id, m, label,
               row_number() OVER (PARTITION BY vec_id, m
                                  ORDER BY {_r9('d2')} ASC, label) AS rn
        FROM pqdist) WHERE rn = 1)"""

_PQ_ANN_CTES = f"""
    {_PQ_CODE_CTES},
    pqlut AS (
      SELECT q.vec_id AS qid, c.m, c.label,
             sum(CAST(q.embedding[c.d] AS DOUBLE) * c.w) AS pd
      FROM embeddings q CROSS JOIN pqcent c
      WHERE q.vec_id < {TOPK_QUERIES}
      GROUP BY q.vec_id, c.m, c.label),
    pqadc AS (
      SELECT l.qid, c.vec_id, sum(l.pd) AS adc
      FROM pqcode c JOIN pqlut l ON l.m = c.m AND l.label = c.code
      WHERE c.vec_id <> l.qid
      GROUP BY l.qid, c.vec_id),
    pqcand AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY {_r9('adc')} DESC, vec_id) AS rn
        FROM pqadc) WHERE rn <= {S.PQ_RETRIEVE}),
    {_rerank_cte('pqcand', 'pqann')}
"""

# Lloyd-TRAINED PQ codebooks, oracle-replayed round by round (the BPE
# trainer's generated-CTE pattern): deterministic md5-ordered sample,
# init from the first n_codes sampled vectors, per-round assignment by
# 9dp-quantized subspace L2 (ties to the smallest code), per-round
# centroid update as a 9dp-quantized mean (empty codes keep their
# centroid). Rounding the centroids each round pins both engines to
# identical values, so summation-order drift cannot compound — mirrors
# llm.similarity.pq_train_codebooks exactly.


def _pq_trained_cent_ctes(iters: int = S.PQ_TRAIN_ITERS) -> str:
    h = _MD5_INT32_SQL.format(col="CAST(vec_id AS VARCHAR)")
    parts = [
        f"""tsamp AS MATERIALIZED (
      SELECT rk, vec_id, embedding FROM (
        SELECT row_number() OVER (ORDER BY {h}, vec_id) AS rk,
               vec_id, embedding
        FROM embeddings) WHERE rk <= {S.PQ_TRAIN_SAMPLE})""",
        f"""tsx AS MATERIALIZED (
      SELECT rk, CAST(d AS INT) AS d,
             CAST((d - 1) // {PQ_SUBDIM} AS INT) AS m,
             CAST(embedding[d] AS DOUBLE) AS x
      FROM tsamp CROSS JOIN range(1, {EMB_DIMS + 1}) t(d))""",
        f"""tc0 AS MATERIALIZED (
      SELECT CAST(rk - 1 AS INT) AS code, d, m, x AS w
      FROM tsx WHERE rk <= {S.PQ_TRAIN_CODES})""",
    ]
    for r in range(iters):
        parts.append(
            f"""ta{r} AS MATERIALIZED (
      SELECT rk, m, code FROM (
        SELECT rk, m, code,
               row_number() OVER (PARTITION BY rk, m
                                  ORDER BY {_r9('d2')} ASC, code) AS rn
        FROM (SELECT s.rk, c.m, c.code,
                     sum((s.x - c.w) * (s.x - c.w)) AS d2
              FROM tsx s JOIN tc{r} c ON c.d = s.d AND c.m = s.m
              GROUP BY s.rk, c.m, c.code)) WHERE rn = 1)"""
        )
        parts.append(
            f"""tc{r + 1} AS MATERIALIZED (
      SELECT c.code, c.d, c.m, COALESCE(u.w, c.w) AS w
      FROM tc{r} c LEFT JOIN (
        SELECT a.code, s.d, s.m, {_r9('avg(s.x)')} AS w
        FROM ta{r} a JOIN tsx s ON s.rk = a.rk AND s.m = a.m
        GROUP BY a.code, s.d, s.m) u
        ON u.code = c.code AND u.d = c.d AND u.m = c.m)"""
        )
    parts.append(f"tcent AS (SELECT code, d, m, w FROM tc{iters})")
    return ",\n    ".join(parts)


def _pq_adc_chain(cent: str, p: str) -> str:
    """Generic PQ encode→LUT→ADC→shortlist→exact-rerank chain over a
    centroid CTE `{cent}`(code, d, m, w); emits {p}ann."""
    return f"""
    {p}dist AS (
      SELECT e.vec_id, c.m, c.code,
             sum((CAST(e.embedding[c.d] AS DOUBLE) - c.w)
                 * (CAST(e.embedding[c.d] AS DOUBLE) - c.w)) AS d2
      FROM embeddings e CROSS JOIN {cent} c
      GROUP BY e.vec_id, c.m, c.code),
    {p}code AS (
      SELECT vec_id, m, code FROM (
        SELECT vec_id, m, code,
               row_number() OVER (PARTITION BY vec_id, m
                                  ORDER BY {_r9('d2')} ASC, code) AS rn
        FROM {p}dist) WHERE rn = 1),
    {p}lut AS (
      SELECT q.vec_id AS qid, c.m, c.code,
             sum(CAST(q.embedding[c.d] AS DOUBLE) * c.w) AS pd
      FROM embeddings q CROSS JOIN {cent} c
      WHERE q.vec_id < {TOPK_QUERIES}
      GROUP BY q.vec_id, c.m, c.code),
    {p}adc AS (
      SELECT l.qid, c.vec_id, sum(l.pd) AS adc
      FROM {p}code c JOIN {p}lut l ON l.m = c.m AND l.code = c.code
      WHERE c.vec_id <> l.qid
      GROUP BY l.qid, c.vec_id),
    {p}cand AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY {_r9('adc')} DESC, vec_id) AS rn
        FROM {p}adc) WHERE rn <= {S.PQ_RETRIEVE}),
    {_rerank_cte(f'{p}cand', f'{p}ann')}"""


_PQ_TRAINED_ANN_CTES = _pq_trained_cent_ctes() + "," + _pq_adc_chain("tcent", "tpq")

# SQ8 scalar quantization: per-dim exact min/max bounds, code =
# clip(⌊(x−mn)·256/(mx−mn)⌋, 0, 255), asymmetric scoring against the
# midpoint reconstruction mn + (code+0.5)·(mx−mn)/256 — mirrors
# llm.similarity.sq_train_bounds / sq_encode / ann_topk_sq
_SQ_CODE_CTES = f"""
    sqb AS (
      SELECT CAST(d AS INT) AS d,
             min(CAST(embedding[d] AS DOUBLE)) AS mn,
             max(CAST(embedding[d] AS DOUBLE)) AS mx
      FROM embeddings CROSS JOIN range(1, {EMB_DIMS + 1}) t(d)
      GROUP BY CAST(d AS INT)),
    sqcode AS (
      SELECT e.vec_id, b.d,
             CASE WHEN b.mx = b.mn THEN 0
                  ELSE least(255, greatest(0, CAST(floor(
                    (CAST(e.embedding[b.d] AS DOUBLE) - b.mn)
                      / (b.mx - b.mn) * 256) AS INT)))
             END AS code
      FROM embeddings e CROSS JOIN sqb b)"""

_SQ_ANN_CTES = f"""
    {_SQ_CODE_CTES},
    sqrec AS (
      SELECT c.vec_id, c.d,
             b.mn + (c.code + 0.5) * (b.mx - b.mn) / 256 AS rv
      FROM sqcode c JOIN sqb b ON b.d = c.d),
    sqadc AS (
      SELECT q.vec_id AS qid, r.vec_id,
             sum(CAST(q.embedding[r.d] AS DOUBLE) * r.rv) AS dot,
             sqrt(sum(r.rv * r.rv)) AS n_r,
             sqrt(sum(CAST(q.embedding[r.d] AS DOUBLE)
                      * CAST(q.embedding[r.d] AS DOUBLE))) AS n_q
      FROM sqrec r CROSS JOIN embeddings q
      WHERE q.vec_id < {TOPK_QUERIES} AND r.vec_id <> q.vec_id
      GROUP BY q.vec_id, r.vec_id),
    sqcand AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY {_r9('dot / (n_r * n_q)')} DESC,
                                           vec_id) AS rn
        FROM sqadc) WHERE rn <= {S.SQ_RETRIEVE}),
    {_rerank_cte('sqcand', 'sqann')}"""


_RP_SIGN_SQL = (
    "CASE WHEN ("
    + _MD5_INT32_SQL.format(
        col="'" + S.RP_SALT + ":' || CAST(d.d - 1 AS VARCHAR) || ':' || CAST(j.j AS VARCHAR)"
    )
    + ") % 2 = 0 THEN 1.0 ELSE -1.0 END"
)

_RP_CTES = f"""
    rpc AS (
      SELECT e.vec_id, j.j,
             sum(CAST(e.embedding[d.d] AS DOUBLE) * {_RP_SIGN_SQL}) AS y
      FROM embeddings e
      CROSS JOIN range(1, {EMB_DIMS + 1}) d(d)
      CROSS JOIN range(0, {S.RP_DIMS}) j(j)
      GROUP BY e.vec_id, j.j)"""

_RP_ANN_CTES = f"""
    {_RP_CTES},
    rpdot AS (
      SELECT a.vec_id AS qid, b.vec_id,
             sum(a.y * b.y) AS dot,
             sqrt(sum(b.y * b.y)) AS n_c,
             sqrt(sum(a.y * a.y)) AS n_q
      FROM rpc a JOIN rpc b ON b.j = a.j AND b.vec_id <> a.vec_id
      WHERE a.vec_id < {TOPK_QUERIES}
      GROUP BY a.vec_id, b.vec_id),
    rpcand AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY {_r9('dot / (n_c * n_q)')} DESC,
                                           vec_id) AS rn
        FROM rpdot) WHERE rn <= {S.RP_RETRIEVE}),
    {_rerank_cte('rpcand', 'rpann')}"""



@register(
    "emb_ann_recall",
    f"""
    WITH {_DOT_CTE.format(nq=TOPK_QUERIES)},
    exactk AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY {_r9('dot / (n_a * n_b)')} DESC, vec_id) AS rk
        FROM pairdot) WHERE rk <= {TOPK_K}),
    {_LSH_ANN_CTES},
    {_IVF_ANN_CTES},
    {_PQ_ANN_CTES},
    {_PQ_TRAINED_ANN_CTES},
    {_SQ_ANN_CTES},
    {_RP_ANN_CTES},
    mpq AS (
      SELECT vec_id, tbl, unnest([{_MP_XOR_LIST}]) AS bucket
      FROM lshbuckets WHERE vec_id < {TOPK_QUERIES}),
    mpcand AS (
      SELECT DISTINCT q.vec_id AS qid, c.vec_id
      FROM lshbuckets c JOIN mpq q
        ON c.tbl = q.tbl AND c.bucket = q.bucket AND c.vec_id <> q.vec_id),
    {_rerank_cte('mpcand', 'mpann')},
    rxadc AS (
      SELECT ic.qid, ic.vec_id, sum(l.pd) AS adc
      FROM ivfcand ic
      JOIN pqcode c ON c.vec_id = ic.vec_id
      JOIN pqlut l ON l.qid = ic.qid AND l.m = c.m AND l.label = c.code
      GROUP BY ic.qid, ic.vec_id),
    rxshort AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY {_r9('adc')} DESC, vec_id) AS rn
        FROM rxadc) WHERE rn <= {S.PQ_RETRIEVE}),
    {_rerank_cte('rxshort', 'rxann')}
    SELECT method, qid, recall FROM (
      SELECT 'lsh' AS method, e.qid,
             CAST(count(a.vec_id) AS DOUBLE) / {TOPK_K} AS recall
      FROM exactk e LEFT JOIN (SELECT qid, vec_id FROM lshann WHERE rk <= {TOPK_K}) a
        ON a.qid = e.qid AND a.vec_id = e.vec_id
      GROUP BY e.qid
      UNION ALL
      SELECT 'ivf' AS method, e.qid,
             CAST(count(a.vec_id) AS DOUBLE) / {TOPK_K} AS recall
      FROM exactk e LEFT JOIN (SELECT qid, vec_id FROM ivfann WHERE rk <= {TOPK_K}) a
        ON a.qid = e.qid AND a.vec_id = e.vec_id
      GROUP BY e.qid
      UNION ALL
      SELECT 'pq' AS method, e.qid,
             CAST(count(a.vec_id) AS DOUBLE) / {TOPK_K} AS recall
      FROM exactk e LEFT JOIN (SELECT qid, vec_id FROM pqann WHERE rk <= {TOPK_K}) a
        ON a.qid = e.qid AND a.vec_id = e.vec_id
      GROUP BY e.qid
      UNION ALL
      SELECT 'pq_trained' AS method, e.qid,
             CAST(count(a.vec_id) AS DOUBLE) / {TOPK_K} AS recall
      FROM exactk e LEFT JOIN (SELECT qid, vec_id FROM tpqann WHERE rk <= {TOPK_K}) a
        ON a.qid = e.qid AND a.vec_id = e.vec_id
      GROUP BY e.qid
      UNION ALL
      SELECT 'ivfpq' AS method, e.qid,
             CAST(count(a.vec_id) AS DOUBLE) / {TOPK_K} AS recall
      FROM exactk e LEFT JOIN (SELECT qid, vec_id FROM rxann WHERE rk <= {TOPK_K}) a
        ON a.qid = e.qid AND a.vec_id = e.vec_id
      GROUP BY e.qid
      UNION ALL
      SELECT 'sq' AS method, e.qid,
             CAST(count(a.vec_id) AS DOUBLE) / {TOPK_K} AS recall
      FROM exactk e LEFT JOIN (SELECT qid, vec_id FROM sqann WHERE rk <= {TOPK_K}) a
        ON a.qid = e.qid AND a.vec_id = e.vec_id
      GROUP BY e.qid
      UNION ALL
      SELECT 'rp' AS method, e.qid,
             CAST(count(a.vec_id) AS DOUBLE) / {TOPK_K} AS recall
      FROM exactk e LEFT JOIN (SELECT qid, vec_id FROM rpann WHERE rk <= {TOPK_K}) a
        ON a.qid = e.qid AND a.vec_id = e.vec_id
      GROUP BY e.qid
      UNION ALL
      SELECT 'lsh_mp' AS method, e.qid,
             CAST(count(a.vec_id) AS DOUBLE) / {TOPK_K} AS recall
      FROM exactk e LEFT JOIN (SELECT qid, vec_id FROM mpann WHERE rk <= {TOPK_K}) a
        ON a.qid = e.qid AND a.vec_id = e.vec_id
      GROUP BY e.qid)
    """,
    "Recall@k of each ANN index (sign-LSH and its multi-probe "
    "variant, IVF, label-seeded PQ-ADC, Lloyd-trained PQ-ADC, "
    "combined IVFPQ, SQ8, and the JL "
    "random-projection sketch) against the exact brute-force top-k — "
    "the quality metric for the approximate paths, itself exact and "
    "oracle-checked because every index (the trained one included) is "
    "deterministic.",
)
def q_emb_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from concurrent.futures import ThreadPoolExecutor

    from realtime0523_spark.llm.clusters import _ckpt_tools

    emb, queries = _ann_queries(spark, sf_dir)
    ckpt, _release = _ckpt_tools(emb)
    # Round-14: the exact truth set, the two codebook trainings and
    # the label-centroid training are independent eager pipelines —
    # overlap them from a pool (guide §2.6). label_centroids and
    # pq_codebooks were previously TRAINED TWICE (once for their solo
    # index, once for IVFPQ) — compute each once and share (§2.4:
    # don't compute things you throw away). The exact truth set
    # materializes ONCE (localCheckpoint): all eight recall branches
    # join against it twice each, and without the pin every branch
    # re-executes the full-corpus exact cosine scan (§5).
    with ThreadPoolExecutor(max_workers=4) as pool:
        f_exact = pool.submit(
            lambda: ckpt(
                S.cosine_topk(emb, queries, k=TOPK_K).select("qid", "vec_id")
            )[0]
        )
        f_cents = pool.submit(lambda: S.label_centroids(emb))
        f_cb = pool.submit(lambda: S.pq_codebooks(emb))
        f_cb_tr = pool.submit(lambda: S.pq_train_codebooks(emb))
        exact = f_exact.result()
        cents, cb, cb_tr = f_cents.result(), f_cb.result(), f_cb_tr.result()
    lsh = S.ann_topk_lsh(emb, queries, dims=EMB_DIMS, k=TOPK_K).select("qid", "vec_id")
    ivf = S.ann_topk_ivf(
        emb,
        queries,
        nprobe=IVF_NPROBE,
        k=TOPK_K,
        centroids=cents,
    ).select("qid", "vec_id")
    pq = S.ann_topk_pq(emb, queries, codebooks=cb, k=TOPK_K).select("qid", "vec_id")
    pq_trained = S.ann_topk_pq(
        emb,
        queries,
        codebooks=cb_tr,
        k=TOPK_K,
    ).select("qid", "vec_id")
    ivfpq = S.ann_topk_ivfpq(
        emb,
        queries,
        centroids=cents,
        codebooks=cb,
        nprobe=IVF_NPROBE,
        k=TOPK_K,
    ).select("qid", "vec_id")
    sq = S.ann_topk_sq(emb, queries, k=TOPK_K).select(
        "qid", "vec_id"
    )
    rp = S.ann_topk_rp(emb, queries, in_dims=EMB_DIMS, k=TOPK_K).select("qid", "vec_id")
    lsh_mp = S.ann_topk_lsh(
        emb,
        queries,
        dims=EMB_DIMS,
        k=TOPK_K,
        probe_hamming=1,
    ).select("qid", "vec_id")

    def _recall(ann: DataFrame, method: str) -> DataFrame:
        hits = exact.join(ann, ["qid", "vec_id"]).groupBy("qid").count()
        return (
            exact.select("qid")
            .distinct()
            .join(hits, "qid", "left")
            .select(
                F.lit(method).alias("method"),
                "qid",
                (F.coalesce(F.col("count"), F.lit(0)) / F.lit(TOPK_K))
                .cast("double")
                .alias("recall"),
            )
        )

    return (
        _recall(lsh, "lsh")
        .unionAll(_recall(ivf, "ivf"))
        .unionAll(_recall(pq, "pq"))
        .unionAll(_recall(pq_trained, "pq_trained"))
        .unionAll(_recall(ivfpq, "ivfpq"))
        .unionAll(_recall(sq, "sq"))
        .unionAll(_recall(rp, "rp"))
        .unionAll(_recall(lsh_mp, "lsh_mp"))
    )


@register(
    "emb_ann_pq",
    f"""
    WITH {_PQ_ANN_CTES}
    SELECT qid, vec_id, score, rk FROM pqann WHERE rk <= {TOPK_K}
    """,
    "Product-quantization ANN (Jégou et al. 2011): each vector is "
    f"compressed to {S.PQ_SUBSPACES} codeword indexes (label-seeded "
    "codebooks — the deterministic, SQL-replayable seeding; the "
    "`codebooks` argument takes a Lloyd-per-subspace matrix "
    "unchanged); the ADC scan scores the 32×-smaller coded corpus "
    "against per-query subspace-dot LUTs with exact batch-local "
    f"pruning, and the top-{S.PQ_RETRIEVE} shortlist is re-ranked by "
    "exact cosine via a broadcast fetch. The corpus never shuffles "
    "and is touched at full precision only for the shortlist.",
)
def q_emb_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb, queries = _ann_queries(spark, sf_dir)
    cb = S.pq_codebooks(emb)
    return S.ann_topk_pq(
        emb, queries, codebooks=cb, k=TOPK_K
    ).select("qid", "vec_id", "score", "rk")


@register(
    "emb_pq_codes",
    f"""
    WITH {_PQ_CODE_CTES}
    SELECT vec_id, m, code FROM pqcode
    """,
    "The PQ index ARTIFACT itself: every vector's codeword index per "
    f"subspace — {S.PQ_SUBSPACES} small ints replacing {EMB_DIMS} "
    "floats (32× compression), the table an ANN serving tier ships "
    "to memory. Encoding is one map-only Arrow pass with the "
    "codebooks closure-broadcast; emitted exploded (vec, subspace, "
    "code) for the set-compare.",
)
def q_emb_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = Catalog(spark, sf_dir).table("embeddings")
    coded = S.pq_encode(emb, S.pq_codebooks(emb))
    return coded.select(
        "vec_id", F.posexplode("pq_code").alias("m", "code")
    )


@register(
    "emb_ann_pq_trained",
    f"""
    WITH {_PQ_TRAINED_ANN_CTES}
    SELECT qid, vec_id, score, rk FROM tpqann WHERE rk <= {TOPK_K}
    """,
    f"PQ-ADC ANN with LLOYD-TRAINED codebooks — the real k-means "
    f"trainer ({S.PQ_TRAIN_CODES} codes × {S.PQ_SUBSPACES} subspaces, "
    f"{S.PQ_TRAIN_ITERS} rounds on a bounded md5-ordered sample) "
    "behind the label-seeded emb_ann_pq twin. Training is exactly "
    "SQL-replayable: the oracle re-runs every Lloyd round as "
    "generated CTEs with 9dp-quantized assignments AND centroid "
    "means, so cross-engine float drift cannot compound. Serving is "
    "the identical map-only ADC scan + broadcast exact re-rank.",
)
def q_emb_ann_pq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb, queries = _ann_queries(spark, sf_dir)
    cb = S.pq_train_codebooks(emb)
    return S.ann_topk_pq(
        emb, queries, codebooks=cb, k=TOPK_K
    ).select("qid", "vec_id", "score", "rk")


@register(
    "emb_ann_opq",
    f"""
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           CAST({TOPK_K} AS INT) AS k,
           true AS opq_recall_ge_trained
    FROM embeddings WHERE vec_id < {TOPK_QUERIES}
    """,
    "OPQ — Optimized Product Quantization (Ge et al., CVPR 2013): an "
    "orthonormal rotation learned jointly with the PQ codebooks "
    "(Lloyd on the rotated sample, alternate with the orthogonal-"
    "Procrustes SVD update), then the standard ADC scan + exact "
    "re-rank in rotated space. The rotation aligns the subspace "
    "split with the data's principal structure — same code size, "
    "higher recall. CONTRACT ROW (the dau_approx pattern, the "
    "documented deviation): the SVD is not SQL-replayable, so the "
    "checkable surface is recall@5 of OPQ ≥ recall@5 of trained PQ "
    "against the exact top-k — computed Spark-side and emitted as a "
    "boolean the oracle asserts true; an OPQ regression below the "
    "trained-PQ baseline flips it and fails the hash. Scale shape: "
    "one extra Arrow rotation map over PQ's (map-only coded scan, "
    "closure-broadcast LUTs, broadcast shortlist fetch).",
)
def q_emb_ann_opq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb, queries = _ann_queries(spark, sf_dir)
    exact = S.cosine_topk(emb, queries, k=TOPK_K).select("qid", "vec_id")
    R, cb = S.opq_train(emb)
    opq = S.ann_topk_opq(emb, queries, R, cb, k=TOPK_K).select(
        "qid", "vec_id"
    )
    cbt = S.pq_train_codebooks(emb)
    pqt = S.ann_topk_pq(emb, queries, codebooks=cbt, k=TOPK_K).select(
        "qid", "vec_id"
    )
    n_q = queries.count()
    hits_opq = opq.join(exact, ["qid", "vec_id"]).count()
    hits_pq = pqt.join(exact, ["qid", "vec_id"]).count()
    return spark.createDataFrame(
        [(n_q, TOPK_K, hits_opq >= hits_pq)],
        "n_queries long, k int, opq_recall_ge_trained boolean",
    )


@register(
    "emb_ann_ivfopq",
    f"""
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           CAST({TOPK_K} AS INT) AS k,
           true AS ivfopq_within_contract
    FROM embeddings WHERE vec_id < {TOPK_QUERIES}
    """,
    "IVF-OPQ — the full FAISS `OPQm,IVFn,PQm` recipe closing the ANN "
    "matrix: the learned orthonormal rotation composed with the "
    "coarse-quantizer + PQ-ADC index, centroids trained in ROTATED "
    "space so cells partition the geometry the codes live in. One "
    "extra Arrow rotation map per side over IVFADC's shape; the "
    "corpus never shuffles. CONTRACT ROW (the OPQ stance — SVD is "
    "not SQL-replayable): recall@5 must stay within 20% of the "
    "unrotated IVFADC index AND clear an absolute 5% floor — the "
    "honest claim, since the rotation provably improves CODE quality "
    "but also moves IVF cell boundaries, so probe recall can wobble "
    "either way (measured: 0.50 vs 0.38 at sf0.01, 0.24 vs 0.26 at "
    "sf0.1). A collapse flips the boolean and fails the hash.",
)
def q_emb_ann_ivfopq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from concurrent.futures import ThreadPoolExecutor

    from realtime0523_spark.llm.clusters import _ckpt_tools

    emb, queries = _ann_queries(spark, sf_dir)
    ckpt, _release = _ckpt_tools(emb)
    # Round-14 (VERDICT r13 item #6): the three pipelines (exact
    # truth, IVFPQ, IVF-OPQ) are independent until the recall joins,
    # but each is internally eager — codebook/centroid training
    # collects (pq/opq/ivf train) anchor jobs at CONSTRUCTION time —
    # so built serially they serialize ~6 training jobs plus the
    # exact scan. Submit them from a 3-thread pool (guide §2.6) so
    # each pipeline's training/scan tasks back-fill the others' stage
    # tails. The exact truth set additionally materializes ONCE
    # (localCheckpoint): BOTH hit counts read it, and without the pin
    # each count re-executes the full-corpus exact cosine scan
    # (guide §5 — cache only what is reused and expensive). Results
    # are unchanged: the pipelines share no state, and each side is
    # fully materialized before any count reads it.
    with ThreadPoolExecutor(max_workers=3) as pool:
        f_exact = pool.submit(
            lambda: ckpt(
                S.cosine_topk(emb, queries, k=TOPK_K).select("qid", "vec_id")
            )[0]
        )
        f_base = pool.submit(
            lambda: S.ann_topk_ivfpq(emb, queries, k=TOPK_K).select(
                "qid", "vec_id"
            )
        )
        f_opq = pool.submit(
            lambda: S.ann_topk_ivfopq(emb, queries, k=TOPK_K).select(
                "qid", "vec_id"
            )
        )
        exact = f_exact.result()
        ivfpq, ivfopq = f_base.result(), f_opq.result()
    n_q = queries.count()
    # the two hit counts are independent eager actions over distinct
    # coded scans — overlap them too (§2.6)
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_hb = pool.submit(
            lambda: ivfpq.join(exact, ["qid", "vec_id"]).count()
        )
        f_ho = pool.submit(
            lambda: ivfopq.join(exact, ["qid", "vec_id"]).count()
        )
        hits_base, hits_opq = f_hb.result(), f_ho.result()
    ok = (5 * hits_opq >= 4 * hits_base) and (20 * hits_opq >= n_q * TOPK_K)
    return spark.createDataFrame(
        [(n_q, TOPK_K, ok)],
        "n_queries long, k int, ivfopq_within_contract boolean",
    )


@register(
    "emb_ann_sq",
    f"""
    WITH {_SQ_ANN_CTES}
    SELECT qid, vec_id, score, rk FROM sqann WHERE rk <= {TOPK_K}
    """,
    "SQ8 scalar-quantization ANN (the faiss IndexScalarQuantizer / "
    "QT_8bit recipe): per-dim exact min/max bounds train the "
    "quantizer, each vector compresses to one byte per dim (4× vs "
    "fp32), and queries score the midpoint reconstruction "
    "asymmetrically — full-precision query, coded corpus — with an "
    f"exact-cosine re-rank of the top-{S.SQ_RETRIEVE}. The cheapest "
    "quantized index: no codebook training, encode is pure "
    "whole-stage codegen (a built-in transform — not even an Arrow "
    "kernel), the scan is map-only, the corpus never shuffles.",
)
def q_emb_ann_sq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb, queries = _ann_queries(spark, sf_dir)
    return S.ann_topk_sq(emb, queries, k=TOPK_K).select(
        "qid", "vec_id", "score", "rk"
    )


@register(
    "emb_sq_codes",
    f"""
    WITH {_SQ_CODE_CTES}
    SELECT vec_id, d, code FROM sqcode
    """,
    "The SQ8 index ARTIFACT: every vector's 8-bit code per dimension "
    f"({EMB_DIMS} bytes replacing {EMB_DIMS} floats). Encoding is "
    "one codegen'd map over the corpus with the bounds as literal "
    "arrays — no Python, no shuffle; emitted exploded "
    "(vec, dim, code) for the set-compare.",
)
def q_emb_sq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = Catalog(spark, sf_dir).table("embeddings")
    coded = S.sq_encode(emb, S.sq_train_bounds(emb))
    return coded.select(
        "vec_id", F.posexplode("sq_code").alias("d0", "code")
    ).select("vec_id", (F.col("d0") + 1).alias("d"), "code")


# ----------------------------------------------------------------------
# Multimodal plumbing
# ----------------------------------------------------------------------


@register(
    "media_features",
    """
    SELECT doc_id, octet_length(encode(text)) AS n_bytes, sha256(text) AS sha256
    FROM documents
    """,
    "Multimodal byte-level feature extraction: opaque binary column + "
    "metadata struct processed by an Arrow-batched mapInPandas kernel "
    "(decode step stubbed — no codecs in the container; batch shape "
    "and schema are the real plumbing).",
)
def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    with_media = M.attach_media(docs)
    return M.media_features(with_media).select("doc_id", "n_bytes", "sha256")


MEDIA_W, MEDIA_H = 4, 4  # 48-byte raster per image (3 channels)


@register(
    "media_decode",
    f"""
    WITH m AS (SELECT doc_id, hex(encode(text)) AS hx,
                      octet_length(encode(text)) AS nb
               FROM documents),
    px AS (SELECT doc_id, i % 3 AS channel,
                  CASE WHEN nb = 0 THEN 0
                       ELSE CAST('0x' || substr(hx, 2 * (i % nb) + 1, 2)
                            AS INT) END AS v
           FROM m, LATERAL (SELECT unnest(range(0, {MEDIA_W * MEDIA_H * 3}))
                            AS i))
    SELECT doc_id, CAST(channel AS INT) AS channel,
           CAST(sum(v) AS BIGINT) AS px_sum,
           CAST({MEDIA_W * MEDIA_H} AS BIGINT) AS n_px
    FROM px GROUP BY 1, 2
    """,
    "REAL image decode (round-10: the stub is gone): each document "
    "becomes a valid binary P6 PPM (raster = UTF-8 text bytes cycled "
    f"to {MEDIA_W}×{MEDIA_H}×3), decoded by the pure-NumPy Netpbm "
    "decoder (llm/multimodal.py::decode_image — comment-tolerant "
    "header parse + frombuffer reshape, no codec dependency), then "
    "per-channel EXACT integer pixel sums — the brightness/colorcast "
    "screen of an image-quality pipeline. The oracle replays every "
    "raster byte from hex(encode(text)), so the match proves header "
    "framing + decode byte for byte. Compressed formats raise "
    "NotImplementedError naming the PIL seam. Map-only: payloads "
    "never shuffle; 3 rows out per image whatever the resolution.",
)
def q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    return M.decode_channel_stats(M.attach_ppm_media(docs, MEDIA_W, MEDIA_H))


@register(
    "media_decode_png",
    f"""
    WITH m AS (SELECT doc_id, hex(encode(text)) AS hx,
                      octet_length(encode(text)) AS nb
               FROM documents),
    px AS (SELECT doc_id, i % 3 AS channel,
                  CASE WHEN nb = 0 THEN 0
                       ELSE CAST('0x' || substr(hx, 2 * (i % nb) + 1, 2)
                            AS INT) END AS v
           FROM m, LATERAL (SELECT unnest(range(0, {MEDIA_W * MEDIA_H * 3}))
                            AS i))
    SELECT doc_id, CAST(channel AS INT) AS channel,
           CAST(sum(v) AS BIGINT) AS px_sum,
           CAST({MEDIA_W * MEDIA_H} AS BIGINT) AS n_px
    FROM px GROUP BY 1, 2
    """,
    "REAL COMPRESSED image decode (round-11: the PNG seam is closed): "
    "each document becomes a spec-valid 8-bit RGB PNG (raster = UTF-8 "
    f"text bytes cycled to {MEDIA_W}×{MEDIA_H}×3, scanlines deflated "
    "with a Paeth/Average/Up/Sub filter cycle), decoded by the "
    "stdlib-zlib + NumPy decoder (llm/multimodal.py::decode_png — "
    "chunk/CRC walk, inflate, per-scanline defiltering), then "
    "per-channel EXACT integer pixel sums. The oracle replays every "
    "raster byte from hex(encode(text)) — identical to media_decode's "
    "— so the match proves inflate + all four non-trivial defilters "
    "byte for byte. Map-only: payloads never shuffle; 3 rows out per "
    "image.",
)
def q_media_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    return M.decode_channel_stats(M.attach_png_media(docs, MEDIA_W, MEDIA_H))


JPEG_BLOCKS_W, JPEG_BLOCKS_H = 2, 2  # 16×16 px, 4 constant 8×8 blocks


@register(
    "media_decode_jpeg",
    f"""
    WITH m AS (SELECT doc_id, hex(encode(text)) AS hx,
                      octet_length(encode(text)) AS nb
               FROM documents),
    bv AS (SELECT doc_id,
                  CASE WHEN nb = 0 THEN 0
                       ELSE CAST('0x' || substr(hx, 2 * (b % nb) + 1, 2)
                            AS INT) END AS v
           FROM m, LATERAL (SELECT
               unnest(range(0, {JPEG_BLOCKS_W * JPEG_BLOCKS_H})) AS b)),
    s AS (SELECT doc_id, 64 * sum(v) AS px FROM bv GROUP BY 1)
    SELECT doc_id, CAST(c AS INT) AS channel,
           CAST(px AS BIGINT) AS px_sum,
           CAST({JPEG_BLOCKS_W * JPEG_BLOCKS_H * 64} AS BIGINT) AS n_px
    FROM s, LATERAL (SELECT unnest(range(0, 3)) AS c)
    """,
    "REAL LOSSY-codec decode (round-11: the JPEG seam is closed): "
    "each document becomes a spec-valid sequential-baseline 4:4:4 "
    f"color JPEG — a {JPEG_BLOCKS_W}×{JPEG_BLOCKS_H} grid of constant "
    "8×8 luma blocks (block value = text byte b mod len, neutral "
    "chroma) entropy-coded with the Annex-K Huffman tables — decoded "
    "by the pure NumPy+stdlib T.81 decoder (llm/multimodal.py::"
    "decode_jpeg: segment walk, canonical Huffman DC/AC decode with "
    "byte-unstuffing, dequant, inverse zigzag, vectorized einsum "
    "IDCT, YCbCr→RGB). JPEG is lossy in general, but constant blocks "
    "with luma DC quant step 8 and neutral chroma round-trip EXACTLY "
    "(pure-DC blocks; see the module's exactness-contract banner), "
    "so the oracle replays every decoded pixel from "
    "hex(encode(text)): per-channel px_sum = 64·Σ block bytes. The "
    "general lossy path (random images, bounded error; exact Huffman "
    "round-trip on random coefficient blocks) is covered in "
    "tests/test_llm.py. The doc_id/text input is repartitioned to "
    "cluster parallelism BEFORE the codec stage: entropy coding is "
    "CPU-bound Python-side work, and the toy corpus arrives as one "
    "parquet split — at 100 TB the scan has thousands of splits and "
    "the repartition is a no-op-sized insurance shuffle of (long, "
    "short string) rows, never of decoded payloads. 3 rows out per "
    "image. 4:2:0/4:2:2 subsampling and DRI restart intervals decode "
    "too (unit-tested); progressive decodes natively since round 12 "
    "(media_decode_jpeg_progressive) and lossless since round 13 "
    "(media_decode_jpeg_lossless); arithmetic/differential JPEG stay "
    "the named seam.",
)
def q_media_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    par = spark.sparkContext.defaultParallelism
    return M.decode_channel_stats(
        M.attach_jpeg_media(
            docs.repartition(par), JPEG_BLOCKS_W, JPEG_BLOCKS_H
        )
    )


@register(
    "media_decode_jpeg_progressive",
    f"""
    WITH m AS (SELECT doc_id, hex(encode(text)) AS hx,
                      octet_length(encode(text)) AS nb
               FROM documents),
    bv AS (SELECT doc_id,
                  CASE WHEN nb = 0 THEN 0
                       ELSE CAST('0x' || substr(hx, 2 * (b % nb) + 1, 2)
                            AS INT) END AS v
           FROM m, LATERAL (SELECT
               unnest(range(0, {JPEG_BLOCKS_W * JPEG_BLOCKS_H})) AS b)),
    s AS (SELECT doc_id, 64 * sum(v) AS px FROM bv GROUP BY 1)
    SELECT doc_id, CAST(c AS INT) AS channel,
           CAST(px AS BIGINT) AS px_sum,
           CAST({JPEG_BLOCKS_W * JPEG_BLOCKS_H * 64} AS BIGINT) AS n_px
    FROM s, LATERAL (SELECT unnest(range(0, 3)) AS c)
    """,
    "PROGRESSIVE (SOF2) JPEG decode (round-12: the progressive seam "
    "is closed): the same constant-block corpus as media_decode_jpeg, "
    "but each payload is a spec-valid MULTI-SCAN progressive file — "
    "interleaved DC first pass at Al=1, DC successive-approximation "
    "refinement, per-component spectral-selection AC bands with "
    "EOBn runs and correction-bit refinement scans, plus the "
    "mid-stream DHT redefinition real progressive encoders emit — "
    "decoded by the native scan-accumulation path (llm/multimodal.py"
    "::_decode_jpeg_progressive, T.81 Annex G). Quantized "
    "coefficients are identical to the baseline encoding's, so the "
    "same exactness contract holds and the oracle replays every "
    "decoded pixel from hex(encode(text)). Same map-only plan shape "
    "as media_decode_jpeg: repartition (long, short string) rows to "
    "core parallelism before the CPU-bound codec stage; payloads "
    "never shuffle. Lossless (SOF3) decodes natively since round 13 "
    "(media_decode_jpeg_lossless); arithmetic/differential JPEG stay "
    "the named seam.",
)
def q_media_decode_jpeg_progressive(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    par = spark.sparkContext.defaultParallelism
    return M.decode_channel_stats(
        M.attach_jpeg_media(
            docs.repartition(par), JPEG_BLOCKS_W, JPEG_BLOCKS_H,
            progressive=True,
        )
    )


@register(
    "media_decode_jpeg_lossless",
    f"""
    WITH m AS (SELECT doc_id, hex(encode(text)) AS hx,
                      octet_length(encode(text)) AS nb
               FROM documents),
    px AS (SELECT doc_id, i % 3 AS channel,
                  CASE WHEN nb = 0 THEN 0
                       ELSE CAST('0x' || substr(hx, 2 * (i % nb) + 1, 2)
                            AS INT) END AS v
           FROM m, LATERAL (SELECT unnest(range(0, {MEDIA_W * MEDIA_H * 3}))
                            AS i))
    SELECT doc_id, CAST(channel AS INT) AS channel,
           CAST(sum(v) AS BIGINT) AS px_sum,
           CAST({MEDIA_W * MEDIA_H} AS BIGINT) AS n_px
    FROM px GROUP BY 1, 2
    """,
    "LOSSLESS (SOF3) JPEG decode (round-13: the lossless seam is "
    "closed): each document becomes a spec-valid T.81 Annex-H "
    "lossless JPEG whose RGB raster is the row's UTF-8 text bytes "
    f"cycled to {MEDIA_W}×{MEDIA_H}×3 — the same raster contract as "
    "media_decode / media_decode_png, so the same SQL oracle replays "
    "every pixel byte for byte, but here exactness is BY SPEC (no "
    "constant-block construction): the engine runs the full Annex-H "
    "path — per-sample prediction with every selector 1-7 exercised "
    "across the corpus (selector = 1 + doc_id mod 7), Huffman "
    "difference-category decode with EXTEND, mod-2^16 reconstruction, "
    "and row-aligned restart segments on every third document "
    "(llm/multimodal.py::_decode_jpeg_lossless; encoder twin "
    "encode_jpeg_lossless). Components are coded planes (lossless "
    "mandates no color transform), so decoded RGB == raster exactly. "
    "Same map-only plan shape as the other media queries: payloads "
    "never shuffle; 3 rows out per image. Arithmetic/differential "
    "JPEG stay the named seam.",
)
def q_media_decode_jpeg_lossless(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    return M.decode_channel_stats(
        M.attach_jpeg_lossless_media(docs, MEDIA_W, MEDIA_H)
    )


# The three compressed-shard ingest rows' oracle: each document's UTF-8
# byte length and byte-value sum, replayed from hex(encode(text)).
_SHARD_BYTES_ORACLE = """
WITH m AS (SELECT doc_id, hex(encode(text)) AS hx,
                  octet_length(encode(text)) AS nb
           FROM documents),
bysum AS (SELECT doc_id,
                 coalesce(sum(CAST('0x' || substr(hx, 2 * i + 1, 2)
                                   AS INT)), 0) AS bs
          FROM m, LATERAL (SELECT unnest(range(0, nb)) AS i)
          GROUP BY doc_id)
SELECT m.doc_id, CAST(m.nb AS BIGINT) AS n_bytes,
       CAST(coalesce(b.bs, 0) AS BIGINT) AS byte_sum
FROM m LEFT JOIN bysum b USING (doc_id)
"""


@register(
    "docs_gzip_ingest",
    _SHARD_BYTES_ORACLE,
    "REAL compressed-shard ingestion (round-11): each document "
    "becomes a gzip payload (RFC 1952 members — header variant "
    "cycles plain/FNAME/FEXTRA/FCOMMENT/FHCRC by doc_id%5, texts "
    ">64 bytes split into TWO catenated members, the wild .gz shard "
    "shape), decompressed by the full stdlib-zlib member parser "
    "(llm/shards.py::decode_gzip — header walk incl. all optional "
    "fields, raw-DEFLATE inflate, CRC32+ISIZE trailer verification, "
    "member concatenation), then exact byte accounting (length + "
    "byte-value sum) per shard. The oracle replays the raw text "
    "bytes from hex(encode(text)), so the match proves the whole "
    "decompression path byte for byte; interop with the stdlib gzip "
    "module is unit-tested both directions. This is the Common-Crawl "
    "WET/JSONL ingestion stage of a 100 TB corpus build: map-only, "
    "embarrassingly parallel, payloads never shuffle.",
)
def q_docs_gzip_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime0523_spark.llm import shards as SH

    docs = Catalog(spark, sf_dir).table("documents")
    return SH.gzip_ingest_stats(SH.attach_gzip_shards(docs))


@register(
    "docs_zstd_ingest",
    _SHARD_BYTES_ORACLE,
    "zstd (RFC 8878) shard ingestion: each document becomes a zstd "
    "payload — one frame for even doc_ids; for odd ones a skippable "
    "metadata frame, then the text's two halves as two catenated "
    "frames — decompressed by the zstd codec pyarrow bundles "
    "(llm/shards.py::decode_frames, which turns every decode failure "
    "and an empty or skippable-only payload into a ValueError), then "
    "exact byte accounting (length + byte-value sum) per shard. The "
    "oracle replays the raw text bytes from hex(encode(text)), so the "
    "match proves frame walk and decompression byte for byte. This is "
    "the ingestion stage for the .zst corpora (post-2023 Common-Crawl "
    "derivatives, HF datasets) a pretraining run reads: map-only, "
    "embarrassingly parallel, payloads never shuffle.",
)
def q_docs_zstd_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime0523_spark.llm import shards as SH

    docs = Catalog(spark, sf_dir).table("documents")
    return SH.zstd_ingest_stats(SH.attach_zstd_shards(docs))


@register(
    "docs_lz4_ingest",
    _SHARD_BYTES_ORACLE,
    "LZ4-frame shard ingestion, the fast-tier twin of "
    "docs_zstd_ingest: the same two shard shapes (one frame; skippable "
    "frame + two frames) built as LZ4 frames and decompressed by the "
    "LZ4 frame codec pyarrow bundles (llm/shards.py::decode_frames; "
    "the obsolete legacy frame raises a named NotImplementedError), "
    "then exact byte accounting per shard against the same oracle. "
    "Map-only, embarrassingly parallel, payloads never shuffle.",
)
def q_docs_lz4_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime0523_spark.llm import shards as SH

    docs = Catalog(spark, sf_dir).table("documents")
    return SH.lz4_ingest_stats(SH.attach_lz4_shards(docs))


@register(
    "docs_warc_extract",
    """
    WITH m AS (SELECT doc_id, hex(encode(text)) AS hx,
                      octet_length(encode(text)) AS nb
               FROM documents),
    bysum AS (SELECT doc_id,
                     coalesce(sum(CAST('0x' || substr(hx, 2 * i + 1, 2)
                                       AS INT)), 0) AS bs
              FROM m, LATERAL (SELECT unnest(range(0, nb)) AS i)
              GROUP BY doc_id)
    SELECT m.doc_id, CAST(3 AS INT) AS n_records,
           CAST(m.nb AS BIGINT) AS response_bytes,
           CAST(coalesce(b.bs, 0) AS BIGINT) AS byte_sum
    FROM m LEFT JOIN bysum b USING (doc_id)
    """,
    "REAL Common-Crawl-format ingestion (round-11): each document "
    "becomes a .warc.gz shard in the CC layout — three ISO 28500 "
    "WARC records (warcinfo, request, response), EACH its own gzip "
    "member, catenated — and the engine runs the real two-layer "
    "parse: multi-member gunzip (llm/shards.py::decode_gzip) then "
    "the WARC record walk (version line, named headers, "
    "Content-Length-delimited content blocks, record separators — "
    "parse_warc raises named errors on framing violations), "
    "extracting only the response records' payloads with exact byte "
    "accounting. The oracle replays the response payload from "
    "hex(encode(text)), proving decompression + record framing + "
    "type filtering byte for byte. This IS the first stage of a "
    "web-scale corpus build; map-only, one row per shard, payloads "
    "never shuffle. The same module's magic-dispatched decode_auto "
    "also decodes zstd and LZ4 frames (pyarrow's codecs) and bzip2/xz "
    "(stdlib).",
)
def q_docs_warc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime0523_spark.llm import shards as SH

    docs = Catalog(spark, sf_dir).table("documents")
    return SH.warc_extract_stats(SH.attach_warc_shards(docs))


@register(
    "stream_warc_ingest",
    """
    WITH m AS (SELECT doc_id, lang, hex(encode(text)) AS hx,
                      octet_length(encode(text)) AS nb
               FROM documents),
    bysum AS (SELECT doc_id,
                     coalesce(sum(CAST('0x' || substr(hx, 2 * i + 1, 2)
                                       AS INT)), 0) AS bs
              FROM m, LATERAL (SELECT unnest(range(0, nb)) AS i)
              GROUP BY doc_id)
    SELECT m.lang, CAST(count(*) AS BIGINT) AS n_shards,
           CAST(sum(m.nb) AS BIGINT) AS total_bytes,
           CAST(sum(coalesce(b.bs, 0)) AS BIGINT) AS byte_sum
    FROM m LEFT JOIN bysum b USING (doc_id)
    GROUP BY m.lang
    """,
    "STREAMING Common-Crawl ingestion accounting (round-11): the "
    ".warc.gz shards arrive as a stream, each micro-batch runs the "
    "real two-layer parse (multi-member gunzip + WARC record walk + "
    "response extraction — the same map-only Arrow kernel as "
    "docs_warc_extract, now under Structured Streaming), the "
    "extracted stats broadcast-join the static document dim for the "
    "language tag (stream-static join — no state, no watermark "
    "coupling), and a complete-mode running aggregate maintains the "
    "per-language corpus accounting every ingestion dashboard shows: "
    "shard count, total payload bytes, byte checksum. At 100 TB the "
    "per-batch work is shard-parallel decompression and the state is "
    "|languages| rows — the agg is additive, so partial aggregation "
    "does the heavy lifting map-side.",
)
def q_stream_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime0523_spark.llm import shards as SH
    from realtime0523_spark.streaming.runner import run_to_memory
    from realtime0523_spark.streaming.sources import stream_table

    stats = SH.warc_extract_stats(
        SH.attach_warc_shards(stream_table(spark, sf_dir, "documents"))
    )
    dim = Catalog(spark, sf_dir).table("documents").select("doc_id", "lang")
    enriched = stats.join(F.broadcast(dim), "doc_id", "left")
    agg = enriched.groupBy("lang").agg(
        F.count("*").alias("n_shards"),
        F.sum("response_bytes").alias("total_bytes"),
        F.sum("byte_sum").alias("byte_sum"),
    )
    return run_to_memory(agg, output_mode="complete")


THUMB_W, THUMB_H = 2, 2  # 4×4 → 2×2 nearest-neighbor thumbnail


def _resize_pos_sql() -> str:
    """Source byte position of resized-output index i: out pixel
    (y, x, c) with y = i div (out_w·3), x = (i mod out_w·3) div 3,
    c = i mod 3 maps to source pixel (floor(y·H/out_h),
    floor(x·W/out_w)) — all exact integer arithmetic, replayed here
    verbatim."""
    ow3 = THUMB_W * 3
    return (
        f"(((i // {ow3}) * {MEDIA_H} // {THUMB_H}) * {MEDIA_W} "
        f"+ ((i % {ow3}) // 3) * {MEDIA_W} // {THUMB_W}) * 3 + (i % 3)"
    )


@register(
    "media_resize_decode",
    f"""
    WITH m AS (SELECT doc_id, hex(encode(text)) AS hx,
                      octet_length(encode(text)) AS nb
               FROM documents),
    px AS (SELECT doc_id, i % 3 AS channel,
                  CASE WHEN nb = 0 THEN 0
                       ELSE CAST('0x' || substr(hx,
                                 2 * (({_resize_pos_sql()}) % nb) + 1, 2)
                            AS INT) END AS v
           FROM m, LATERAL (SELECT unnest(range(0,
                                {THUMB_W * THUMB_H * 3})) AS i))
    SELECT doc_id, CAST(channel AS INT) AS channel,
           CAST(sum(v) AS BIGINT) AS px_sum,
           CAST({THUMB_W * THUMB_H} AS BIGINT) AS n_px
    FROM px GROUP BY 1, 2
    """,
    "REAL resize (round-10): decode the P6 PPM, nearest-neighbor "
    f"downscale {MEDIA_W}×{MEDIA_H} → {THUMB_W}×{THUMB_H} (floor "
    "index map — pure integer arithmetic), per-channel exact integer "
    "pixel sums of the THUMBNAIL — the decode→resize→stats pass of an "
    "image pipeline, end-to-end real for decodable payloads (the "
    "separate resize_media plumbing keeps its marked fake for opaque "
    "ones). The oracle replays each output pixel's source byte "
    "position from hex(encode(text)), so the match proves the NN "
    "index map exactly. Map-only; 3 rows out per image "
    "(llm/multimodal.py::resize_decode_stats).",
)
def q_media_resize_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    return M.resize_decode_stats(
        M.attach_ppm_media(docs, MEDIA_W, MEDIA_H), THUMB_W, THUMB_H
    )


VID_W, VID_H, VID_FRAMES, VID_EVERY = 4, 4, 4, 2  # sample frames 0 and 2


def _video_frames_sql() -> str:
    wh = VID_W * VID_H
    fb = 3 * wh
    n_sampled = -(-VID_FRAMES // VID_EVERY)
    # global raster index of sampled-output index i: sample slot
    # s = i div fb → frame f = s·every; channel c = (i mod fb) div wh;
    # pixel j = i mod wh; g = f·fb + c·wh + j
    g = (
        f"((i // {fb}) * {VID_EVERY}) * {fb} "
        f"+ ((i % {fb}) // {wh}) * {wh} + (i % {wh})"
    )
    return f"""
    WITH m AS (SELECT doc_id, hex(encode(text)) AS hx,
                      octet_length(encode(text)) AS nb
               FROM documents),
    px AS (SELECT doc_id,
                  (i // {fb}) * {VID_EVERY} AS frame_idx,
                  (i % {fb}) // {wh} AS channel,
                  CASE WHEN nb = 0 THEN 0
                       ELSE CAST('0x' || substr(hx, 2 * (({g}) % nb) + 1, 2)
                            AS INT) END AS v
           FROM m, LATERAL (SELECT unnest(range(0, {n_sampled * fb})) AS i))
    SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
           CAST(channel AS INT) AS channel,
           CAST(sum(v) AS BIGINT) AS px_sum,
           CAST({wh} AS BIGINT) AS n_px
    FROM px GROUP BY 1, 2, 3
    """


@register(
    "media_video_frames",
    _video_frames_sql(),
    "REAL video decode + frame sampling (round-10): each document "
    f"becomes a valid uncompressed YUV4MPEG2 stream ({VID_FRAMES} "
    f"C444 frames of {VID_W}×{VID_H}, planes = text bytes cycled), "
    "decoded by the pure-NumPy Y4M parser (llm/multimodal.py::"
    f"decode_y4m), sampled every {VID_EVERY}nd frame (the keyframe "
    "stride), per-plane EXACT integer pixel sums — the brightness/"
    "scene-change screen of a video pipeline, end-to-end real for the "
    "standard uncompressed container (compressed codecs raise naming "
    "the ffmpeg/PyAV seam; sample_frames keeps its marked fake for "
    "opaque payloads). The oracle replays every sampled plane byte "
    "from hex(encode(text)). Map-only: payloads never shuffle; "
    "3·ceil(frames/stride) rows out per video.",
)
def q_media_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    return M.video_frame_stats(
        M.attach_y4m_media(docs, VID_W, VID_H, VID_FRAMES), every=VID_EVERY
    )


@register(
    "media_audio_energy",
    """
    WITH m AS (SELECT doc_id, hex(encode(text)) AS hx,
                      octet_length(encode(text)) AS nb
               FROM documents),
    s AS (SELECT doc_id, i AS sidx,
                 CAST('0x' || substr(hx, 4 * i + 3, 2) AS INT) * 256
                 + CAST('0x' || substr(hx, 4 * i + 1, 2) AS INT) AS raw
          FROM m, LATERAL (SELECT unnest(range(0, nb // 2)) AS i)),
    v AS (SELECT doc_id, sidx,
                 CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS val
          FROM s)
    SELECT doc_id, CAST(sidx // 256 AS INT) AS frame_idx,
           CAST(count(*) AS INT) AS n_samples,
           CAST(sum(CAST(val AS BIGINT) * val) AS BIGINT) AS energy
    FROM v GROUP BY 1, 2
    """,
    "Windowed audio energy — the VAD precursor every speech pipeline "
    "runs first: payload as 16-bit LE PCM, 256-sample frames, EXACT "
    "integer Σ sample² per frame (the PCM is the deterministic "
    "text-bytes stand-in like the rest of the media family; the real "
    "content is the plumbing — vectorized numpy frombuffer + "
    "segment-sum inside an Arrow batch, variable frame fan-out per "
    "row, integer-exact output). The oracle re-derives every sample "
    "from the hex expansion of the same bytes, so the match proves "
    "the kernel byte-for-byte. Map-only: payloads never shuffle "
    "(llm/multimodal.py::audio_frame_energy).",
)
def q_media_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    return M.audio_frame_energy(M.attach_media(docs))


@register(
    "media_audio_decode",
    """
    WITH m AS (SELECT doc_id, hex(encode(text)) AS hx,
                      octet_length(encode(text)) AS nb
               FROM documents),
    s AS (SELECT doc_id, i AS sidx,
                 CAST('0x' || substr(hx, 4 * i + 3, 2) AS INT) * 256
                 + CAST('0x' || substr(hx, 4 * i + 1, 2) AS INT) AS raw
          FROM m, LATERAL (SELECT unnest(range(0, nb // 2)) AS i)),
    v AS (SELECT doc_id, sidx,
                 CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS val
          FROM s)
    SELECT doc_id, CAST(sidx // 256 AS INT) AS frame_idx,
           CAST(count(*) AS INT) AS n_samples,
           CAST(sum(CAST(val AS BIGINT) * val) AS BIGINT) AS energy
    FROM v GROUP BY 1, 2
    """,
    "REAL audio container decode (round-11: the audio column now "
    "matches the image/video columns in end-to-end realism): each "
    "document's text bytes (int16-aligned) become a spec-valid "
    "RIFF/WAVE 16-bit PCM file, parsed by the pure-stdlib container "
    "decoder (llm/multimodal.py::decode_wav — chunk walk with word "
    "alignment, fmt validation), then the IDENTICAL 256-sample "
    "frame-energy kernel as media_audio_energy. The oracle re-derives "
    "every sample from hex(encode(text)), so the match proves the "
    "44-byte header framing + PCM extraction byte for byte. MP3/AAC "
    "raise naming the ffmpeg seam. Map-only: payloads never shuffle.",
)
def q_media_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    return M.wav_frame_energy(M.attach_wav_media(docs))


# ----------------------------------------------------------------------
# Training-data pipeline: splits, sampling, contamination, PII,
# packing, mixture stats (llm/pipeline.py)
# ----------------------------------------------------------------------

from realtime0523_spark.llm import pipeline as P  # noqa: E402

SPLIT_SALT = "split-v1"
SAMPLE_SALT = "sample-v1"
PACK_SALT = "pack-v1"
PACK_BUDGET = 2048
SAMPLE_FRACTIONS = {"src0": 1.0, "src1": 0.5, "src2": 0.25}
SAMPLE_DEFAULT = 0.1
EVAL_MOD = 20  # doc_id % 20 == 0 stands in for "the eval benchmark"


def _bucket_sql(salt: str) -> str:
    return (
        _MD5_INT32_SQL.format(col=f"CAST(doc_id AS VARCHAR) || ':{salt}'")
        + f" % {P.BUCKETS}"
    )


@register(
    "docs_train_split",
    f"""
    SELECT doc_id,
           CASE WHEN {_bucket_sql(SPLIT_SALT)} < 9000 THEN 'train'
                WHEN {_bucket_sql(SPLIT_SALT)} < 9500 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
    "Deterministic train/val/test split (90/5/5) by md5(id:salt) hash "
    "bucket — reproducible, repartition-stable, engine-portable; a pure "
    "per-row map (no shuffle, no rand()).",
)
def q_docs_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    return P.train_split(
        docs, {"train": 0.9, "val": 0.05, "test": 0.05}, salt=SPLIT_SALT
    ).select("doc_id", "split")


@register(
    "docs_stratified_sample",
    f"""
    SELECT doc_id, source FROM documents
    WHERE {_bucket_sql(SAMPLE_SALT)} <
          CASE source WHEN 'src0' THEN 10000 WHEN 'src1' THEN 5000
                      WHEN 'src2' THEN 2500 ELSE 1000 END
    """,
    "Stratified deterministic sampling (domain re-weighting): keep a "
    "per-source fraction by hash bucket — the mixture-downsampling "
    "step of a training pipeline, as a pushdown-friendly per-row "
    "filter.",
)
def q_docs_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    return P.stratified_sample(
        docs, SAMPLE_FRACTIONS, default_fraction=SAMPLE_DEFAULT, salt=SAMPLE_SALT
    ).select("doc_id", "source")


@register(
    "docs_contamination",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    sh AS (SELECT DISTINCT doc_id, sh FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
                                     i -> array_to_string(t[i:i+2], ' '))) AS sh
        FROM toks)),
    ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id % {EVAL_MOD} = 0)
    SELECT doc_id, n_shingles, n_contaminated,
           {_r9('CAST(n_contaminated AS DOUBLE) / CAST(n_shingles AS DOUBLE)')}
             AS contamination_ratio
    FROM (
      SELECT s.doc_id, count(*) AS n_shingles,
             CAST(count(*) FILTER (ev.sh IS NOT NULL) AS BIGINT) AS n_contaminated
      FROM sh s LEFT JOIN ev ON s.sh = ev.sh
      WHERE s.doc_id % {EVAL_MOD} <> 0
      GROUP BY s.doc_id)
    WHERE n_contaminated > 0
    """,
    "Eval-set contamination check (GPT-3/PaLM-style n-gram overlap "
    "decontamination): per training doc, the count and share of its "
    "distinct 3-gram shingles that appear anywhere in the (broadcast) "
    "eval set. One corpus scan + one partial-agg'd groupBy.",
)
def q_docs_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    train = docs.filter(F.col("doc_id") % EVAL_MOD != 0)
    ev = docs.filter(F.col("doc_id") % EVAL_MOD == 0)
    out = P.contamination_check(train, ev)
    return out.select(
        "doc_id",
        "n_shingles",
        "n_contaminated",
        round9(F.col("contamination_ratio")).alias("contamination_ratio"),
    )


@register(
    "docs_bloom_contamination",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    sh AS (SELECT DISTINCT doc_id, sh FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
                                     i -> array_to_string(t[i:i+2], ' '))) AS sh
        FROM toks)),
    evbits AS (
      SELECT DISTINCT
             {_MD5_INT32_SQL.format(col="'bloom' || CAST(i AS VARCHAR) || ':' || sh")}
               % {P.BLOOM_BITS} AS bit
      FROM (SELECT DISTINCT sh FROM sh WHERE doc_id % {EVAL_MOD} = 0),
           range(0, {P.BLOOM_HASHES}) r(i)),
    tprobe AS (
      SELECT s.doc_id, s.sh,
             {_MD5_INT32_SQL.format(col="'bloom' || CAST(i AS VARCHAR) || ':' || s.sh")}
               % {P.BLOOM_BITS} AS bit
      FROM sh s, range(0, {P.BLOOM_HASHES}) r(i)
      WHERE s.doc_id % {EVAL_MOD} <> 0),
    pershingle AS (
      SELECT doc_id, sh,
             CAST(count(*) FILTER (b.bit IS NOT NULL) = {P.BLOOM_HASHES} AS INT)
               AS flag
      FROM tprobe t LEFT JOIN evbits b ON t.bit = b.bit
      GROUP BY doc_id, sh)
    SELECT doc_id, n_shingles, n_flagged,
           {_r9('CAST(n_flagged AS DOUBLE) / CAST(n_shingles AS DOUBLE)')}
             AS flag_ratio
    FROM (SELECT doc_id, count(*) AS n_shingles,
                 CAST(sum(flag) AS BIGINT) AS n_flagged
          FROM pershingle GROUP BY doc_id)
    WHERE n_flagged > 0
    """,
    "Fixed-memory decontamination screen: docs_contamination with the "
    f"eval shingle set replaced by its {P.BLOOM_BITS}-bit Bloom filter "
    f"({P.BLOOM_HASHES} salted-md5 hashes — exactly SQL-replayable). "
    "No false negatives (every truly contaminated shingle flags), "
    "false positives by design and deterministic. THE 100 TB point: "
    "the plain check broadcasts the whole eval shingle set; the bit "
    "table is ≤ bits rows no matter how large the eval suite grows.",
)
def q_docs_bloom_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    train = docs.filter(F.col("doc_id") % EVAL_MOD != 0)
    ev = docs.filter(F.col("doc_id") % EVAL_MOD == 0)
    out = P.bloom_contamination(train, ev)
    return out.select(
        "doc_id",
        "n_shingles",
        "n_flagged",
        round9(F.col("flag_ratio")).alias("flag_ratio"),
    )


@register(
    "stream_bloom_contamination",
    # same result as the batch screen: per-doc independent, each doc
    # arrives exactly once → union over micro-batches = batch output
    REGISTRY["docs_bloom_contamination"].oracle,
    "Decontamination AT INGEST: the document stream is screened "
    "against the static eval-set Bloom filter inside foreachBatch — "
    "the bit table is built once and reused every micro-batch "
    "(broadcast-sized regardless of eval-suite size), flagged batches "
    "land in the idempotent-by-batchId parquet sink, and the drained "
    "union equals the batch screen (same oracle). The real front-door "
    "shape: leaking documents are caught before they enter the "
    "corpus, with no stream-side state.",
)
def q_stream_bloom_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from realtime0523_spark.streaming.cells import drain_partials
    from realtime0523_spark.streaming.sinks import detach_and_cleanup
    from realtime0523_spark.streaming.sources import stream_table

    docs = Catalog(spark, sf_dir).table("documents")
    ev = docs.filter(F.col("doc_id") % EVAL_MOD == 0)
    # the filter is built ONCE and persisted; every micro-batch probes
    # the cached ≤bits-row table instead of re-deriving eval shingles
    bset = P.bloom_bits(ev).persist()
    stream = stream_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % EVAL_MOD != 0
    )
    out_dir = tempfile.mkdtemp(prefix="stream_bloom_")

    def screen(batch_df: DataFrame) -> DataFrame:
        return P.bloom_contamination(batch_df, ev, bits_df=bset).select(
            "doc_id",
            "n_shingles",
            "n_flagged",
            round9(F.col("flag_ratio")).alias("flag_ratio"),
        )

    try:
        return detach_and_cleanup(drain_partials(stream, screen, out_dir), out_dir)
    finally:
        bset.unpersist()


@register(
    "docs_pii_redact",
    f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(t2, '{P.EMAIL_RE}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(after_email, '{P.PHONE_RE}')) AS INT) AS n_phones,
           CAST(len(regexp_extract_all(after_phone, '{P.IPV4_RE}')) AS INT) AS n_ips,
           regexp_replace(after_phone, '{P.IPV4_RE}', '<IP>', 'g') AS text
    FROM (SELECT doc_id, t2,
                 regexp_replace(t2, '{P.EMAIL_RE}', '<EMAIL>', 'g') AS after_email,
                 regexp_replace(regexp_replace(t2, '{P.EMAIL_RE}', '<EMAIL>', 'g'),
                                '{P.PHONE_RE}', '<PHONE>', 'g') AS after_phone
          FROM (SELECT doc_id,
                       text || ' contact user' || CAST(doc_id AS VARCHAR)
                            || '@example.com or +1 555-'
                            || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                            || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                            || '.' || CAST(doc_id % 100 AS VARCHAR) AS t2
                FROM documents))
    """,
    "PII redaction (emails, phone numbers, IPv4 addresses masked, "
    "per-doc counts) as a per-row JVM regex map. Counts run on the "
    "progressively redacted text (matching the sequential masking, so "
    "count == replacements performed — a dotted quad inside an email "
    "is the email's, not an IP). The corpus fixture contains no PII, "
    "so the query plants one deterministic email+phone+IP per doc "
    "(same expression in both engines) and the hash compare verifies "
    "the full redacted text byte-for-byte.",
)
def q_docs_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit("."),
            (F.col("doc_id") % 100).cast("string"),
        ).alias("text"),
    )
    return P.pii_redact(planted).select(
        "doc_id", "n_emails", "n_phones", "n_ips", "text"
    )


@register(
    "docs_pack_sequences",
    f"""
    SELECT doc_id, source AS shard, CAST(len(t) AS INT) AS n_tokens,
           CAST(floor((cum - len(t)) / {PACK_BUDGET}) AS BIGINT) AS bin_id
    FROM (
      SELECT doc_id, source, t,
             sum(len(t)) OVER (PARTITION BY source
                               ORDER BY {_bucket_sql(PACK_SALT)}, doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
      FROM (SELECT doc_id, source, {_TOKS} AS t FROM documents))
    """,
    "Concat-and-chunk sequence packing: per shard (source), docs are "
    "laid end-to-end in deterministic hash order and assigned the "
    f"{PACK_BUDGET}-token context window their first token falls in — "
    "the GPT-style pretraining packing strategy as an assignment. One "
    "window per shard; no global sort.",
)
def q_docs_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    return P.pack_sequences(docs, budget=PACK_BUDGET, salt=PACK_SALT)


@register(
    "docs_pack_exact",
    f"""
    WITH base AS (
      SELECT doc_id, source AS shard, len(t) AS n_tokens,
             coalesce(sum(len(t)) OVER (
               PARTITION BY source
               ORDER BY {_bucket_sql(PACK_SALT)}, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      FROM (SELECT doc_id, source, {_TOKS} AS t FROM documents)
      QUALIFY n_tokens > 0),
    pieces AS (
      SELECT *, unnest(range(
               CAST(floor(off / ({PACK_BUDGET} * 1.0)) AS BIGINT),
               CAST(floor((off + n_tokens - 1) / ({PACK_BUDGET} * 1.0)) AS BIGINT) + 1))
             AS seq_id
      FROM base)
    SELECT shard, CAST(seq_id AS BIGINT) AS seq_id, doc_id,
           CAST(greatest(0, seq_id * {PACK_BUDGET} - off) AS BIGINT) AS tok_start,
           CAST(least(n_tokens, (seq_id + 1) * {PACK_BUDGET} - off) AS BIGINT) AS tok_end,
           CAST(greatest(0, off - seq_id * {PACK_BUDGET}) AS BIGINT) AS seq_pos
    FROM pieces
    """,
    "Budget-EXACT sequence packing with carry-over (llm.pipeline."
    "pack_sequences_exact): the shard's concatenated token stream cut "
    f"into {PACK_BUDGET}-token sequences; a straddling doc is split "
    "into one piece per overlapped sequence (doc-relative slice + "
    "position inside the sequence). Pieces tile [0, budget) exactly — "
    "the step that turns pack_sequences' bin assignment into "
    "training-ready fixed-length batches. One window per shard + a "
    "bounded explode; no global sort, no Python.",
)
def q_docs_pack_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    return P.pack_sequences_exact(docs, budget=PACK_BUDGET, salt=PACK_SALT)


# NB: 0.05 * (sum/len), never (0.05*sum)/len — the parenthesization
# must match Spark's quality_features (avg first, then scale) because
# the filter below compares RAW doubles; the two associations differ
# by 1 ulp for ~1/3 of inputs.
_QUALITY_SCORE_SQL = f"""
      SELECT doc_id, source,
             greatest(0.0, least(1.0,
               0.05 * (CAST(list_aggregate(list_transform(t, x -> length(x)), 'sum') AS DOUBLE) / len(t))
               + CAST(len(regexp_extract_all(text, '{X.LANG_PATTERNS['en']}')) AS DOUBLE) / len(t)
               - CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) / length(text)))
               AS quality_score
      FROM (SELECT doc_id, source, text, {_TOKS} AS t FROM documents)
"""


@register(
    "docs_quality_filter",
    f"""
    SELECT doc_id, source, {_r9('quality_score')} AS quality_score,
           {_r9('source_median')} AS source_median
    FROM (
      SELECT doc_id, source, quality_score,
             quantile_cont(quality_score, 0.5) OVER (PARTITION BY source)
               AS source_median
      FROM ({_QUALITY_SCORE_SQL}))
    WHERE {_r9('quality_score')} >= {_r9('source_median')}
    """,
    "Quality pruning relative to the DOMAIN, not a global constant: "
    "keep documents at or above their source's median quality score "
    "(exact linear-interpolated percentile as a window — the oracle "
    "twin of llm.pipeline.domain_quality_filter; its approximate=True "
    "flag is the 100 TB plan, checked by docs_quality_approx_contract). "
    "Membership compares the 9dp-ROUNDED score and median — the same "
    "quantization the outputs carry — so a boundary doc cannot flip on "
    "a 1-ulp interpolation-association difference between engines.",
)
def q_docs_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime0523_spark.llm import pipeline as P2

    docs = Catalog(spark, sf_dir).table("documents")
    return P2.domain_quality_filter(docs)


QUALITY_ACCURACY = 10_000


@register(
    "docs_quality_approx_contract",
    f"""
    WITH s AS (SELECT source, {_r9('quality_score')} AS q
               FROM ({_QUALITY_SCORE_SQL})),
    per AS (SELECT source, count(*) AS n_docs, list_sort(list(q)) AS qs
            FROM s GROUP BY source)
    SELECT source, n_docs,
           qs[CAST(greatest(0.0,
                floor((n_docs - 1) / 2.0)
                - ceil(n_docs / {float(QUALITY_ACCURACY)})) AS INT) + 1]
             AS median_lo,
           qs[CAST(least(CAST(n_docs AS DOUBLE) - 1,
                ceil((n_docs - 1) / 2.0)
                + ceil(n_docs / {float(QUALITY_ACCURACY)})) AS INT) + 1]
             AS median_hi,
           true AS within_contract
    FROM per
    """,
    "Accuracy contract for the 100 TB quality-filter plan "
    "(domain_quality_filter(approximate=True)): approx_percentile's "
    f"GK sketch guarantees rank error <= n/accuracy (= n/{QUALITY_ACCURACY}); "
    "per domain, the sketch median must land between the exact order "
    "statistics at the median rank widened by that slack. The oracle "
    "computes the exact bounds and asserts `true` — a sketch landing "
    "outside its guarantee flips within_contract and fails the hash "
    "(same checked-contract pattern as dau_approx). The exact-order-"
    "statistic side is |domains|-sized meta-work, like emb_ann_recall.",
)
def q_docs_quality_approx_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    feats = X.quality_features("text")
    scored = docs.select("source", round9(feats["quality_score"]).alias("q"))
    per = scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr(
            f"approx_percentile(q, 0.5, {QUALITY_ACCURACY})"
        ).alias("approx_median"),
        F.sort_array(F.collect_list("q")).alias("qs"),
    )
    n = F.col("n_docs").cast("double")
    slack = F.ceil(n / F.lit(float(QUALITY_ACCURACY)))
    lo_i = F.greatest(F.lit(0.0), F.floor((n - 1) / 2) - slack).cast("int")
    hi_i = F.least(n - 1, F.ceil((n - 1) / 2) + slack).cast("int")
    lo = F.element_at(F.col("qs"), lo_i + F.lit(1))
    hi = F.element_at(F.col("qs"), hi_i + F.lit(1))
    return per.select(
        "source",
        "n_docs",
        lo.alias("median_lo"),
        hi.alias("median_hi"),
        ((F.col("approx_median") >= lo) & (F.col("approx_median") <= hi)).alias(
            "within_contract"
        ),
    )


WINNOW_K = 4       # tokens per gram
WINNOW_W = 4       # grams per window
WINNOW_MIN_SHARED = 2
WINNOW_MAX_DF = 50


@register(
    "docs_winnow_pairs",
    f"""
    WITH wtoks AS (SELECT doc_id, {_TOKS} AS t FROM documents
                   WHERE len({_TOKS}) >= {WINNOW_K + WINNOW_W - 1}),
    wfp AS (
      SELECT DISTINCT doc_id, fp FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t) - {WINNOW_K + WINNOW_W - 2} + 1),
                 j -> list_aggregate(
                        list_transform(range(j, j + {WINNOW_W}),
                          i -> {_MD5_INT32_SQL.format(col=f"array_to_string(t[i:i+{WINNOW_K - 1}], ' ')")}),
                        'min'))) AS fp
        FROM wtoks)),
    wrare AS (SELECT fp FROM (SELECT fp, count(*) AS df FROM wfp GROUP BY fp)
              WHERE df <= {WINNOW_MAX_DF})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
    FROM (SELECT * FROM wfp WHERE fp IN (SELECT fp FROM wrare)) a
    JOIN (SELECT * FROM wfp WHERE fp IN (SELECT fp FROM wrare)) b
      ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING count(*) >= {WINNOW_MIN_SHARED}
    """,
    "Winnowing near-dup pairs (MOSS, Schleimer et al. SIGMOD'03): "
    f"min-hash of each {WINNOW_W}-gram window over {WINNOW_K}-token "
    "gram hashes guarantees any shared substring of >= "
    f"{WINNOW_K + WINNOW_W - 1} tokens yields a shared fingerprint — "
    "SUBSTRING-level overlap, complementing MinHash's set-level "
    "Jaccard. Fingerprints in more docs than the stop-print cap are "
    "dropped before the equi-join (bounded per-key fan-out; the "
    "LSH-bucket-width analog).",
)
def q_docs_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    return D.winnow_pairs(
        docs,
        min_shared=WINNOW_MIN_SHARED,
        max_df=WINNOW_MAX_DF,
        k=WINNOW_K,
        w=WINNOW_W,
    )


# shared removed-position CTEs for the ExactSubstr family
# (docs_span_dedup edits the text; docs_span_stats reports the
# merged-span histogram over the same positions)
_SPAN_REM_CTES = f"""sdtoks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    sdgrams AS (
      SELECT doc_id, CAST(i AS INT) AS pos,
             md5(array_to_string(t[i : i + {D.SPAN_K} - 1], ' ')) AS g
      FROM (SELECT doc_id, t, len(t) AS n FROM sdtoks WHERE len(t) >= {D.SPAN_K}),
           LATERAL (SELECT unnest(range(1, n - {D.SPAN_K} + 2)) AS i)),
    sdocc AS (
      SELECT doc_id, pos,
             row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn,
             count(*) OVER (PARTITION BY g) AS occ
      FROM sdgrams),
    sdrem AS (
      SELECT DISTINCT doc_id, pos + CAST(d AS INT) AS tp
      FROM (SELECT doc_id, pos FROM sdocc WHERE occ >= 2 AND rn > 1),
           LATERAL (SELECT unnest(range(0, {D.SPAN_K})) AS d))"""


@register(
    "docs_span_dedup",
    f"""
    WITH {_SPAN_REM_CTES},
    sdtokrows AS (
      SELECT doc_id, CAST(i AS INT) AS tp, t[i] AS tok
      FROM (SELECT doc_id, t, len(t) AS n FROM sdtoks),
           LATERAL (SELECT unnest(range(1, n + 1)) AS i)),
    sdclean AS (
      SELECT tr.doc_id, CAST(count(*) AS INT) AS n_kept,
             array_to_string(list(tr.tok ORDER BY tr.tp), ' ') AS clean_text
      FROM sdtokrows tr
      ANTI JOIN sdrem r ON r.doc_id = tr.doc_id AND r.tp = tr.tp
      GROUP BY tr.doc_id)
    SELECT d.doc_id,
           coalesce(c.clean_text, '') AS clean_text,
           CAST(len(d.t) AS INT) AS n_tokens,
           CAST(len(d.t) AS INT) - coalesce(c.n_kept, 0) AS n_removed
    FROM sdtoks d LEFT JOIN sdclean c USING (doc_id)
    """,
    f"Duplicated-span excision: every {D.SPAN_K}-token gram occurring "
    "more than once in the corpus is removed except its first "
    "occurrence — the distributed, gram-exact form of ExactSubstr "
    "dedup (Lee, Ippolito et al., ACL 2022; a corpus-wide suffix "
    "array does not distribute, fixed-k gram hashing does and catches "
    f"every duplicated substring of length ≥ {D.SPAN_K}). EDITS the "
    "text, complementing winnow_pairs which only detects overlap: "
    "one token-sized shuffle to find duplicate grams, a compact "
    "removed-position set back per doc, per-row array excision.",
)
def q_docs_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    return D.span_dedup(docs)


@register(
    "docs_span_stats",
    f"""
    WITH {_SPAN_REM_CTES},
    sspans AS (
      SELECT doc_id, grp, CAST(count(*) AS INT) AS span_len
      FROM (SELECT doc_id, tp,
                   tp - row_number() OVER (PARTITION BY doc_id ORDER BY tp)
                     AS grp
            FROM sdrem)
      GROUP BY doc_id, grp)
    SELECT span_len, count(*) AS n_spans FROM sspans GROUP BY span_len
    """,
    "Merged-span accounting for the ExactSubstr excision (the report "
    "Lee et al. ACL 2022 publish alongside the edit): adjacent "
    "removed token positions merge into MAXIMAL spans — overlapping "
    "duplicate grams count as one long span, not k-sized fragments — "
    "and the output is the corpus span-length histogram. Spark merges "
    "with a per-row fold over each doc's sorted removed-position set "
    "(zero extra shuffle); the oracle uses the pos − row_number() "
    "run-grouping identity.",
)
def q_docs_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    return D.span_stats(docs)


LM_ADD_K = 0.5


@register(
    "docs_lm_score",
    f"""
    WITH lmtoks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    lmpairs AS (
      SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
      FROM lmtoks, LATERAL (SELECT unnest(range(1, len(t))) AS i)
      WHERE len(t) > 1),
    lmc2 AS (SELECT w1, w2, count(*) AS n2 FROM lmpairs GROUP BY w1, w2),
    lmc1 AS (SELECT w1, count(*) AS n1 FROM lmpairs GROUP BY w1),
    lmv AS (SELECT count(DISTINCT tok) AS v
            FROM (SELECT unnest(t) AS tok FROM lmtoks))
    SELECT doc_id, count(*) AS n_bigrams,
           {_r9(f'avg(ln((n2 + {LM_ADD_K}) / (n1 + {LM_ADD_K} * v)))')} AS avg_logp
    FROM lmpairs JOIN lmc2 USING (w1, w2) JOIN lmc1 USING (w1) CROSS JOIN lmv
    GROUP BY doc_id
    """,
    "Corpus-trained add-k bigram LM score per doc (CCNet-style "
    "perplexity quality filter, the corpus as its own LM): mean "
    "log P(w2|w1) over each doc's adjacent pairs, counts over the "
    "whole corpus. Two partial-agg'd count tables (vocabulary-sized) "
    "joined back against the streaming pair explode; V is one scalar.",
)
def q_docs_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    return P.lm_bigram_logprob(docs, k=LM_ADD_K)


CHUNK_SIZE = 64
CHUNK_STRIDE = 48


@register(
    "docs_chunk",
    f"""
    SELECT doc_id, CAST(s / {CHUNK_STRIDE} AS INT) AS chunk_id,
           CAST(least({CHUNK_SIZE}, n - s) AS INT) AS chunk_n_tokens,
           array_to_string(t[s + 1 : s + {CHUNK_SIZE}], ' ') AS chunk_text
    FROM (SELECT doc_id, t, len(t) AS n
          FROM (SELECT doc_id, {_TOKS} AS t FROM documents)
          WHERE len(t) > 0),
         LATERAL (SELECT unnest(range(0, n, {CHUNK_STRIDE})) AS s)
    """,
    f"Token-window chunking ({CHUNK_SIZE} tokens, stride "
    f"{CHUNK_STRIDE}, {CHUNK_SIZE - CHUNK_STRIDE}-token overlap) — "
    "long documents into fixed-size training/index units; a pure "
    "per-row explode+slice map, no shuffle.",
)
def q_docs_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    return X.chunk_tokens(docs, CHUNK_SIZE, CHUNK_STRIDE)


@register(
    "stream_docs_chunk",
    f"""
    SELECT doc_id, CAST(s / {CHUNK_STRIDE} AS INT) AS chunk_id,
           CAST(least({CHUNK_SIZE}, n - s) AS INT) AS chunk_n_tokens,
           array_to_string(t[s + 1 : s + {CHUNK_SIZE}], ' ') AS chunk_text
    FROM (SELECT doc_id, t, len(t) AS n
          FROM (SELECT doc_id, {_TOKS} AS t FROM documents)
          WHERE len(t) > 0),
         LATERAL (SELECT unnest(range(0, n, {CHUNK_STRIDE})) AS s)
    """,
    "Chunking on ingest: the same token-window chunker running on the "
    "document STREAM — stateless per-row explode+slice, so it rides "
    "any micro-batch trigger with no state store and no watermark; "
    "drained output equals the batch chunker's (same oracle).",
)
def q_stream_docs_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime0523_spark.streaming.runner import run_to_memory
    from realtime0523_spark.streaming.sources import stream_table

    return run_to_memory(
        X.chunk_tokens(
            stream_table(spark, sf_dir, "documents"), CHUNK_SIZE, CHUNK_STRIDE
        ),
        no_data_batches=False,  # stateless map: nothing to evict
    )


TOKEN_BUDGETS = {"src0": 1000, "src1": 300}
TOKEN_BUDGET_DEFAULT = 600
BUDGET_SALT = "budget-v1"

_BUDGET_CASE_SQL = (
    "CASE "
    + " ".join(
        f"WHEN source = '{d}' THEN {b}" for d, b in sorted(TOKEN_BUDGETS.items())
    )
    + f" ELSE {TOKEN_BUDGET_DEFAULT} END"
)


@register(
    "docs_token_budget_sample",
    f"""
    SELECT doc_id, source, CAST(n_tokens AS INT) AS n_tokens,
           CAST(cum_excl + n_tokens AS BIGINT) AS cum_tokens
    FROM (
      SELECT doc_id, source, len(t) AS n_tokens,
             coalesce(sum(len(t)) OVER (
               PARTITION BY source
               ORDER BY {_bucket_sql(BUDGET_SALT)}, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_excl
      FROM (SELECT doc_id, source, {_TOKS} AS t FROM documents))
    WHERE cum_excl < {_BUDGET_CASE_SQL}
    """,
    "Per-domain token-budget sampling (mixture building): docs in "
    "deterministic hash order per domain, kept iff the domain budget "
    "was not exhausted when the doc started — >=1 doc per domain "
    "guaranteed, membership a pure function of (corpus, budgets, "
    "salt). One window per domain, no global sort, no rand().",
)
def q_docs_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    return P.token_budget_sample(
        docs, TOKEN_BUDGETS, TOKEN_BUDGET_DEFAULT, salt=BUDGET_SALT
    )


@register(
    "docs_domain_mix",
    f"""
    SELECT source, lang, n_docs, n_tokens,
           {_r9('CAST(n_tokens AS DOUBLE) / CAST(sum(n_tokens) OVER () AS DOUBLE)')}
             AS token_share
    FROM (SELECT source, lang, count(*) AS n_docs,
                 CAST(sum(len({_TOKS})) AS BIGINT) AS n_tokens
          FROM documents GROUP BY source, lang)
    """,
    "Domain-mixture statistics: per (source, lang) doc/token counts "
    "and each domain's share of corpus tokens — the input to mixture-"
    "weight tuning. Map-side partial agg to |domains| rows; the share "
    "denominator windows over the aggregate, not the corpus.",
)
def q_docs_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    out = P.domain_mix(docs)
    return out.select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        round9(F.col("token_share")).alias("token_share"),
    )


# ----------------------------------------------------------------------
# Dedup clustering: connected components + representative selection
# (llm/clusters.py)
# ----------------------------------------------------------------------

from realtime0523_spark.llm import clusters as C  # noqa: E402

# quality_score exactly as docs_quality computes it (llm.text
# quality_features) — the keep-best ranking key.
_QUAL_CTE = f"""
    qual AS (
      SELECT doc_id,
             greatest(0.0, least(1.0,
               0.05 * (CAST(list_aggregate(list_transform(t, x -> length(x)), 'sum') AS DOUBLE) / len(t))
               + (CAST(len(regexp_extract_all(text, '{X.LANG_PATTERNS["en"]}')) AS DOUBLE) / len(t))
               - (CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) / length(text))
             )) AS quality_score
      FROM (SELECT doc_id, text, {_TOKS} AS t FROM documents))
"""

# transitive closure of the MinHash-LSH pair graph; min reachable id
# per node == the label-propagation fixpoint the Spark side iterates to
_COMPONENTS_CTE = f"""
    pairs AS ({{pairs_sql}}),
    edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
              UNION SELECT doc_b AS u, doc_a AS v FROM pairs),
    reach AS (SELECT u, u AS label FROM (SELECT DISTINCT u FROM edges)
              UNION
              SELECT e.u, r.label FROM edges e JOIN reach r ON e.v = r.u),
    comp AS (SELECT u AS doc_id, min(label) AS cluster_id FROM reach GROUP BY u)
"""


def _components_sql(select: str, extra_ctes: str = "") -> str:
    return (
        "WITH RECURSIVE "
        + _COMPONENTS_CTE.format(pairs_sql=_minhash_sql())
        + (("," + extra_ctes) if extra_ctes else "")
        + select
    )


@register(
    "docs_dedup_clusters",
    _components_sql("SELECT doc_id, cluster_id FROM comp"),
    "Near-dup clustering: connected components over the MinHash-LSH "
    "pair graph by iterative min-label propagation (join + partial-agg "
    "min per round, lineage truncated per round, sum(label) fixpoint "
    "detection; diameter-bounded rounds — near-dup graphs are "
    "near-cliques). The oracle is DuckDB's recursive transitive "
    "closure. Singleton docs are omitted by both by definition.",
)
def q_docs_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    pairs = D.minhash_lsh_pairs(docs, MINHASH_EST_THRESHOLD)
    return C.connected_components(pairs)


@register(
    "docs_dedup_keep_best",
    _components_sql(
        """
    SELECT cluster_id, doc_id AS kept_doc_id, n_members FROM (
      SELECT c.cluster_id, c.doc_id,
             count(*) OVER (PARTITION BY c.cluster_id) AS n_members,
             row_number() OVER (PARTITION BY c.cluster_id
                                ORDER BY q.quality_score DESC, c.doc_id) AS rk
      FROM comp c JOIN qual q USING (doc_id))
    WHERE rk = 1
    """,
        extra_ctes=_QUAL_CTE,
    ),
    "Cluster-representative selection: per near-dup cluster keep the "
    "highest-quality member (quality_score from docs_quality; ties to "
    "the smallest doc_id) plus the member count — one broadcast join "
    "and one struct-max groupBy, no window shuffle.",
)
def q_docs_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    pairs = D.minhash_lsh_pairs(docs, MINHASH_EST_THRESHOLD)
    comp = C.connected_components(pairs)
    scored = docs.select(
        "doc_id", X.quality_features("text")["quality_score"].alias("quality_score")
    )
    return C.keep_best(scored, comp)


@register(
    "docs_dedup_filter",
    _components_sql(
        """
    SELECT doc_id FROM documents
    WHERE doc_id NOT IN (
      SELECT c.doc_id FROM comp c JOIN (
        SELECT cluster_id, doc_id AS kept FROM (
          SELECT c2.cluster_id, c2.doc_id,
                 row_number() OVER (PARTITION BY c2.cluster_id
                                    ORDER BY q.quality_score DESC, c2.doc_id) AS rk
          FROM comp c2 JOIN qual q USING (doc_id))
        WHERE rk = 1) k
      ON c.cluster_id = k.cluster_id
      WHERE c.doc_id <> k.kept)
    """,
        extra_ctes=_QUAL_CTE,
    ),
    "The dedup end-to-end: corpus minus non-representative cluster "
    "members (singletons pass through). Anti-join against the "
    "duplicate-density-sized drop set — the corpus is never shuffled.",
)
def q_docs_dedup_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    pairs = D.minhash_lsh_pairs(docs, MINHASH_EST_THRESHOLD)
    comp = C.connected_components(pairs)
    scored = docs.select(
        "doc_id", X.quality_features("text")["quality_score"].alias("quality_score")
    )
    return C.dedup_filter(scored, comp).select("doc_id")


# ----------------------------------------------------------------------
# Repetition filters (Gopher table-A1 screens; llm/text.py)
# ----------------------------------------------------------------------


def _ngram_cte(n: int, name: str) -> str:
    # i in [1, len-(n-1)]; t[i:i+(n-1)] is DuckDB's inclusive slice of n
    # elements. greatest(...) guards < n-token docs to an empty range.
    upper = f"greatest(len(t) - {n - 2}, 1)" if n >= 2 else "len(t) + 1"
    return f"""
    {name} AS (
      SELECT doc_id, g, count(*) AS c FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, {upper}),
                                     i -> array_to_string(t[i:i+{n - 1}], ' '))) AS g
        FROM toks)
      GROUP BY doc_id, g)
"""


@register(
    "docs_repetition",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    {_ngram_cte(2, 'g2')},
    {_ngram_cte(3, 'g3')},
    top2 AS (SELECT doc_id,
                    max(CASE WHEN c > 1 THEN c * length(g) ELSE 0 END) AS top2_chars
             FROM g2 GROUP BY doc_id),
    dup3 AS (SELECT doc_id,
                    CAST(sum(CASE WHEN c > 1 THEN c * length(g) ELSE 0 END) AS BIGINT)
                      AS dup3_chars
             FROM g3 GROUP BY doc_id),
    lines AS (SELECT doc_id, string_split(text, chr(10)) AS ls, length(text) AS n_chars
              FROM documents)
    SELECT doc_id,
           CAST(len(ls) AS INT) AS n_lines,
           {_r9('1.0 - CAST(len(list_distinct(ls)) AS DOUBLE) / CAST(len(ls) AS DOUBLE)')}
             AS dup_line_frac,
           {_r9('least(1.0, CAST(coalesce(top2_chars, 0) AS DOUBLE) / CAST(n_chars AS DOUBLE))')}
             AS top_2gram_char_frac,
           {_r9('least(1.0, CAST(coalesce(dup3_chars, 0) AS DOUBLE) / CAST(n_chars AS DOUBLE))')}
             AS dup_3gram_char_frac,
           ((1.0 - CAST(len(list_distinct(ls)) AS DOUBLE) / CAST(len(ls) AS DOUBLE))
              <= {X.DUP_LINE_FRAC_MAX}
            AND least(1.0, CAST(coalesce(top2_chars, 0) AS DOUBLE) / CAST(n_chars AS DOUBLE))
              <= {X.TOP_2GRAM_CHAR_FRAC_MAX}
            AND least(1.0, CAST(coalesce(dup3_chars, 0) AS DOUBLE) / CAST(n_chars AS DOUBLE))
              <= {X.DUP_3GRAM_CHAR_FRAC_MAX}) AS passes_repetition_filter
    FROM lines
    LEFT JOIN top2 USING (doc_id)
    LEFT JOIN dup3 USING (doc_id)
    """,
    "Gopher-style repetition screens per doc: duplicate-line fraction "
    "(pure array ops, no explode), top-2-gram and duplicate-3-gram "
    "character fractions (explode -> two partial-agg'd groupBys, "
    "shuffle bounded by distinct (doc, gram)), folded into the "
    "table-A1 pass/fail verdict.",
)
def q_docs_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    out = X.ngram_repetition(docs)
    return out.select(
        "doc_id",
        "n_lines",
        round9(F.col("dup_line_frac")).alias("dup_line_frac"),
        round9(F.col("top_2gram_char_frac")).alias("top_2gram_char_frac"),
        round9(F.col("dup_3gram_char_frac")).alias("dup_3gram_char_frac"),
        "passes_repetition_filter",
    )


# ----------------------------------------------------------------------
# Embedding vector aggregation + end-to-end corpus preparation
# ----------------------------------------------------------------------

CORPUS_MIN_QUALITY = 0.25


@register(
    "emb_label_centroids",
    f"""
    SELECT label, CAST(i - 1 AS INT) AS pos,
           {_r9('avg(CAST(embedding[i] AS DOUBLE))')} AS centroid
    FROM embeddings, LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i)
    GROUP BY label, pos
    """,
    "Per-label embedding centroids (class means / mean pooling): "
    "posexplode the vector to (label, dim) and partial-agg the mean — "
    "the shuffle carries |labels| x dims rows per partition, never "
    "vectors. The building block for centroid classifiers and IVF "
    "seeding. 9-dp rounding absorbs partial-agg summation-order ulps.",
)
def q_emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = Catalog(spark, sf_dir).table("embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(round9(F.avg(F.col("v").cast("double"))).alias("centroid"))
    )


# repetition screen SQL (mirrors docs_repetition's CTEs) as a
# fragment reusable inside the corpus-prep oracle
_REPETITION_PASS_CTE = f"""
    g2 AS (
      SELECT doc_id, g, count(*) AS c FROM (
        SELECT doc_id, unnest(list_transform(range(1, greatest(len(t), 1)),
                              i -> array_to_string(t[i:i+1], ' '))) AS g
        FROM toks) GROUP BY doc_id, g),
    g3 AS (
      SELECT doc_id, g, count(*) AS c FROM (
        SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
                              i -> array_to_string(t[i:i+2], ' '))) AS g
        FROM toks) GROUP BY doc_id, g),
    rep AS (
      SELECT d.doc_id,
             ((1.0 - CAST(len(list_distinct(string_split(d.text, chr(10)))) AS DOUBLE)
                     / CAST(len(string_split(d.text, chr(10))) AS DOUBLE))
                <= {X.DUP_LINE_FRAC_MAX}
              AND least(1.0, CAST(coalesce(t2.v, 0) AS DOUBLE) / CAST(length(d.text) AS DOUBLE))
                <= {X.TOP_2GRAM_CHAR_FRAC_MAX}
              AND least(1.0, CAST(coalesce(d3.v, 0) AS DOUBLE) / CAST(length(d.text) AS DOUBLE))
                <= {X.DUP_3GRAM_CHAR_FRAC_MAX}) AS pass_rep
      FROM documents d
      LEFT JOIN (SELECT doc_id, max(CASE WHEN c > 1 THEN c * length(g) ELSE 0 END) AS v
                 FROM g2 GROUP BY doc_id) t2 USING (doc_id)
      LEFT JOIN (SELECT doc_id,
                        CAST(sum(CASE WHEN c > 1 THEN c * length(g) ELSE 0 END) AS BIGINT) AS v
                 FROM g3 GROUP BY doc_id) d3 USING (doc_id))
"""


@register(
    "docs_corpus_prep",
    "WITH RECURSIVE toks AS (SELECT doc_id, " + _TOKS + " AS t FROM documents),\n"
    + _QUAL_CTE
    + ","
    + _REPETITION_PASS_CTE
    + ","
    + _COMPONENTS_CTE.format(pairs_sql=_minhash_sql())
    + f""",
    drop AS (
      SELECT c.doc_id FROM comp c JOIN (
        SELECT cluster_id, doc_id AS kept FROM (
          SELECT c2.cluster_id, c2.doc_id,
                 row_number() OVER (PARTITION BY c2.cluster_id
                                    ORDER BY q.quality_score DESC, c2.doc_id) AS rk
          FROM comp c2 JOIN qual q USING (doc_id))
        WHERE rk = 1) k
      ON c.cluster_id = k.cluster_id
      WHERE c.doc_id <> k.kept)
    SELECT doc_id,
           CASE WHEN {_bucket_sql(SPLIT_SALT)} < 9000 THEN 'train'
                WHEN {_bucket_sql(SPLIT_SALT)} < 9500 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    JOIN qual USING (doc_id)
    JOIN rep USING (doc_id)
    WHERE quality_score >= {CORPUS_MIN_QUALITY}
      AND pass_rep
      AND doc_id NOT IN (SELECT doc_id FROM drop)
    """,
    "The corpus-preparation pipeline end-to-end: quality screen "
    "(docs_quality score), repetition screen (Gopher table-A1), "
    "near-dup removal (MinHash-LSH -> connected components -> keep "
    "best), then the deterministic train/val/test split — one "
    "composed DataFrame, the 'raw crawl to training corpus' story. "
    "Every stage is the already-verified operator; this query proves "
    "they compose.",
)
def q_docs_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    scored = docs.select(
        "doc_id",
        "text",
        "source",
        X.quality_features("text")["quality_score"].alias("quality_score"),
    )
    rep = X.ngram_repetition(docs).select("doc_id", "passes_repetition_filter")
    pairs = D.minhash_lsh_pairs(docs, MINHASH_EST_THRESHOLD)
    comp = C.connected_components(pairs)
    kept = C.dedup_filter(scored, comp)
    filtered = (
        kept.join(rep, "doc_id")
        .filter(
            (F.col("quality_score") >= CORPUS_MIN_QUALITY)
            & F.col("passes_repetition_filter")
        )
    )
    return P.train_split(filtered, {"train": 0.9, "val": 0.05, "test": 0.05},
                         salt=SPLIT_SALT).select("doc_id", "split")


# ----------------------------------------------------------------------
# Multimodal resize / frame-sample plumbing (llm/multimodal.py)
# ----------------------------------------------------------------------

RESIZE_W, RESIZE_H = 32, 8
FRAME_EVERY_MS = 500
FRAME_BYTES = 16


@register(
    "media_resize",
    f"""
    SELECT doc_id,
           -- BYTE length of the UTF-8-encoded character prefix: the kernel
           -- slices in the decoded (character) domain then re-encodes, so a
           -- character count would diverge on any non-ASCII payload.
           CAST(octet_length(encode(substring(text, 1, {RESIZE_W * RESIZE_H}))) AS INT)
               AS out_bytes,
           {RESIZE_W} AS width, {RESIZE_H} AS height,
           sha256(substring(text, 1, {RESIZE_W * RESIZE_H})) AS sha256
    FROM documents
    """,
    "Image-resize plumbing: mapInPandas Arrow kernel emitting the "
    "resized payload + updated metadata (map-only; payloads never "
    "shuffle, output bounded by WxH per row). The resize body is a "
    "clearly-marked deterministic fake (no codecs in the container); "
    "the oracle verifies the full plumbing contract byte-for-byte via "
    "the payload sha.",
)
def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    out = M.resize_media(M.attach_media(docs), RESIZE_W, RESIZE_H)
    return out.select(
        "doc_id",
        F.octet_length("media").alias("out_bytes"),
        F.col("media_meta.width").alias("width"),
        F.col("media_meta.height").alias("height"),
        F.sha2("media", 256).alias("sha256"),
    )


@register(
    "media_frames",
    f"""
    SELECT doc_id, CAST(i AS INT) AS frame_idx,
           CAST(i * {FRAME_EVERY_MS} AS INT) AS frame_ts_ms,
           sha256(substring(text, 1 + i * {FRAME_BYTES}, {FRAME_BYTES})) AS frame_sha
    FROM documents,
         LATERAL (SELECT unnest(range(0, (length(text) * 10) // {FRAME_EVERY_MS})) AS i)
    """,
    "Video frame-sampling plumbing: one row per sampled frame "
    "(frame i at i*stride ms), fanned out inside the Arrow kernel — "
    "variable-row-expansion mapInPandas, map-only. Frame extraction is "
    "a clearly-marked deterministic fake (payload byte slices) standing "
    "in for a decoder keyframe grab; the oracle checks the fan-out "
    "cardinality, timestamps, and per-frame payload shas exactly.",
)
def q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    out = M.sample_frames(M.attach_media(docs), FRAME_EVERY_MS, FRAME_BYTES)
    return out.select(
        "doc_id",
        "frame_idx",
        "frame_ts_ms",
        F.sha2("frame", 256).alias("frame_sha"),
    )


# ----------------------------------------------------------------------
# BPE-ish token counting (llm/text.py BPE_ISH_PATTERN)
# ----------------------------------------------------------------------

_BPE_SQL_PAT = X.BPE_ISH_PATTERN.replace("'", "''")


@register(
    "docs_bpe_tokens",
    f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_BPE_SQL_PAT}')) AS INT)
             AS n_bpe_tokens,
           CAST(len({_TOKS}) AS INT) AS n_ws_tokens,
           {_r9('CAST(length(text) AS DOUBLE) / CAST(len(regexp_extract_all(text, ' + "'" + _BPE_SQL_PAT + "'" + ')) AS DOUBLE)')}
             AS chars_per_bpe_token
    FROM documents
    """,
    "BPE-ish token counting: the GPT-2 pre-tokenization pattern "
    "(contraction suffixes, space-prefixed letter runs, digit runs, "
    "punctuation runs; lookahead-free so the same regex runs in Java "
    "and RE2) next to the whitespace count, plus chars-per-token — "
    "the token-budget estimator a training pipeline actually bills "
    "by. Pure per-row JVM regex, no shuffle.",
)
def q_docs_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    return docs.select(
        "doc_id",
        X.bpe_ish_token_count("text").alias("n_bpe_tokens"),
        X.token_count("text").alias("n_ws_tokens"),
        round9(
            F.length("text").cast("double")
            / X.bpe_ish_token_count("text").cast("double")
        ).alias("chars_per_bpe_token"),
    )


# ----------------------------------------------------------------------
# Streaming corpus ingest (streaming/docs_ingest.py)
# ----------------------------------------------------------------------


@register(
    "stream_docs_ingest",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    {_QUAL_CTE},
    {_REPETITION_PASS_CTE},
    kept AS (
      SELECT {_FP_SQL} AS fingerprint, min(d.doc_id) AS doc_id
      FROM documents d
      JOIN qual USING (doc_id)
      JOIN rep USING (doc_id)
      WHERE quality_score >= {CORPUS_MIN_QUALITY} AND pass_rep
      GROUP BY fingerprint)
    SELECT fingerprint, doc_id,
           CASE WHEN {_bucket_sql(SPLIT_SALT)} < 9000 THEN 'train'
                WHEN {_bucket_sql(SPLIT_SALT)} < 9500 THEN 'val'
                ELSE 'test' END AS split
    FROM kept
    """,
    "Streaming corpus ingest: documents stream through stateless "
    "quality + repetition gates (single per-row expressions — no "
    "shuffle before the state store), cross-batch exact dedup keyed "
    "by content fingerprint (applyInPandasWithState, one long of "
    "state per distinct content), and the deterministic split "
    "assignment — the training pipeline's front door on the "
    "streaming spine, drained and compared to the batch contract.",
)
def q_stream_docs_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime0523_spark.streaming.docs_ingest import streaming_docs_ingest
    from realtime0523_spark.streaming.runner import run_to_memory
    from realtime0523_spark.streaming.sources import stream_table

    out = streaming_docs_ingest(
        stream_table(spark, sf_dir, "documents"),
        min_quality=CORPUS_MIN_QUALITY,
        fractions={"train": 0.9, "val": 0.05, "test": 0.05},
        salt=SPLIT_SALT,
    )
    emitted = run_to_memory(out, output_mode="update")
    # compact like an upserting consumer: winners only decrease, so
    # min per fingerprint == the latest emission per key
    return emitted.groupBy("fingerprint").agg(
        F.min("doc_id").alias("doc_id"), F.min_by("split", "doc_id").alias("split")
    ).select("fingerprint", "doc_id", "split")


@register(
    "docs_chunk_embed",
    f"""
    WITH ch AS (
      SELECT doc_id, CAST(s / {CHUNK_STRIDE} AS INT) AS chunk_id,
             array_to_string(t[s + 1 : s + {CHUNK_SIZE}], ' ') AS chunk_text
      FROM (SELECT doc_id, t, len(t) AS n
            FROM (SELECT doc_id, {_TOKS} AS t FROM documents)
            WHERE len(t) > 0),
           LATERAL (SELECT unnest(range(0, n, {CHUNK_STRIDE})) AS s)),
    fhtok AS (
      SELECT doc_id, chunk_id,
             unnest(list_filter(regexp_split_to_array(chunk_text, '\\s+'),
                                t -> t <> '')) AS tok
      FROM ch),
    fhcnt AS (
      SELECT doc_id, chunk_id,
             {_MD5_INT32_SQL.format(col='tok')} % {X.FEATURE_HASH_DIM} AS bucket,
             count(*) AS cnt
      FROM fhtok GROUP BY doc_id, chunk_id, bucket)
    SELECT doc_id, chunk_id, bucket,
           {_r9('cnt / sqrt(sum(cnt * cnt) OVER (PARTITION BY doc_id, chunk_id))')}
             AS weight
    FROM fhcnt
    """,
    "The embed link of the chunk→embed→index chain: token-window "
    "chunks encoded to sparse L2-normalized feature-hash vectors "
    f"({X.FEATURE_HASH_DIM} md5 buckets — the hashing trick, "
    "Weinberger et al. ICML 2009; vocabulary-independent width, no "
    "dictionary to broadcast). A learned encoder drops into the same "
    "(id, vector) slot; this deterministic one keeps the chain "
    "SQL-replayable and is the real thing for lexical retrieval. "
    "Explode + partial-agg'd groupBy + per-chunk window — no "
    "corpus-wide state.",
)
def q_docs_chunk_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    chunks = X.chunk_tokens(docs, CHUNK_SIZE, CHUNK_STRIDE).select(
        "doc_id", "chunk_id", "chunk_text"
    )
    feats = X.hashed_features(chunks, ["doc_id", "chunk_id"], text_col="chunk_text")
    return feats.select(
        "doc_id", "chunk_id", "bucket", round9(F.col("weight")).alias("weight")
    )


@register(
    "stream_ann_lookup",
    # the query STREAM drains through per-batch retrieval against the
    # static index; result ≡ the batch ANN (same oracle as emb_ann_lsh)
    f"""
    WITH {_LSH_ANN_CTES}
    SELECT qid, vec_id, score, rk FROM lshann WHERE rk <= {TOPK_K}
    """,
    "Online retrieval serving (the RAG query path): queries arrive as "
    "a STREAM and each micro-batch runs sign-LSH candidate lookup + "
    "exact re-rank against the static corpus index inside "
    "foreachBatch — stream-vs-static retrieval with per-batch "
    "broadcast of the (small) query batch, the corpus never "
    "shuffling. Served results land in the idempotent-by-batchId "
    "parquet sink (the K5 contract — at real query volume nothing "
    "may accumulate on the driver) and are read back for the check. "
    "Drained results equal the batch ANN, so the oracle is "
    "emb_ann_lsh's.",
)
def q_stream_ann_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from realtime0523_spark.streaming.cells import drain_partials
    from realtime0523_spark.streaming.sinks import detach_and_cleanup
    from realtime0523_spark.streaming.sources import stream_table

    emb = Catalog(spark, sf_dir).table("embeddings")
    qstream = stream_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < TOPK_QUERIES
    ).select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))

    out_dir = tempfile.mkdtemp(prefix="stream_ann_lookup_")

    def serve(batch_df: DataFrame) -> DataFrame:
        return S.ann_topk_lsh(
            emb, batch_df, dims=EMB_DIMS, k=TOPK_K
        ).select("qid", "vec_id", "score", "rk")

    return detach_and_cleanup(drain_partials(qstream, serve, out_dir), out_dir)


SPARSE_QUERIES = 5
SPARSE_K = 3

_FH_CHUNK_FEATS_SQL = f"""
    ch AS (
      SELECT doc_id, CAST(s / {CHUNK_STRIDE} AS INT) AS chunk_id,
             array_to_string(t[s + 1 : s + {CHUNK_SIZE}], ' ') AS chunk_text
      FROM (SELECT doc_id, t, len(t) AS n
            FROM (SELECT doc_id, {_TOKS} AS t FROM documents)
            WHERE len(t) > 0),
           LATERAL (SELECT unnest(range(0, n, {CHUNK_STRIDE})) AS s)),
    cf AS (
      SELECT doc_id, chunk_id, bucket,
             cnt / sqrt(sum(cnt * cnt) OVER (PARTITION BY doc_id, chunk_id))
               AS weight
      FROM (SELECT doc_id, chunk_id,
                   {_MD5_INT32_SQL.format(col='tok')} % {X.FEATURE_HASH_DIM}
                     AS bucket,
                   count(*) AS cnt
            FROM (SELECT doc_id, chunk_id,
                         unnest(list_filter(
                           regexp_split_to_array(chunk_text, '\\s+'),
                           t -> t <> '')) AS tok
                  FROM ch)
            GROUP BY doc_id, chunk_id, bucket)),
    qf AS (
      SELECT doc_id AS qid, bucket,
             cnt / sqrt(sum(cnt * cnt) OVER (PARTITION BY doc_id)) AS weight
      FROM (SELECT doc_id,
                   {_MD5_INT32_SQL.format(col='tok')} % {X.FEATURE_HASH_DIM}
                     AS bucket,
                   count(*) AS cnt
            FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
                  WHERE doc_id < {SPARSE_QUERIES})
            GROUP BY doc_id, bucket))
"""


@register(
    "docs_sparse_search",
    f"""
    WITH {_FH_CHUNK_FEATS_SQL}
    SELECT qid, doc_id, chunk_id, score, rk FROM (
      SELECT qid, doc_id, chunk_id, {_r9('s')} AS score,
             row_number() OVER (PARTITION BY qid
                                ORDER BY {_r9('s')} DESC, doc_id, chunk_id)
               AS rk
      FROM (SELECT q.qid, c.doc_id, c.chunk_id,
                   sum(q.weight * c.weight) AS s
            FROM qf q JOIN cf c
              ON q.bucket = c.bucket AND c.doc_id <> q.qid
            GROUP BY q.qid, c.doc_id, c.chunk_id))
    WHERE rk <= {SPARSE_K}
    """,
    "Sparse lexical top-k search — the retrieval link of the "
    "chunk→embed→index chain and the lexical complement of the dense "
    "ANN paths: whole-document queries scored against the chunk "
    "feature-hash index by a posting-list EQUI-JOIN on the bucket id "
    "(query side broadcast), sparse dot ≡ cosine since both sides are "
    "unit-norm. Per-bucket fan-out is bounded by the query set; the "
    "corpus postings never self-join.",
)
def q_docs_sparse_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    chunks = X.chunk_tokens(docs, CHUNK_SIZE, CHUNK_STRIDE).select(
        "doc_id", "chunk_id", "chunk_text"
    )
    cf = X.hashed_features(chunks, ["doc_id", "chunk_id"], text_col="chunk_text")
    qf = X.hashed_features(
        docs.filter(F.col("doc_id") < SPARSE_QUERIES), ["doc_id"]
    ).withColumnRenamed("doc_id", "qid")
    out = S.sparse_search_topk(cf, qf, k=SPARSE_K)
    return out.select("qid", "doc_id", "chunk_id", "score", "rk")


BM25_QUERIES = 5
BM25_TOPK = 3


@register(
    "docs_bm25_search",
    f"""
    WITH btoks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    bpost AS (SELECT doc_id, term, count(*) AS tf
              FROM (SELECT doc_id, unnest(t) AS term FROM btoks)
              GROUP BY doc_id, term),
    blen AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl FROM btoks),
    bstats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl
               FROM blen),
    bdf AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM bpost
            GROUP BY term),
    bq AS (SELECT DISTINCT doc_id AS qid, unnest(list_distinct(t)) AS term
           FROM btoks WHERE doc_id < {BM25_QUERIES}),
    bidf AS (SELECT d.term,
                    floor(ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
                          * 1000000000 + 0.5) / 1000000000 AS idf
             FROM bdf d
             JOIN (SELECT DISTINCT term FROM bq) qt ON qt.term = d.term,
                  bstats s),
    bscore AS (
      SELECT q.qid, p.doc_id,
             sum(i.idf * (CAST(p.tf AS DOUBLE) * {S.BM25_K1 + 1.0}) /
                 (CAST(p.tf AS DOUBLE)
                  + {S.BM25_K1} * ({1.0 - S.BM25_B}
                                   + {S.BM25_B} * l.dl / s.avgdl))) AS score
      FROM bpost p
      JOIN bq q ON q.term = p.term AND p.doc_id <> q.qid
      JOIN bidf i ON i.term = p.term
      JOIN blen l ON l.doc_id = p.doc_id, bstats s
      GROUP BY q.qid, p.doc_id)
    SELECT qid, doc_id, score, rk FROM (
      SELECT qid, doc_id, {_r9('score')} AS score,
             row_number() OVER (PARTITION BY qid
                                ORDER BY {_r9('score')} DESC, doc_id) AS rk
      FROM bscore) WHERE rk <= {BM25_TOPK}
    """,
    "Okapi BM25 top-k retrieval (Robertson & Zaragoza 2009, Lucene's "
    "idf form) — the canonical lexical ranker with REAL term "
    "statistics, completing the retrieval family next to the "
    "feature-hash sparse search and the dense ANN paths. idf is "
    "9dp-quantized before use so the one transcendental (ln) cannot "
    "drift across engines. Postings/lengths/df are each one "
    "partial-agg'd groupBy; N+avgdl broadcast as a single row; "
    "candidates come from the posting-list equi-join against the "
    "broadcast query-term set — the corpus never self-joins.",
)
def q_docs_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    queries = docs.filter(F.col("doc_id") < BM25_QUERIES).select(
        F.col("doc_id").alias("qid"), F.col("text").alias("qtext")
    )
    out = S.bm25_search_topk(docs, queries, k=BM25_TOPK)
    return out.select("qid", "doc_id", "score", "rk")


@register(
    "docs_training_order",
    f"""
    WITH tko AS (
      SELECT doc_id, source AS domain,
             (row_number() OVER (PARTITION BY source
                ORDER BY {_MD5_INT32_SQL.format(col='CAST(doc_id AS VARCHAR)')},
                         doc_id) - 0.5)
               / count(*) OVER (PARTITION BY source) AS q
      FROM documents)
    SELECT doc_id, domain,
           row_number() OVER (ORDER BY q, domain, doc_id) AS global_pos
    FROM tko
    """,
    "Deterministic stratified training order: hash-pseudo-shuffle "
    "within each domain, quantile-interleave across domains — every "
    "contiguous slice of the stream sees ~the corpus's domain mix "
    "(no domain-clumped training phases), and the order is a pure "
    "function of the data (replay-identical, no rand()). One window "
    "per domain partition; the global position is what a sharded "
    "writer consumes (range partitioner at cluster scale, never a "
    "single-task sort).",
)
def q_docs_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime0523_spark.llm.pipeline import training_order

    docs = Catalog(spark, sf_dir).table("documents")
    return training_order(docs)


BPE_MERGES = 8


def _bpe_ctes(n_rounds: int) -> str:
    """Generated n-round BPE oracle CTE block (no final SELECT): each
    round re-derives pair counts
    from the previous vocab state, takes the deterministic argmax, and
    applies the merge with the same GREEDY left-to-right fold as
    llm.bpe._apply_merge — a list_reduce whose accumulator encodes
    (emitted symbols, pending symbol) as out || chr(1) || pending
    (replace-based merging diverges from greedy BPE on odd self-pair
    runs: 'aaaaa' must segment [aa, aa, a], not [aa, a, aa]).
    CTE-materialized per round so the vocab chain evaluates once per
    state, not once per reference."""
    parts = [
        f"""v0 AS MATERIALIZED (
      SELECT w,
             ' ' || trim(regexp_replace(w, '(.)', '\\1 ', 'g')) || ' ' AS syms,
             freq
      FROM (SELECT w, count(*) AS freq
            FROM (SELECT unnest({_TOKS}) AS w FROM documents) GROUP BY w))"""
    ]
    for r in range(n_rounds):
        parts.append(
            f"""p{r} AS MATERIALIZED (
      SELECT ps[i] AS l, ps[i + 1] AS r, sum(freq) AS n
      FROM (SELECT string_split(trim(syms), ' ') AS ps, freq FROM v{r}
            WHERE len(string_split(trim(syms), ' ')) >= 2),
           LATERAL (SELECT unnest(range(1, len(ps))) AS i)
      GROUP BY ps[i], ps[i + 1])"""
        )
        parts.append(
            f"""m{r} AS MATERIALIZED (
      SELECT l, r FROM p{r} ORDER BY n DESC, l, r LIMIT 1)"""
        )
        out = "split_part(acc, chr(1), 1)"
        prev = "split_part(acc, chr(1), 2)"
        emit = f"CASE WHEN {out} = '' THEN '' ELSE {out} || ' ' END"
        parts.append(
            f"""v{r + 1} AS MATERIALIZED (
      SELECT w,
             ' ' || CASE WHEN {prev} = '' THEN {out}
                         WHEN {out} = '' THEN {prev}
                         ELSE {out} || ' ' || {prev} END || ' ' AS syms,
             freq
      FROM (SELECT w, list_reduce(
                     list_prepend(chr(1), string_split(trim(syms), ' ')),
                     (acc, x) -> CASE
                       WHEN {prev} = '' THEN {out} || chr(1) || x
                       WHEN {prev} = m{r}.l AND x = m{r}.r
                         THEN {emit} || m{r}.l || m{r}.r || chr(1)
                       ELSE {emit} || {prev} || chr(1) || x
                     END) AS acc, freq
            FROM v{r}, m{r}))"""
        )
    return "WITH " + ",\n    ".join(parts)


def _bpe_merges_sql(n_rounds: int) -> str:
    """The full merge-table oracle: the round CTEs plus a union reading
    each round's winning pair. Queries that only need the final vocab
    state build on _bpe_ctes directly instead of string-splicing this."""
    union = "\n      UNION ALL ".join(
        f"SELECT {r} AS rank, l AS left, r AS right FROM m{r}"
        for r in range(n_rounds)
    )
    return _bpe_ctes(n_rounds) + f"\n    {union}"


@register(
    "docs_bpe_merges",
    _bpe_merges_sql(BPE_MERGES),
    f"BPE tokenizer TRAINING (Sennrich et al. ACL 2016) — the first "
    f"{BPE_MERGES} merges learned from the corpus. One corpus-sized "
    "shuffle builds the (word, freq) table; every round then runs on "
    "|vocab| rows (partial-agg'd weighted pair counts, a 1-row argmax "
    "collect — the driver step every BPE trainer performs — and a "
    "per-row greedy left-to-right merge fold, exactly BPE's scan "
    "semantics including odd self-pair runs). Count ties break "
    "lexicographically in both engines (documented deviation from "
    "HF's insertion order). The oracle replays all rounds as "
    "generated CTEs with the identical list_reduce fold.",
)
def q_docs_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime0523_spark.llm.bpe import train_bpe

    docs = Catalog(spark, sf_dir).table("documents")
    merges = train_bpe(docs, BPE_MERGES)
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "rank int, left string, right string",
    )


BPE_VOCAB_TOP = 20


@register(
    "docs_bpe_vocab",
    _bpe_ctes(BPE_MERGES)
    + f"""
    SELECT unit, n, rk FROM (
      SELECT unit, n, row_number() OVER (ORDER BY n DESC, unit) AS rk
      FROM (SELECT u AS unit, CAST(sum(freq) AS BIGINT) AS n
            FROM (SELECT unnest(string_split(trim(syms), ' ')) AS u, freq
                  FROM v{BPE_MERGES})
            GROUP BY u))
    WHERE rk <= {BPE_VOCAB_TOP}
    """,
    f"The subword vocabulary AFTER the {BPE_MERGES} learned merges: "
    f"segment every word with the merge table and count unit "
    f"frequencies (top {BPE_VOCAB_TOP}, deterministic tiebreak) — "
    "the tokenizer-artifact half of BPE training (merges + vocab), "
    "and the corpus-level view of what the merges absorbed. Same "
    "|vocab|-row round states; the oracle reuses the generated "
    "round CTEs and reads the final state.",
)
def q_docs_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from realtime0523_spark.llm.bpe import (
        _apply_merge,
        _spaced,
        train_bpe,
        word_counts,
    )

    docs = Catalog(spark, sf_dir).table("documents")
    merges = train_bpe(docs, BPE_MERGES)
    vocab = word_counts(docs).select(_spaced(F.col("w")).alias("syms"), "freq")
    for a, b in merges:
        vocab = vocab.select(_apply_merge(F.col("syms"), a, b).alias("syms"), "freq")
    units = (
        vocab.select(
            F.explode(F.split(F.trim(F.col("syms")), " ")).alias("unit"), "freq"
        )
        .groupBy("unit")
        .agg(F.sum("freq").alias("n"))
    )
    return (
        units.orderBy(F.desc("n"), "unit")
        .limit(BPE_VOCAB_TOP)
        .withColumn(
            "rk", F.row_number().over(W.orderBy(F.desc("n"), F.col("unit")))
        )
    )


@register(
    "docs_bpe_encode",
    _bpe_ctes(BPE_MERGES)
    + f"""
    SELECT doc_id, count(*) AS n_tokens,
           CAST(sum(m.n_units) AS BIGINT) AS n_units
    FROM (SELECT doc_id, unnest({_TOKS}) AS w FROM documents) d
    JOIN (SELECT w, len(string_split(trim(syms), ' ')) AS n_units
          FROM v{BPE_MERGES}) m
      ON m.w = d.w
    GROUP BY doc_id
    """,
    f"BPE-ENCODE the corpus with the {BPE_MERGES} learned merges — the "
    "third tokenizer artifact (after merges and vocabulary) and the "
    "number a token-budget planner actually needs: per-doc subword "
    "unit counts. Segmentation replays the greedy fold ONCE per "
    "distinct word (|vocab| rows); the corpus then makes one explode "
    "→ word equi-join → partial-agg'd per-doc groupBy — the token "
    "stream is never re-segmented row by row. The oracle reuses the "
    "word-keyed round CTEs and joins the final state back to the "
    "documents.",
)
def q_docs_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime0523_spark.llm.bpe import bpe_encode_counts, train_bpe

    docs = Catalog(spark, sf_dir).table("documents")
    merges = train_bpe(docs, BPE_MERGES)
    return bpe_encode_counts(docs, merges)


WORDPIECE_MERGES = 8


def _wordpiece_merges_sql(n_rounds: int) -> str:
    """Generated n-round WordPiece oracle: the same vocab-state chain
    and greedy merge fold as _bpe_ctes, with the round argmax ranked
    by the likelihood-ratio score count(ab)/(count(a)·count(b)) — a
    single IEEE double division of exact integer counts, plus the
    shared lexicographic tiebreak. Each round adds a symbol-count CTE
    (the score's denominator statistics)."""
    parts = [
        f"""v0 AS MATERIALIZED (
      SELECT w,
             ' ' || trim(regexp_replace(w, '(.)', '\\1 ', 'g')) || ' ' AS syms,
             freq
      FROM (SELECT w, count(*) AS freq
            FROM (SELECT unnest({_TOKS}) AS w FROM documents) GROUP BY w))"""
    ]
    for r in range(n_rounds):
        parts.append(
            f"""s{r} AS MATERIALIZED (
      SELECT u AS s, sum(freq) AS n
      FROM (SELECT unnest(string_split(trim(syms), ' ')) AS u, freq
            FROM v{r})
      GROUP BY u)"""
        )
        parts.append(
            f"""p{r} AS MATERIALIZED (
      SELECT ps[i] AS l, ps[i + 1] AS r, sum(freq) AS n
      FROM (SELECT string_split(trim(syms), ' ') AS ps, freq FROM v{r}
            WHERE len(string_split(trim(syms), ' ')) >= 2),
           LATERAL (SELECT unnest(range(1, len(ps))) AS i)
      GROUP BY ps[i], ps[i + 1])"""
        )
        parts.append(
            f"""m{r} AS MATERIALIZED (
      SELECT p.l, p.r FROM p{r} p
      JOIN s{r} sl ON sl.s = p.l
      JOIN s{r} sr ON sr.s = p.r
      ORDER BY CAST(p.n AS DOUBLE) / (sl.n * sr.n) DESC, p.l, p.r
      LIMIT 1)"""
        )
        out = "split_part(acc, chr(1), 1)"
        prev = "split_part(acc, chr(1), 2)"
        emit = f"CASE WHEN {out} = '' THEN '' ELSE {out} || ' ' END"
        parts.append(
            f"""v{r + 1} AS MATERIALIZED (
      SELECT w,
             ' ' || CASE WHEN {prev} = '' THEN {out}
                         WHEN {out} = '' THEN {prev}
                         ELSE {out} || ' ' || {prev} END || ' ' AS syms,
             freq
      FROM (SELECT w, list_reduce(
                     list_prepend(chr(1), string_split(trim(syms), ' ')),
                     (acc, x) -> CASE
                       WHEN {prev} = '' THEN {out} || chr(1) || x
                       WHEN {prev} = m{r}.l AND x = m{r}.r
                         THEN {emit} || m{r}.l || m{r}.r || chr(1)
                       ELSE {emit} || {prev} || chr(1) || x
                     END) AS acc, freq
            FROM v{r}, m{r}))"""
        )
    union = "\n      UNION ALL ".join(
        f"SELECT {r} AS rank, l AS left, r AS right FROM m{r}"
        for r in range(n_rounds)
    )
    return "WITH " + ",\n    ".join(parts) + f"\n    {union}"


@register(
    "docs_wordpiece_merges",
    _wordpiece_merges_sql(WORDPIECE_MERGES),
    f"WordPiece tokenizer TRAINING (Schuster & Nakajima 2012 — the "
    f"BERT trainer), completing the tokenizer trio beside BPE and "
    f"the unigram LM: the first {WORDPIECE_MERGES} merges ranked by "
    "the likelihood-ratio score count(ab)/(count(a)·count(b)) "
    "instead of BPE's raw frequency — the merge that most increases "
    "corpus likelihood, preferring pairs whose parts rarely occur "
    "apart. All machinery (one corpus pass, |vocab|-row rounds, the "
    "greedy left-to-right fold) is SHARED with llm/bpe.py — one "
    "implementation, two selection rules; per round only a "
    "|symbols|-sized count CTE and a two-way metadata join are new. "
    "The score is one IEEE double division of exact integer counts "
    "(bit-identical cross-engine); ties break lexicographically "
    "(llm/wordpiece.py).",
)
def q_docs_wordpiece_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime0523_spark.llm.wordpiece import train_wordpiece

    docs = Catalog(spark, sf_dir).table("documents")
    merges = train_wordpiece(docs, WORDPIECE_MERGES)
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "rank int, left string, right string",
    )


# --- Unigram-LM (SentencePiece-style) tokenizer oracle ----------------
# The trainer's fixed schedule (llm/unigram.py: seed → E → prune → M →
# E → M) replayed as generated CTEs, like _bpe_ctes. The Viterbi
# E-step is a per-word list_reduce whose accumulator is the chr(1)-
# separated dp table; each entry is "cost<chr(2)>segmentation" and the
# argmin ties break on the integer key (dp[j]+cost)*4096 + j — the
# exact tie-break viterbi_segment implements (smallest split position
# wins). Costs are integer nano-nats, so every dp sum is BIGINT-exact.

from realtime0523_spark.llm.unigram import (  # noqa: E402
    UNIGRAM_KEEP_MULTI,
    UNIGRAM_MAXLEN,
    UNIGRAM_SEED_MULTI,
)

_UNI_COST = (
    "CAST(floor(-ln(CAST({n} + 1 AS DOUBLE) / CAST({t} + {vs} AS DOUBLE))"
    " * 1000000000 + 0.5) AS BIGINT)"
)


def _uni_estep(tag: str, cost_cte: str) -> list[str]:
    """One Viterbi E-step as CTEs: candidates (word substring × vocab
    equi-join), the dp fold, and the weighted piece counts."""
    ml = UNIGRAM_MAXLEN
    entries = "string_split(acc, chr(1))"
    key = (
        f"list_min(list_transform("
        f"list_filter(cands, c -> c.i = CAST(x AS BIGINT)), "
        f"c -> (CAST(split_part({entries}[c.j + 1], chr(2), 1) AS BIGINT)"
        f" + c.cost) * 4096 + c.j))"
    )
    j = f"({key} % 4096)"
    new_entry = (
        f"CAST({key} // 4096 AS VARCHAR) || chr(2) || "
        f"split_part({entries}[{j} + 1], chr(2), 2) || ' ' || "
        f"substr(w, {j} + 1, CAST(x AS BIGINT) - {j})"
    )
    return [
        f"""cand_{tag} AS MATERIALIZED (
      SELECT wt.w, a.j, b.i, c.cost
      FROM uni_words wt,
           LATERAL (SELECT unnest(range(0, length(wt.w))) AS j) a,
           LATERAL (SELECT unnest(range(a.j + 1,
                      least(a.j + {ml}, length(wt.w)) + 1)) AS i) b
      JOIN {cost_cte} c ON c.piece = substr(wt.w, a.j + 1, b.i - a.j))""",
        f"""seg_{tag} AS MATERIALIZED (
      SELECT w, freq,
             string_split(trim(split_part(
               string_split(
                 list_reduce(
                   list_prepend('0' || chr(2),
                     list_transform(range(1, length(w) + 1),
                                    x -> CAST(x AS VARCHAR))),
                   (acc, x) -> acc || chr(1) || {new_entry}),
                 chr(1))[length(w) + 1],
               chr(2), 2)), ' ') AS units
      FROM (SELECT wt.w, wt.freq,
                   list(struct_pack(j := cd.j, i := cd.i,
                                    cost := cd.cost)) AS cands
            FROM uni_words wt JOIN cand_{tag} cd ON cd.w = wt.w
            GROUP BY wt.w, wt.freq))""",
        f"""n_{tag} AS MATERIALIZED (
      SELECT piece, sum(freq) AS n
      FROM (SELECT unnest(units) AS piece, freq FROM seg_{tag})
      GROUP BY piece)""",
    ]


def _uni_mstep(cost_tag: str, vocab_cte: str, counts_cte: str) -> str:
    """Add-1-smoothed nano-nat costs over the CURRENT vocabulary."""
    cost = _UNI_COST.format(n="coalesce(n.n, 0)", t="t.t", vs="t.vs")
    return f"""{cost_tag} AS MATERIALIZED (
      SELECT v.piece, {cost} AS cost
      FROM {vocab_cte} v
      LEFT JOIN {counts_cte} n ON n.piece = v.piece,
           (SELECT sum(coalesce(nn.n, 0)) AS t, count(*) AS vs
            FROM {vocab_cte} vv
            LEFT JOIN {counts_cte} nn ON nn.piece = vv.piece) t)"""


def _uni_ctes() -> str:
    """The full training replay: seed vocab + costs, E-step under c0,
    count-based prune to v1, M-step c1, E-step under c1, final M-step
    c2 (the served model)."""
    ml, seed, keep = UNIGRAM_MAXLEN, UNIGRAM_SEED_MULTI, UNIGRAM_KEEP_MULTI
    seed_cost = _UNI_COST.format(n="n", t="t.t", vs="t.vs")
    parts = [
        f"""uni_words AS MATERIALIZED (
      SELECT w, count(*) AS freq
      FROM (SELECT unnest({_TOKS}) AS w FROM documents) GROUP BY w)""",
        f"""uni_sub AS MATERIALIZED (
      SELECT substr(w, a.j + 1, b.l) AS piece, sum(freq) AS n
      FROM uni_words,
           LATERAL (SELECT unnest(range(0, length(w))) AS j) a,
           LATERAL (SELECT unnest(range(1,
                      least({ml}, length(w) - a.j) + 1)) AS l) b
      GROUP BY 1)""",
        f"""v0 AS MATERIALIZED (
      SELECT piece, n FROM uni_sub WHERE length(piece) = 1
      UNION ALL
      SELECT piece, n FROM
        (SELECT piece, n FROM uni_sub WHERE length(piece) >= 2
         ORDER BY n DESC, piece LIMIT {seed}))""",
        f"""c0 AS MATERIALIZED (
      SELECT piece, {seed_cost} AS cost
      FROM v0, (SELECT sum(n) AS t, count(*) AS vs FROM v0) t)""",
    ]
    parts += _uni_estep("e0", "c0")
    parts.append(
        f"""v1 AS MATERIALIZED (
      SELECT piece FROM v0 WHERE length(piece) = 1
      UNION ALL
      SELECT piece FROM
        (SELECT vv.piece, coalesce(n.n, 0) AS n
         FROM v0 vv LEFT JOIN n_e0 n ON n.piece = vv.piece
         WHERE length(vv.piece) >= 2
         ORDER BY n DESC, vv.piece LIMIT {keep}))"""
    )
    parts.append(_uni_mstep("c1", "v1", "n_e0"))
    parts += _uni_estep("e1", "c1")
    parts.append(_uni_mstep("c2", "v1", "n_e1"))
    return "WITH " + ",\n    ".join(parts)


@register(
    "docs_unigram_vocab",
    _uni_ctes()
    + """
    SELECT v.piece, CAST(coalesce(n.n, 0) AS BIGINT) AS cnt,
           c.cost AS cost_ns
    FROM v1 v
    LEFT JOIN n_e1 n ON n.piece = v.piece
    JOIN c2 c ON c.piece = v.piece
    """,
    f"Unigram-LM (SentencePiece) tokenizer TRAINING (Kudo, ACL 2018) "
    f"in deterministic hard-EM form: seed = every character + top "
    f"{UNIGRAM_SEED_MULTI} substrings (≤{UNIGRAM_MAXLEN} chars) by "
    "weighted count; each E-step VITERBI-segments the distinct-word "
    "table (an Arrow pass; dp ties break on the smallest split "
    "position); the M-step is add-1-smoothed costs in integer "
    f"nano-nats; prune keeps chars + top {UNIGRAM_KEEP_MULTI} pieces "
    "by count (count-based prune and Viterbi-not-forward-backward are "
    "the documented deviations from full SentencePiece). The corpus "
    "is scanned once (word counts); training cost scales with "
    "vocabulary size, never corpus size. The oracle replays every "
    "round as generated CTEs whose dp fold uses the identical "
    "integer-key tie-break.",
)
def q_docs_unigram_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime0523_spark.llm.unigram import train_unigram

    docs = Catalog(spark, sf_dir).table("documents")
    vocab = train_unigram(docs)
    return spark.createDataFrame(
        vocab, "piece string, cnt long, cost_ns long"
    )


@register(
    "docs_unigram_encode",
    _uni_ctes()
    + ",\n    "
    + ",\n    ".join(_uni_estep("enc", "c2"))
    + f"""
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(m.n_units) AS BIGINT) AS n_units
    FROM (SELECT doc_id, unnest({_TOKS}) AS w FROM documents) d
    JOIN (SELECT w, len(units) AS n_units FROM seg_enc) m ON m.w = d.w
    GROUP BY doc_id
    """,
    "UNIGRAM-ENCODE the corpus with the trained vocabulary — the "
    "per-doc token-budget artifact (twin of docs_bpe_encode): "
    "Viterbi segmentation runs ONCE per distinct word under the "
    "final costs; the corpus then makes one explode → word "
    "equi-join (vocab side broadcastable) → partial-agg'd per-doc "
    "groupBy. The token stream is never re-segmented row by row.",
)
def q_docs_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime0523_spark.llm.unigram import (
        train_unigram,
        unigram_encode_counts,
    )

    docs = Catalog(spark, sf_dir).table("documents")
    vocab = train_unigram(docs)
    return unigram_encode_counts(docs, vocab).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_units").cast("long").alias("n_units"),
    )


# --- MMR diversified re-rank oracle -----------------------------------


def _mmr_sql(retrieve: int, k: int) -> str:
    """Generated greedy-round MMR oracle: relevance shortlist, pair
    sims among shortlist members, then k argmax rounds (each scoring
    0.5·rel − 0.5·max-sim-to-selected, 9-dp-quantized, ties to the
    smallest id) — the identical greedy mmr_topk runs."""
    rel = _r9("dot / (n_a * n_b)")
    parts = [_DOT_CTE.format(nq=TOPK_QUERIES).strip()]
    parts.append(
        f"""mrel AS MATERIALIZED (
      SELECT qid, vec_id, rel FROM (
        SELECT qid, vec_id, {rel} AS rel,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY {rel} DESC, vec_id) AS rn
        FROM pairdot) WHERE rn <= {retrieve})"""
    )
    parts.append(
        f"""mpair AS MATERIALIZED (
      SELECT qid, i, j, {_r9('dot / (ni * nj)')} AS sim FROM (
        SELECT sub.qid AS qid, sub.i AS i, sub.j AS j,
               sum(CAST(sub.va[x] AS DOUBLE) * CAST(sub.vb[x] AS DOUBLE)) AS dot,
               sqrt(sum(CAST(sub.va[x] AS DOUBLE) * CAST(sub.va[x] AS DOUBLE))) AS ni,
               sqrt(sum(CAST(sub.vb[x] AS DOUBLE) * CAST(sub.vb[x] AS DOUBLE))) AS nj
        FROM (SELECT a.qid, a.vec_id AS i, b.vec_id AS j,
                     ea.embedding AS va, eb.embedding AS vb
              FROM mrel a
              JOIN mrel b ON b.qid = a.qid AND b.vec_id <> a.vec_id
              JOIN embeddings ea ON ea.vec_id = a.vec_id
              JOIN embeddings eb ON eb.vec_id = b.vec_id) sub,
             LATERAL (SELECT unnest(range(1, len(sub.va) + 1)) AS x)
        GROUP BY sub.qid, sub.i, sub.j))"""
    )
    parts.append(
        """selu1 AS MATERIALIZED (
      SELECT qid, vec_id, rel AS mmr_score, 1 AS mmr_rank FROM (
        SELECT qid, vec_id, rel,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY rel DESC, vec_id) AS rn
        FROM mrel) WHERE rn = 1)"""
    )
    sc = _r9("0.5 * c.rel - 0.5 * ms.m")
    for t in range(2, k + 1):
        parts.append(
            f"""selu{t} AS MATERIALIZED (
      SELECT qid, vec_id, mmr_score, mmr_rank FROM selu{t - 1}
      UNION ALL
      SELECT qid, vec_id, sc AS mmr_score, {t} AS mmr_rank FROM (
        SELECT c.qid, c.vec_id, {sc} AS sc,
               row_number() OVER (PARTITION BY c.qid
                                  ORDER BY {sc} DESC, c.vec_id) AS rn
        FROM mrel c
        JOIN (SELECT p.qid, p.i AS vec_id, max(p.sim) AS m
              FROM mpair p
              JOIN selu{t - 1} s ON s.qid = p.qid AND s.vec_id = p.j
              GROUP BY p.qid, p.i) ms
          ON ms.qid = c.qid AND ms.vec_id = c.vec_id
        WHERE NOT EXISTS (SELECT 1 FROM selu{t - 1} s2
                          WHERE s2.qid = c.qid
                            AND s2.vec_id = c.vec_id)) WHERE rn = 1)"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"\n    SELECT qid, vec_id, mmr_score, mmr_rank FROM selu{k}"
    )


@register(
    "emb_ann_mmr",
    _mmr_sql(S.MMR_RETRIEVE, TOPK_K),
    "MMR — Maximal Marginal Relevance diversified top-k (Carbonell & "
    "Goldstein, SIGIR 1998; the standard RAG re-rank): greedily pick "
    "k results from the exact relevance shortlist, each round "
    "maximizing 0.5·rel − 0.5·max-sim-to-already-selected, so "
    "near-duplicate hits cannot crowd the answer set. Relevance and "
    "pair sims are 9-dp cosines; each round re-quantizes and ties "
    "break on the smallest id — the oracle replays the greedy as "
    "generated per-round CTEs. Scale shape: the only corpus-sized "
    "work is the shortlist scan (map-only batch-local prune); the "
    "greedy runs on |queries|·retrieve rows (the serving-tier "
    "re-rank, small by the ANN query-set contract).",
)
def q_emb_ann_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb, queries = _ann_queries(spark, sf_dir)
    return S.mmr_topk(emb, queries, k=TOPK_K)


_SEM_PAIRS_SQL = f"""
    SELECT id_a AS doc_a, id_b AS doc_b FROM (
      SELECT id_a, id_b, {_r9('dot / (n_a * n_b)')} AS cos_sim FROM (
        SELECT id_a, id_b,
               sum(CAST(va[i] AS DOUBLE) * CAST(vb[i] AS DOUBLE)) AS dot,
               sqrt(sum(CAST(va[i] AS DOUBLE) * CAST(va[i] AS DOUBLE))) AS n_a,
               sqrt(sum(CAST(vb[i] AS DOUBLE) * CAST(vb[i] AS DOUBLE))) AS n_b
        FROM (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     a.embedding AS va, b.embedding AS vb
              FROM embeddings a JOIN embeddings b
                ON a.label = b.label AND a.vec_id < b.vec_id),
             LATERAL (SELECT unnest(range(1, len(va) + 1)) AS i)
        GROUP BY id_a, id_b))
    WHERE cos_sim >= {EMB_DEDUP_THRESHOLD}
"""


@register(
    "emb_semantic_dedup",
    "WITH RECURSIVE "
    + _COMPONENTS_CTE.format(pairs_sql=_SEM_PAIRS_SQL)
    + """
    SELECT e.vec_id, e.label,
           (c.doc_id IS NULL OR c.cluster_id = e.vec_id) AS kept
    FROM embeddings e LEFT JOIN comp c ON c.doc_id = e.vec_id
    """,
    "SemDeDup (Abbas et al. 2023, arXiv:2303.09540): prune documents "
    "whose EMBEDDINGS are near-duplicates — composition of the "
    "blocked cosine pair generator (equi-join on the cluster/label "
    "block, Σ block² never n²), connected components over the "
    "similarity graph, and keep-the-minimum-id representative per "
    "component; singletons survive by definition. Emits every vector "
    "with its kept/pruned verdict. Per the paper, semantic dedup "
    "catches paraphrases that token-level MinHash/winnowing miss.",
)
def q_emb_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime0523_spark.llm import clusters as C

    emb = Catalog(spark, sf_dir).table("embeddings")
    pairs = S.embedding_dedup_pairs(emb, EMB_DEDUP_THRESHOLD).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    comp = C.connected_components(pairs)
    out = emb.select("vec_id", "label").join(
        comp, F.col("vec_id") == F.col("doc_id"), "left"
    )
    return out.select(
        "vec_id",
        "label",
        (F.col("doc_id").isNull() | (F.col("cluster_id") == F.col("vec_id"))).alias(
            "kept"
        ),
    )


# ----------------------------------------------------------------------
# Round 7: DSIR importance resampling, temperature mixing,
# leakage-safe splits, IVFPQ, hard-negative mining
# ----------------------------------------------------------------------

from realtime0523_spark.llm import dsir as DS  # noqa: E402

DSIR_SAMPLE_K = 50

# unigram+bigram term stream (mirrors llm.dsir._ngram_terms; DuckDB
# range(1, n) is [1, n) so no empty-sequence guard is needed)
_DSIR_TERMS_CTE = f"""
    dterm AS (
      SELECT doc_id,
             unnest(list_concat(
               t, list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
             )) AS term
      FROM (SELECT doc_id, {_TOKS} AS t FROM documents))
"""

_DSIR_TGT_FILTER = "doc_id IN (SELECT doc_id FROM documents WHERE lang = 'en')"


def _dsir_ctes() -> str:
    B = DS.DSIR_BUCKETS
    md5b = _MD5_INT32_SQL.format(col="term") + f" % {B}"
    logp = (
        "{p}p AS (\n"
        f"      SELECT t.bucket,\n"
        f"             {{lnq}} AS logp\n"
        f"      FROM range(0, {B}) t(bucket)\n"
        "      LEFT JOIN (SELECT bucket, sum(cnt) AS n FROM {f} GROUP BY bucket) g\n"
        "        ON g.bucket = t.bucket)"
    )
    ln_t = _r9(
        f"ln(CAST(coalesce(g.n, 0) + 1 AS DOUBLE)"
        f" / CAST((SELECT sum(cnt) FROM tgtf) + {B} AS DOUBLE))"
    )
    ln_r = _r9(
        f"ln(CAST(coalesce(g.n, 0) + 1 AS DOUBLE)"
        f" / CAST((SELECT sum(cnt) FROM rawf) + {B} AS DOUBLE))"
    )
    return f"""
    {_DSIR_TERMS_CTE},
    rawf AS (SELECT doc_id, {md5b} AS bucket, count(*) AS cnt
             FROM dterm GROUP BY doc_id, bucket),
    tgtf AS (SELECT doc_id, bucket, cnt FROM rawf WHERE {_DSIR_TGT_FILTER}),
    {logp.format(p='tgt', f='tgtf', lnq=ln_t)},
    {logp.format(p='raw', f='rawf', lnq=ln_r)},
    lam AS (SELECT t.bucket, t.logp - r.logp AS lam
            FROM tgtp t JOIN rawp r ON r.bucket = t.bucket),
    dscore AS (
      SELECT f.doc_id, sum(f.cnt) AS n_feats, sum(f.cnt * l.lam) AS logw
      FROM rawf f JOIN lam l ON l.bucket = f.bucket
      GROUP BY f.doc_id),
    dw AS (
      SELECT d.doc_id,
             CAST(coalesce(s.n_feats, 0) AS BIGINT) AS n_feats,
             coalesce(s.logw, 0.0) AS logw
      FROM documents d LEFT JOIN dscore s ON s.doc_id = d.doc_id)
"""


@register(
    "docs_dsir_weights",
    f"""
    WITH {_dsir_ctes()}
    SELECT doc_id, n_feats, {_r9('logw')} AS logw FROM dw
    """,
    "DSIR importance weights (Xie et al., 'Data Selection for "
    "Language Models via Importance Resampling', NeurIPS 2023): "
    "hashed unigram+bigram bag features (md5 buckets), add-1-smoothed "
    "target (lang='en') and raw multinomials, per-doc "
    "log w = Σ c_b·(log p_t[b] − log p_r[b]). ln is 9-dp-quantized "
    "per bucket so the λ table is bit-identical across engines. One "
    "corpus shuffle for features; the λ table is ≤n_buckets rows and "
    "broadcast; scoring is one partial-agg'd groupBy.",
)
def q_docs_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    target = docs.filter(F.col("lang") == "en")
    out = DS.dsir_logweights(docs, target)
    return out.select("doc_id", "n_feats", round9(F.col("logw")).alias("logw"))


_DSIR_GUMBEL_SQL = _r9(
    "-ln(-ln(("
    + _MD5_INT32_SQL.format(col=f"CAST(doc_id AS VARCHAR) || ':{DS.DSIR_SALT}'")
    + " + 0.5) / 4294967296.0))"
)


@register(
    "docs_dsir_sample",
    f"""
    WITH {_dsir_ctes()},
    keyed AS (
      SELECT doc_id, {_r9('logw')} AS logw,
             {_r9(f"{_r9('logw')} + {_DSIR_GUMBEL_SQL}")} AS sel_key
      FROM dw)
    SELECT doc_id, logw, sel_key, rk FROM (
      SELECT doc_id, logw, sel_key,
             row_number() OVER (ORDER BY sel_key DESC, doc_id) AS rk
      FROM keyed)
    WHERE rk <= {DSIR_SAMPLE_K}
    """,
    f"DSIR selection: resample {DSIR_SAMPLE_K} docs WITHOUT "
    "replacement with probability ∝ the importance weight, via the "
    "Gumbel top-k trick (Vieira 2014) — keep the k docs maximizing "
    "log w(d) + Gumbel(d), with the Gumbel draw derandomized through "
    "the corpus-standard md5 uniform (portable, replay-stable, "
    "SQL-replayable). Selection is orderBy+limit → "
    "TakeOrderedAndProject: per-partition top-k, never a global sort.",
)
def q_docs_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    target = docs.filter(F.col("lang") == "en")
    return DS.dsir_sample(docs, target, DSIR_SAMPLE_K)


MIX_ALPHA = 0.3


@register(
    "docs_domain_mix_temp",
    f"""
    SELECT source, n_docs, n_tokens,
           {_r9('p')} AS token_share,
           {_r9('pa / sum(pa) OVER ()')} AS mix_weight,
           {_r9('pa / sum(pa) OVER () / p')} AS sample_factor
    FROM (SELECT source, n_docs, n_tokens, p, {_r9(f'pow(p, {MIX_ALPHA})')} AS pa
          FROM (SELECT source, count(*) AS n_docs,
                       CAST(sum(len({_TOKS})) AS BIGINT) AS n_tokens,
                       CAST(sum(len({_TOKS})) AS DOUBLE)
                         / CAST(sum(sum(len({_TOKS}))) OVER () AS DOUBLE) AS p
                FROM documents GROUP BY source))
    """,
    f"Temperature-scaled domain mixture (α = {MIX_ALPHA}; the "
    "multilingual-LM sampling recipe of Conneau & Lample, NeurIPS "
    "2019 — mBERT/XLM-R/mT5's α-sampling): q_i = p_i^α / Σ p_j^α "
    "flattens the natural token shares toward uniform, up-sampling "
    "low-resource domains; emits the mixture weight and the "
    "up/down-sampling factor q/p an epoch planner consumes. pow is "
    "9-dp-quantized before normalization. Runs entirely on the "
    "|domains|-row aggregate.",
)
def q_docs_domain_mix_temp(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    return P.domain_mix_temperature(docs, alpha=MIX_ALPHA)


LEAK_SPLIT_SALT = "leak-split-v1"
_LEAK_BUCKET_SQL = (
    _MD5_INT32_SQL.format(col=f"CAST(split_key AS VARCHAR) || ':{LEAK_SPLIT_SALT}'")
    + f" % {P.BUCKETS}"
)


@register(
    "docs_leakage_split",
    _components_sql(
        f"""
    SELECT doc_id, split_key,
           CASE WHEN {_LEAK_BUCKET_SQL} < 9000 THEN 'train'
                WHEN {_LEAK_BUCKET_SQL} < 9500 THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS split_key
          FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id)
    """
    ),
    "Leakage-safe train/val/test split: the split is decided by the "
    "near-dup CLUSTER (MinHash-LSH pairs → connected components → "
    "canonical minimum id), not the document — every member of a "
    "cluster lands in the same split, so near-duplicates of eval "
    "data cannot leak into train (the eval-integrity rule of Lee et "
    "al. ACL 2022 §6; a plain per-doc hash split violates it whenever "
    "a cluster straddles the boundary). Components are duplicate-"
    "density-sized and broadcast; the corpus pays one broadcast left "
    "join + a per-row hash.",
)
def q_docs_leakage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    pairs = D.minhash_lsh_pairs(docs, MINHASH_EST_THRESHOLD)
    comp = C.connected_components(pairs)
    out = P.leakage_safe_split(
        docs,
        comp,
        {"train": 0.90, "val": 0.05, "test": 0.05},
        salt=LEAK_SPLIT_SALT,
    )
    return out.select("doc_id", "split_key", "split")


@register(
    "emb_ann_ivfpq",
    f"""
    WITH {_IVF_ANN_CTES},
    {_PQ_ANN_CTES},
    xadc AS (
      SELECT ic.qid, ic.vec_id, sum(l.pd) AS adc
      FROM ivfcand ic
      JOIN pqcode c ON c.vec_id = ic.vec_id
      JOIN pqlut l ON l.qid = ic.qid AND l.m = c.m AND l.label = c.code
      GROUP BY ic.qid, ic.vec_id),
    xshort AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY {_r9('adc')} DESC, vec_id) AS rn
        FROM xadc) WHERE rn <= {S.PQ_RETRIEVE}),
    {_rerank_cte('xshort', 'xann')}
    SELECT qid, vec_id, score, rk FROM xann WHERE rk <= {TOPK_K}
    """,
    "IVFADC — the combined IVF + PQ index (Jégou et al. TPAMI 2011 "
    "§V; FAISS IndexIVFPQ, the billion-vector architecture): IVF "
    "restricts search to the query's probed cells, PQ-ADC scores only "
    "those candidates from the 32×-compressed codes, exact cosine "
    "re-ranks the shortlist. IVF-Flat reads full vectors per probed "
    "cell; PQ alone scans every code; IVFPQ cuts both axes — "
    f"~{IVF_NPROBE}/16 of the corpus touched, as codes. Two map-only "
    "index passes, broadcast probe join, broadcast shortlist fetch; "
    "the corpus never shuffles. Label-seeded cells and codebooks keep "
    "the oracle exact; Lloyd-trained ones are the drop-in default.",
)
def q_emb_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb, queries = _ann_queries(spark, sf_dir)
    return S.ann_topk_ivfpq(
        emb,
        queries,
        centroids=S.label_centroids(emb),
        codebooks=S.pq_codebooks(emb),
        nprobe=IVF_NPROBE,
        k=TOPK_K,
    ).select("qid", "vec_id", "score", "rk")


@register(
    "emb_hard_negatives",
    f"""
    WITH hn AS (
      SELECT qid, vec_id,
             sum(CAST(ev[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)) AS dot,
             sqrt(sum(CAST(ev[i] AS DOUBLE) * CAST(ev[i] AS DOUBLE))) AS n_a,
             sqrt(sum(CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))) AS n_b
      FROM (SELECT q.qid, e.vec_id, e.embedding AS ev, q.qv
            FROM embeddings e,
                 (SELECT vec_id AS qid, embedding AS qv, label AS qlabel
                  FROM embeddings WHERE vec_id < {TOPK_QUERIES}) q
            WHERE e.vec_id <> q.qid AND e.label <> q.qlabel),
           LATERAL (SELECT unnest(range(1, len(ev) + 1)) AS i)
      GROUP BY qid, vec_id),
    ranked AS (
      SELECT qid, vec_id, {_r9('dot / (n_a * n_b)')} AS score,
             row_number() OVER (PARTITION BY qid
                                ORDER BY {_r9('dot / (n_a * n_b)')} DESC, vec_id) AS rk
      FROM hn)
    SELECT qid, vec_id, score, rk FROM ranked WHERE rk <= {TOPK_K}
    """,
    "Hard-negative mining for contrastive training (DPR, Karpukhin "
    "et al. EMNLP 2020 §3.2): per query, the top-k most-similar "
    "vectors with a DIFFERENT label — the near-boundary non-matches "
    "a contrastive loss learns the most from (random negatives are "
    "cosine-distant and contribute ~zero gradient). Same exact "
    "one-pass scan as emb_cosine_topk with the label mask applied "
    "inside the batch-local prune; at mining scale the mask drops "
    "into the ANN shortlist instead.",
)
def q_emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = Catalog(spark, sf_dir).table("embeddings")
    queries = emb.filter(F.col("vec_id") < TOPK_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("qlabel"),
    )
    return S.hard_negative_topk(emb, queries, k=TOPK_K).select(
        "qid", "vec_id", "score", "rk"
    )


SEGMENT_W = 4


@register(
    "docs_segment_dedup",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    segd AS (
      SELECT doc_id, CAST(s / {SEGMENT_W} AS INT) AS seg_idx,
             array_to_string(t[s + 1 : s + {SEGMENT_W}], ' ') AS seg
      FROM toks, LATERAL unnest(range(0, len(t), {SEGMENT_W})) AS u(s)
      WHERE len(t) > 0),
    flag AS (
      SELECT doc_id, seg_idx, seg,
             row_number() OVER (PARTITION BY md5(seg)
                                ORDER BY doc_id, seg_idx) = 1 AS keep
      FROM segd),
    agg AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_segs,
             CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
             coalesce(string_agg(CASE WHEN keep THEN seg END, ' '
                                 ORDER BY seg_idx), '') AS clean_text
      FROM flag GROUP BY doc_id)
    SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text,
           coalesce(a.n_segs, 0) AS n_segs,
           coalesce(a.n_removed, 0) AS n_removed
    FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
    """,
    f"CCNet-style paragraph dedup (Wenzek et al. LREC 2020 §3.1): cut "
    f"each doc into aligned {SEGMENT_W}-token units, hash-count them "
    "corpus-wide, and drop every occurrence except the global first "
    "(min doc, position) — the boilerplate-removal pass that runs "
    "before MinHash in a production crawl pipeline. One unit-hash "
    "window shuffle + one doc-keyed reassembly groupBy; no UDFs.",
)
def q_docs_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    return D.segment_dedup(docs, seg_tokens=SEGMENT_W)


INCR_CORPUS_SPLIT = 400  # doc_id < split = the indexed corpus; rest = incoming


@register(
    "docs_incremental_dedup",
    f"""
    WITH {_minhash_ctes()},
    cand AS (SELECT DISTINCT b.doc_id AS new_id, a.doc_id AS old_id
             FROM bands a JOIN bands b
               ON a.band = b.band AND a.bh = b.bh
              AND a.doc_id < {INCR_CORPUS_SPLIT}
              AND b.doc_id >= {INCR_CORPUS_SPLIT}),
    ver AS (SELECT new_id, old_id,
                   ({_minhash_agree_sql()}) / {float(D.MINHASH_PERMS)} AS est_sim
            FROM cand
            JOIN sig sa ON cand.old_id = sa.doc_id
            JOIN sig sb ON cand.new_id = sb.doc_id),
    best AS (SELECT new_id, old_id, est_sim FROM (
               SELECT new_id, old_id, est_sim,
                      row_number() OVER (PARTITION BY new_id
                                         ORDER BY est_sim DESC, old_id) AS rk
               FROM ver WHERE est_sim >= {MINHASH_EST_THRESHOLD})
             WHERE rk = 1)
    SELECT d.doc_id, b.old_id AS match_doc_id, b.est_sim,
           b.old_id IS NULL AS is_novel
    FROM documents d LEFT JOIN best b ON d.doc_id = b.new_id
    WHERE d.doc_id >= {INCR_CORPUS_SPLIT}
    """,
    "Incremental dedup against a PREBUILT MinHash index "
    f"(corpus = doc_id < {INCR_CORPUS_SPLIT}, incoming = the rest): "
    "the new batch's band hashes equi-join the persisted bucket "
    "table, candidates verify against fetched corpus signatures, and "
    "each incoming doc reports its best match or is_novel — the "
    "don't-re-ingest gate of a continuously fed crawl pipeline. "
    "Corpus text is never rescanned; with the index bucketed by bh "
    "the probe join is shuffle-free on the index side.",
)
def q_docs_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    corpus = docs.filter(F.col("doc_id") < INCR_CORPUS_SPLIT)
    incoming = docs.filter(F.col("doc_id") >= INCR_CORPUS_SPLIT)
    buckets, sigs = D.minhash_index(corpus)
    return D.minhash_novelty(
        incoming, buckets, sigs, threshold=MINHASH_EST_THRESHOLD
    )


@register(
    "stream_docs_novelty",
    REGISTRY["docs_incremental_dedup"].oracle,
    "Streaming twin of docs_incremental_dedup — the online "
    "don't-re-ingest gate: the MinHash index (bucket + signature "
    "tables) is built ONCE from the corpus and persisted; each "
    "micro-batch of incoming docs signs itself, probes the cached "
    "index buckets, verifies candidates, and appends its "
    "novel/matched verdicts to an idempotent parquet sink. Per-batch "
    "state is bounded by the batch (signatures) plus the shared "
    "index; nothing corpus-sized recomputes per trigger.",
)
def q_stream_docs_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from realtime0523_spark.streaming.cells import drain_partials
    from realtime0523_spark.streaming.sinks import detach_and_cleanup
    from realtime0523_spark.streaming.sources import stream_table

    docs = Catalog(spark, sf_dir).table("documents")
    corpus = docs.filter(F.col("doc_id") < INCR_CORPUS_SPLIT)
    buckets, sigs = D.minhash_index(corpus)
    buckets, sigs = buckets.persist(), sigs.persist()
    stream = stream_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") >= INCR_CORPUS_SPLIT
    )
    out_dir = tempfile.mkdtemp(prefix="stream_novelty_")

    def probe(batch_df: DataFrame) -> DataFrame:
        return D.minhash_novelty(
            batch_df, buckets, sigs, threshold=MINHASH_EST_THRESHOLD
        ).select("doc_id", "match_doc_id", "est_sim", "is_novel")

    try:
        return detach_and_cleanup(drain_partials(stream, probe, out_dir), out_dir)
    finally:
        buckets.unpersist()
        sigs.unpersist()


DRIFT_SPLIT = 250  # doc_id < split = snapshot A; rest = snapshot B


def _drift_sql() -> str:
    B = DS.DSIR_BUCKETS
    md5b = _MD5_INT32_SQL.format(col="term") + f" % {B}"
    pa = f"(CAST(coalesce(n_a, 0) + 1 AS DOUBLE) / CAST(coalesce(t_a, 0) + {B} AS DOUBLE))"
    pb = f"(CAST(coalesce(n_b, 0) + 1 AS DOUBLE) / CAST(coalesce(t_b, 0) + {B} AS DOUBLE))"
    lna, lnb = _r9(f"ln({pa})"), _r9(f"ln({pb})")
    return f"""
    WITH dterm2 AS (
      SELECT doc_id, source,
             unnest(list_concat(
               t, list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
             )) AS term
      FROM (SELECT doc_id, source, {_TOKS} AS t FROM documents)),
    csa AS (SELECT source AS domain, {md5b} AS bucket, count(*) AS n_a
            FROM dterm2 WHERE doc_id < {DRIFT_SPLIT} GROUP BY 1, 2),
    csb AS (SELECT source AS domain, {md5b} AS bucket, count(*) AS n_b
            FROM dterm2 WHERE doc_id >= {DRIFT_SPLIT} GROUP BY 1, 2),
    ta AS (SELECT domain, sum(n_a) AS t_a FROM csa GROUP BY domain),
    tb AS (SELECT domain, sum(n_b) AS t_b FROM csb GROUP BY domain),
    grid AS (SELECT domain, bucket
             FROM (SELECT domain FROM ta UNION SELECT domain FROM tb)
             CROSS JOIN range(0, {B}) r(bucket)),
    g AS (SELECT gr.domain,
                 coalesce(a.n_a, 0) AS n_a, coalesce(b.n_b, 0) AS n_b,
                 coalesce(ta.t_a, 0) AS t_a, coalesce(tb.t_b, 0) AS t_b
          FROM grid gr
          LEFT JOIN csa a ON a.domain = gr.domain AND a.bucket = gr.bucket
          LEFT JOIN csb b ON b.domain = gr.domain AND b.bucket = gr.bucket
          LEFT JOIN ta ON ta.domain = gr.domain
          LEFT JOIN tb ON tb.domain = gr.domain)
    SELECT domain,
           CAST(max(t_a) AS BIGINT) AS n_terms_a,
           CAST(max(t_b) AS BIGINT) AS n_terms_b,
           {_r9(f'sum({pa} * ({lna} - {lnb}))')} AS kl_ab,
           {_r9(f'sum({pb} * ({lnb} - {lna}))')} AS kl_ba
    FROM g GROUP BY domain
    """


@register(
    "docs_domain_drift",
    _drift_sql(),
    "Corpus drift monitor: per-domain KL divergence (both directions) "
    "between two snapshots' add-1-smoothed hashed unigram+bigram "
    "bucket multinomials — the alarm signal a continuously fed "
    "pipeline watches for template changes or spam influx per "
    "domain, with no vocabulary storage (two fixed-width count "
    "vectors per domain). One token explode + partial-agg'd groupBy "
    "per snapshot; everything downstream is |domains|×buckets "
    "meta-sized (the grid comes from a sequence explode, not a "
    "cartesian).",
)
def q_docs_domain_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    return P.corpus_drift(
        docs.filter(F.col("doc_id") < DRIFT_SPLIT),
        docs.filter(F.col("doc_id") >= DRIFT_SPLIT),
    )


@register(
    "emb_ann_rp",
    f"""
    WITH {_RP_ANN_CTES}
    SELECT qid, vec_id, score, rk FROM rpann WHERE rk <= {TOPK_K}
    """,
    f"Random-projection ANN (Achlioptas' ±1 JL sketch, derandomized "
    f"through the corpus-standard md5): project to {S.RP_DIMS} sign "
    f"sums ({EMB_DIMS // S.RP_DIMS}× fewer bytes scanned), shortlist "
    "by sketch cosine with the exact batch-local-prune scan, re-rank "
    "by full-precision cosine. The only index with ZERO training "
    "state — the projection is a pure function of (dim, output), so "
    "it never goes stale as the corpus grows.",
)
def q_emb_ann_rp(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb, queries = _ann_queries(spark, sf_dir)
    return S.ann_topk_rp(
        emb, queries, in_dims=EMB_DIMS, k=TOPK_K
    ).select("qid", "vec_id", "score", "rk")


@register(
    "emb_rp_sketch",
    f"""
    WITH {_RP_CTES}
    SELECT vec_id, j, {_r9('y')} AS y FROM rpc
    """,
    f"The JL sketch ARTIFACT: every vector's {S.RP_DIMS} sign-sum "
    "coordinates (9-dp-quantized for the cross-engine compare). One "
    "Arrow matmul pass, map-only, no shuffle — the narrow table LSH "
    "bucketing or k-means training reads instead of full vectors.",
)
def q_emb_rp_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = Catalog(spark, sf_dir).table("embeddings")
    proj = S.rp_project(emb, in_dims=EMB_DIMS)
    return proj.select(
        "vec_id", F.posexplode("rp").alias("j", "y0")
    ).select("vec_id", "j", round9(F.col("y0")).alias("y"))


@register(
    "stream_domain_drift",
    REGISTRY["docs_domain_drift"].oracle,
    "Streaming twin of docs_domain_drift — the ONLINE drift monitor: "
    "each micro-batch of the incoming snapshot folds its hashed-ngram "
    "(domain, bucket) profile into an idempotent sink (profiles are "
    "ADDITIVE, so accumulation is a sum — no global state store "
    "needed), and the drained totals feed the same KL core against "
    "the reference snapshot's cached profile. Per-batch work is "
    "batch-sized; the reference profile is computed once.",
)
def q_stream_domain_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from realtime0523_spark.streaming.cells import drain_partials, sum_fold
    from realtime0523_spark.streaming.sinks import detach_and_cleanup
    from realtime0523_spark.streaming.sources import stream_table

    docs = Catalog(spark, sf_dir).table("documents")
    ref_counts = P.domain_bucket_counts(
        docs.filter(F.col("doc_id") < DRIFT_SPLIT)
    ).persist()
    stream = stream_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") >= DRIFT_SPLIT
    )
    work = tempfile.mkdtemp(prefix="stream_drift_")
    try:
        incoming = drain_partials(
            stream,
            P.domain_bucket_counts,
            f"{work}/partials",
            fold=sum_fold(["domain", "bucket"], ["cnt"]),
        )
        return detach_and_cleanup(P.drift_from_counts(ref_counts, incoming), work)
    finally:
        ref_counts.unpersist()


@register(
    "docs_snapshot_diff",
    """
    WITH snapa AS (SELECT doc_id, md5(text) AS fp FROM documents),
    snapb AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN md5(text || ' v2')
                  ELSE md5(text) END AS fp
      FROM documents WHERE doc_id % 11 <> 0
      UNION ALL
      SELECT doc_id + 10000 AS doc_id,
             md5('new doc ' || CAST(doc_id AS VARCHAR)) AS fp
      FROM documents WHERE doc_id % 13 = 0)
    SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
           CASE WHEN a.fp IS NULL THEN 'added'
                WHEN b.fp IS NULL THEN 'removed'
                WHEN a.fp = b.fp THEN 'unchanged'
                ELSE 'changed' END AS status,
           a.fp AS fp_a, b.fp AS fp_b
    FROM snapa a FULL OUTER JOIN snapb b ON b.doc_id = a.doc_id
    """,
    "Snapshot delta audit: per-doc added/removed/changed/unchanged "
    "between two corpus snapshots by content fingerprint — the "
    "incremental-processing primitive of a re-crawled corpus "
    "(process added+changed, tombstone removed, skip the unchanged "
    "bulk). One full-outer equi-join; bucketed-by-id snapshots make "
    "it co-located and shuffle-free at rest. The second snapshot is "
    "synthesized in-query (mod-7 edits, mod-11 deletions, mod-13 "
    "additions) so the delta is deterministic and oracle-exact.",
)
def q_docs_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    snap_a = docs.select("doc_id", F.md5("text").alias("fp"))
    edited = docs.filter(F.col("doc_id") % 11 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0, F.md5(F.concat(F.col("text"), F.lit(" v2")))
        )
        .otherwise(F.md5("text"))
        .alias("fp"),
    )
    added = docs.filter(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.md5(
            F.concat(F.lit("new doc "), F.col("doc_id").cast("string"))
        ).alias("fp"),
    )
    return P.snapshot_diff(snap_a, edited.unionAll(added))


FUNNEL_STAGES = ["view", "click", "purchase"]


@register(
    "event_funnel",
    """
    WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
                WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (SELECT e.user_id, min(e.ts) AS t2
           FROM events e JOIN s1 ON s1.user_id = e.user_id
           WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, min(e.ts) AS t3
           FROM events e JOIN s2 ON s2.user_id = e.user_id
           WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id)
    SELECT 1 AS stage_idx, 'view' AS stage,
           CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_users
    UNION ALL
    SELECT 2, 'click', CAST((SELECT count(*) FROM s2) AS BIGINT)
    UNION ALL
    SELECT 3, 'purchase', CAST((SELECT count(*) FROM s3) AS BIGINT)
    """,
    "Ordered funnel analysis (view → click → purchase, strictly "
    "increasing event time): stage k's users are those whose "
    "earliest stage-k event follows their earliest qualifying "
    "stage-(k-1) event — the product-analytics staple. Decorrelated "
    "into one user-keyed min-aggregate per stage chained by join "
    "(every shuffle on the same user key — co-partitioned "
    "end-to-end); no per-user sort, no window over the full stream.",
)
def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = Catalog(spark, sf_dir).table("events")
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )

    def stage(idx: int, name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(idx).alias("stage_idx"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).cast("long").alias("n_users"),
        )

    return (
        stage(1, "view", s1)
        .unionAll(stage(2, "click", s2))
        .unionAll(stage(3, "purchase", s3))
    )


@register(
    "stream_event_funnel",
    REGISTRY["event_funnel"].oracle,
    "Streaming twin of event_funnel — the CROSS-BATCH funnel: per-"
    "user stage times under applyInPandasWithState with an event-"
    "time buffer for out-of-order arrivals (a view arriving LATER "
    "with an EARLIER timestamp retroactively qualifies a buffered "
    "click — a forward-only stage machine gets this wrong). State "
    "per user is bounded by the watermark: stage 1 is a running "
    "min, each later stage keeps one scalar plus only the events "
    "inside the out-of-orderness horizon (events ≤ min(watermark, "
    "previous-stage time) are provably dead and dropped). Stage "
    "times are non-increasing across emissions, so the drained "
    "update stream reduces by per-user min, then counts per stage.",
)
def q_stream_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime0523_spark.streaming.funnel import (
        funnel_report,
        streaming_funnel_stages,
    )
    from realtime0523_spark.streaming.runner import run_to_memory
    from realtime0523_spark.streaming.sources import stream_table

    per_user = run_to_memory(
        streaming_funnel_stages(
            stream_table(spark, sf_dir, "events"),
            "user_id",
            "event_type",
            "ts",
            stages=FUNNEL_STAGES,
        ),
        output_mode="update",
    )
    return funnel_report(per_user, FUNNEL_STAGES)


FUNNEL_GAP_S = 24 * 3600  # 24 h conversion window per stage
_FUNNEL_GAP_US = FUNNEL_GAP_S * 1_000_000

_FUNNEL_WINDOWED_SQL = f"""
    WITH s1 AS (SELECT user_id, min(epoch_us(ts)) AS t1 FROM events
                WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t2
           FROM events e JOIN s1 ON s1.user_id = e.user_id
           WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.t1
             AND epoch_us(e.ts) <= s1.t1 + {_FUNNEL_GAP_US}
           GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t3
           FROM events e JOIN s2 ON s2.user_id = e.user_id
           WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t2
             AND epoch_us(e.ts) <= s2.t2 + {_FUNNEL_GAP_US}
           GROUP BY e.user_id)
    SELECT 1 AS stage_idx, 'view' AS stage,
           CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_users
    UNION ALL
    SELECT 2, 'click', CAST((SELECT count(*) FROM s2) AS BIGINT)
    UNION ALL
    SELECT 3, 'purchase', CAST((SELECT count(*) FROM s3) AS BIGINT)
    """


@register(
    "event_funnel_windowed",
    _FUNNEL_WINDOWED_SQL,
    "Funnel with CONVERSION WINDOWS (the form product analytics "
    "actually ships): stage k counts only if its earliest qualifying "
    "event lands within 24 h of stage k-1's time — view→click→"
    "purchase chains slower than the window break the funnel. Same "
    "decorrelated shape as event_funnel (one user-keyed min-"
    "aggregate per stage, all shuffles on the user key), with the "
    "window as one extra integer-microsecond predicate; timestamps "
    "compare as exact unix_micros in both engines.",
)
def q_event_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = Catalog(spark, sf_dir).table("events").withColumn(
        "ts_us", F.unix_micros("ts")
    )
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(
            (F.col("ts_us") > F.col("t1"))
            & (F.col("ts_us") <= F.col("t1") + _FUNNEL_GAP_US)
        )
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(
            (F.col("ts_us") > F.col("t2"))
            & (F.col("ts_us") <= F.col("t2") + _FUNNEL_GAP_US)
        )
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t3"))
    )

    def stage(idx: int, name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(idx).alias("stage_idx"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).cast("long").alias("n_users"),
        )

    return (
        stage(1, "view", s1)
        .unionAll(stage(2, "click", s2))
        .unionAll(stage(3, "purchase", s3))
    )


@register(
    "stream_event_funnel_windowed",
    _FUNNEL_WINDOWED_SQL,
    "Streaming twin of event_funnel_windowed: the conversion window "
    "breaks the plain funnel's monotonicity (a later-arriving "
    "EARLIER view slides the window left and can DISQUALIFY a "
    "previously-counted click), so the per-user state keeps every "
    "stage-k event still able to qualify under any future anchor — "
    "provably inside (min(watermark, t1), t1 + (k-1)·gap], bounded "
    "by the out-of-orderness horizon plus the window — and "
    "re-derives the stage times at every emission. Emissions carry "
    "a per-user sequence number; the drained update stream reduces "
    "by LAST emission (min-reduce is unsound here), then counts.",
)
def q_stream_event_funnel_windowed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from realtime0523_spark.streaming.funnel import (
        funnel_report,
        streaming_funnel_stages,
    )
    from realtime0523_spark.streaming.runner import run_to_memory
    from realtime0523_spark.streaming.sources import stream_table

    per_user = run_to_memory(
        streaming_funnel_stages(
            stream_table(spark, sf_dir, "events"),
            "user_id",
            "event_type",
            "ts",
            stages=FUNNEL_STAGES,
            max_gap_s=FUNNEL_GAP_S,
        ),
        output_mode="update",
    )
    return funnel_report(per_user, FUNNEL_STAGES)


ATTRIB_WINDOW_S = 7 * 24 * 3600
_ATTRIB_WINDOW_US = ATTRIB_WINDOW_S * 1_000_000


@register(
    "purchase_attribution",
    f"""
    WITH ap AS (SELECT user_id, event_id AS conv_id, epoch_us(ts) AS cts,
                       CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
                FROM events WHERE event_type = 'purchase'),
    at_ AS (SELECT user_id, event_id AS touch_id, epoch_us(ts) AS tts
            FROM events WHERE event_type = 'click'),
    aj AS (SELECT ap.conv_id, at_.touch_id, ap.cents, at_.tts,
                  count(*) OVER (PARTITION BY ap.conv_id) AS n,
                  row_number() OVER (PARTITION BY ap.conv_id
                                     ORDER BY at_.tts DESC,
                                              at_.touch_id DESC) AS rn
           FROM ap JOIN at_ ON at_.user_id = ap.user_id
           WHERE at_.tts <= ap.cts
             AND at_.tts > ap.cts - {_ATTRIB_WINDOW_US})
    SELECT conv_id, touch_id, CAST(n AS BIGINT) AS n_touches,
           CAST(CASE WHEN rn = 1 THEN cents // n + cents % n
                     ELSE cents // n END AS BIGINT) AS credit_cents
    FROM aj
    """,
    "Linear multi-touch attribution (the marketing-warehouse "
    "staple): each purchase's revenue splits equally across the "
    "user's clicks in the 7-day lookback window, in INTEGER CENTS "
    "with the F1 allocation operator's exact-sum discipline — every "
    "touch gets cents div n and the last touch (latest ts, then "
    "largest id — a deterministic total order) takes the remainder, "
    "so per conversion the credits sum to the purchase value "
    "EXACTLY, no float drift for money. One user-keyed equi-join "
    "with the window as a band predicate (fan-out bounded by touch "
    "rate × window) + one window over the conversion id.",
)
def q_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime0523_spark.operators.allocation import attribute_linear

    ev = Catalog(spark, sf_dir).table("events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    conversions = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("conv_id"),
        F.unix_micros("ts").alias("conv_ts_us"),
        cents.alias("value_cents"),
    )
    touches = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("touch_id"),
        F.unix_micros("ts").alias("touch_ts_us"),
    )
    return attribute_linear(
        conversions, touches, "user_id", _ATTRIB_WINDOW_US
    )


@register(
    "stream_purchase_attribution",
    REGISTRY["purchase_attribution"].oracle,
    "Streaming twin of purchase_attribution — the ONLINE credit "
    "tier: each micro-batch of purchases equi-joins the user-keyed "
    "click table (the at-rest touch index; bucketed by user it "
    "serves probes shuffle-free) with the lookback band predicate, "
    "assigns the same exact-sum integer-cent credits, and lands "
    "them in the idempotent parquet sink. Per-batch work is "
    "batch-sized; credits for a purchase are final the moment its "
    "batch commits (clicks precede their purchase by definition of "
    "the lookback, so a purchase's touch set never changes after "
    "its event time passes the watermark).",
)
def q_stream_purchase_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import tempfile

    from realtime0523_spark.operators.allocation import attribute_linear
    from realtime0523_spark.streaming.cells import drain_partials
    from realtime0523_spark.streaming.sinks import detach_and_cleanup
    from realtime0523_spark.streaming.sources import stream_table

    ev = Catalog(spark, sf_dir).table("events")
    touches = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("touch_id"),
        F.unix_micros("ts").alias("touch_ts_us"),
    ).persist()
    stream = stream_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    out_dir = tempfile.mkdtemp(prefix="stream_attrib_")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")

    def credit(batch_df: DataFrame) -> DataFrame:
        conv = batch_df.select(
            "user_id",
            F.col("event_id").alias("conv_id"),
            F.unix_micros("ts").alias("conv_ts_us"),
            cents.alias("value_cents"),
        )
        return attribute_linear(
            conv, touches, "user_id", _ATTRIB_WINDOW_US
        ).select("conv_id", "touch_id", "n_touches", "credit_cents")

    try:
        return detach_and_cleanup(drain_partials(stream, credit, out_dir), out_dir)
    finally:
        touches.unpersist()


@register(
    "user_cohort_retention",
    """
    WITH firstw AS (
      SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
      FROM events GROUP BY user_id),
    activity AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS w
      FROM events),
    sizes AS (SELECT cohort_week, count(*) AS cohort_size
              FROM firstw GROUP BY cohort_week)
    SELECT f.cohort_week,
           CAST(date_diff('day', f.cohort_week, a.w) // 7 AS INT) AS week_offset,
           CAST(count(*) AS BIGINT) AS n_active,
           CAST(max(s.cohort_size) AS BIGINT) AS cohort_size,
           round(CAST(count(*) AS DOUBLE)
                 / CAST(max(s.cohort_size) AS DOUBLE), 9) AS retention
    FROM activity a
    JOIN firstw f ON f.user_id = a.user_id
    JOIN sizes s ON s.cohort_week = f.cohort_week
    GROUP BY f.cohort_week, CAST(date_diff('day', f.cohort_week, a.w) // 7 AS INT)
    """,
    "Weekly cohort retention (the classic warehouse triangle): users "
    "cohorted by the ISO week of their first event; each cell is the "
    "share of the cohort active `week_offset` weeks later. Two "
    "user-keyed partial-agg'd groupBys (first-seen, distinct "
    "activity weeks) + one |cohorts|-sized size join — no windows, "
    "no self-join over raw events.",
)
def q_user_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = Catalog(spark, sf_dir).table("events")
    firstw = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("w")
    ).distinct()
    sizes = firstw.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    return (
        activity.join(firstw, "user_id")
        .join(sizes, "cohort_week")
        .groupBy(
            "cohort_week",
            F.floor(
                F.datediff(F.col("w"), F.col("cohort_week")) / 7
            ).cast("int").alias("week_offset"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_active"),
            F.max("cohort_size").cast("long").alias("cohort_size"),
            F.round(
                F.count(F.lit(1)).cast("double")
                / F.max("cohort_size").cast("double"),
                9,
            ).alias("retention"),
        )
    )


_CURRICULUM_MD5 = _MD5_INT32_SQL.format(col="CAST(doc_id AS VARCHAR)")


@register(
    "docs_curriculum_order",
    f"""
    WITH q AS (
      SELECT doc_id,
             greatest(0.0, least(1.0,
               0.05 * (CAST(list_aggregate(list_transform(t, x -> length(x)),
                                           'sum') AS DOUBLE) / len(t))
               + CAST(len(regexp_extract_all(text, '{X.LANG_PATTERNS['en']}'))
                      AS DOUBLE) / len(t)
               - CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))
                      AS DOUBLE) / length(text))) AS quality_score
      FROM (SELECT doc_id, text, {_TOKS} AS t FROM documents)),
    p1 AS (
      SELECT doc_id, quality_score,
             row_number() OVER (ORDER BY quality_score DESC, doc_id) AS pos,
             count(*) OVER () AS n
      FROM q),
    d AS (SELECT doc_id, quality_score,
                 CAST((pos - 1) * 10 // n AS INT) AS decile
          FROM p1)
    SELECT doc_id, quality_score, decile,
           CAST(row_number() OVER (ORDER BY decile, {_CURRICULUM_MD5},
                                   doc_id) AS BIGINT) AS curriculum_pos
    FROM d
    """,
    "Curriculum training order (easy-to-hard scheduling, Bengio et "
    "al. ICML 2009): docs ranked by quality score into exact "
    "DECILES, then the stream walks deciles best-first with a "
    "deterministic md5 pseudo-shuffle inside each — so training "
    "starts on the cleanest tenth and ends on the noisiest. BOTH "
    "global ranks come from operators/layout.global_positions "
    "(sampled range exchange + offset arithmetic — composed twice, "
    "zero single-task sorts); the oracle replays them as "
    "row_number() windows.",
)
def q_docs_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime0523_spark.llm.dedup import md5_int32
    from realtime0523_spark.operators.layout import global_positions

    docs = Catalog(spark, sf_dir).table("documents")
    scored = docs.select(
        "doc_id", X.quality_features("text")["quality_score"].alias("quality_score")
    )
    n = scored.count()  # one scalar to the driver (the decile divisor)
    ranked = global_positions(
        scored,
        [F.col("quality_score").desc(), F.col("doc_id")],
        pos_col="__pos",
    ).select(
        "doc_id",
        "quality_score",
        F.expr(f"cast(((__pos - 1) * 10) div {n} as int)").alias("decile"),
    )
    return global_positions(
        ranked,
        [
            F.col("decile"),
            md5_int32(F.col("doc_id").cast("string")),
            F.col("doc_id"),
        ],
        pos_col="curriculum_pos",
    ).select("doc_id", "quality_score", "decile", "curriculum_pos")


@register(
    "lineitem_column_stats",
    """
    WITH s AS (
      SELECT count(*) AS n,
             sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS nn_q,
             count(DISTINCT l_quantity) AS nd_q,
             min(CAST(l_quantity AS DOUBLE)) AS mn_q,
             max(CAST(l_quantity AS DOUBLE)) AS mx_q,
             sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS nn_e,
             count(DISTINCT l_extendedprice) AS nd_e,
             min(CAST(l_extendedprice AS DOUBLE)) AS mn_e,
             max(CAST(l_extendedprice AS DOUBLE)) AS mx_e,
             sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS nn_d,
             count(DISTINCT l_discount) AS nd_d,
             min(CAST(l_discount AS DOUBLE)) AS mn_d,
             max(CAST(l_discount AS DOUBLE)) AS mx_d,
             sum(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END) AS nn_p,
             count(DISTINCT l_partkey) AS nd_p,
             min(CAST(l_partkey AS DOUBLE)) AS mn_p,
             max(CAST(l_partkey AS DOUBLE)) AS mx_p
      FROM lineitem)
    SELECT 'l_quantity' AS column_name, CAST(n AS BIGINT) AS n_rows,
           CAST(nn_q AS BIGINT) AS n_nulls, CAST(nd_q AS BIGINT) AS n_distinct,
           mn_q AS min_value, mx_q AS max_value FROM s
    UNION ALL
    SELECT 'l_extendedprice', CAST(n AS BIGINT), CAST(nn_e AS BIGINT),
           CAST(nd_e AS BIGINT), mn_e, mx_e FROM s
    UNION ALL
    SELECT 'l_discount', CAST(n AS BIGINT), CAST(nn_d AS BIGINT),
           CAST(nd_d AS BIGINT), mn_d, mx_d FROM s
    UNION ALL
    SELECT 'l_partkey', CAST(n AS BIGINT), CAST(nn_p AS BIGINT),
           CAST(nd_p AS BIGINT), mn_p, mx_p FROM s
    """,
    "Table-statistics profiler (the ANALYZE TABLE / Deequ-profile "
    "artifact a cost-based optimizer and a data catalog both feed "
    "on): per column, null count, EXACT distinct count, and min/max "
    "— one scan of the fact table: stack unpivots each row into "
    "(column, value) pairs map-side, then ONE grouped aggregate "
    "with a single distinct plans as a two-phase partial agg on "
    "(column, value) — shuffle volume is the per-partition distinct "
    "pair count, never the corpus, and there is no multi-distinct "
    "Expand (measured 1.4x faster than the Expand shape at sf0.1; "
    "swap in approx_count_distinct for the sketch path at 100 TB).",
)
def q_lineitem_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Catalog(spark, sf_dir).table("lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_partkey"]

    # ONE scan: unpivot FIRST (map-side stack — no extra pass, no
    # multi-distinct Expand), then a grouped agg whose single
    # countDistinct plans as a two-phase partial agg on (column, v)
    stack_args = ", ".join(f"'{c}', cast({c} as double)" for c in cols)
    long = li.select(
        F.expr(f"stack({len(cols)}, {stack_args}) as (column_name, v)")
    )
    return (
        long.groupBy("column_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.when(F.col("v").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_nulls"),
            F.countDistinct("v").cast("long").alias("n_distinct"),
            F.min("v").alias("min_value"),
            F.max("v").alias("max_value"),
        )
        .select(
            "column_name", "n_rows", "n_nulls", "n_distinct",
            "min_value", "max_value",
        )
    )


@register(
    "lineitem_equidepth_hist",
    """
    WITH vc AS (SELECT l_extendedprice AS v, count(*) AS cnt
                FROM lineitem GROUP BY 1),
    t AS (SELECT count(*) AS n FROM lineitem),
    c AS (SELECT v, cnt,
                 sum(cnt) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - cnt AS cum0
          FROM vc)
    SELECT CAST((c.cum0 * 16) // t.n AS INT) AS bucket,
           CAST(min(v) AS DOUBLE) AS lo,
           CAST(max(v) AS DOUBLE) AS hi,
           CAST(sum(cnt) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_distinct
    FROM c, t
    GROUP BY 1
    """,
    "EXACT 16-bucket equi-depth histogram of l_extendedprice — the "
    "value-distribution half of the profiler family (selectivity "
    "estimates for a CBO, drift floors for a quality monitor). The "
    "naive ntile(k) OVER (ORDER BY v) is a single-task global sort; "
    "here the corpus collapses to |NDV| value counts in one "
    "partial-agg'd pass, exact exclusive prefix sums run by sampled "
    "range exchange + broadcast per-partition offsets (the "
    "global_positions discipline generalized to weighted sums — no "
    "single-task stage), and bucket = (rows_before * k) div n in "
    "pure integer arithmetic so boundaries replay exactly in any "
    "engine. Value-atomic like Spark's ANALYZE equi-height "
    "histogram: a heavy hitter overfilling its bucket is surfaced "
    "skew, not error (operators/histogram.py).",
)
def q_lineitem_equidepth_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime0523_spark.operators.histogram import equidepth_histogram

    li = Catalog(spark, sf_dir).table("lineitem")
    return equidepth_histogram(li, F.col("l_extendedprice"))


@register(
    "docs_ppjoin_pairs",
    f"""
    WITH {_SHINGLES_CTE},
    cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
              FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT i.doc_a, i.doc_b,
           {_r9("CAST(i.i AS DOUBLE) / (ca.n + cb.n - i.i)")} AS jaccard
    FROM inter i
    JOIN cnt ca ON ca.doc_id = i.doc_a
    JOIN cnt cb ON cb.doc_id = i.doc_b
    WHERE 5 * i.i >= 4 * (ca.n + cb.n - i.i)
    """,
    "EXACT Jaccard>=0.8 similarity join over word-3-gram shingle "
    "sets — the same domain as docs_ngram_jaccard — via PPJoin "
    "prefix filtering (Xiao et al. WWW 2008): shingles ordered by "
    "ascending document frequency, only the first "
    "n - ceil(0.8n) + 1 per doc join as candidates (any qualifying "
    "pair MUST collide), plus the den*min>=num*max length filter and "
    "an integer cross-multiplied threshold (no float compares; the "
    "prefix length uses an integer ceiling — float 0.8n overshoots "
    "at n=10 and would silently shorten the prefix). The oracle is "
    "the brute-force all-pairs join, so the hash match IS the "
    "losslessness proof; this is the exact-answer scale path the "
    "quadratic ngram_jaccard_pairs baseline refuses — candidates "
    "concentrate on RARE shingles by construction "
    "(llm/dedup.py::ppjoin_pairs).",
)
def q_docs_ppjoin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    return D.ppjoin_pairs(docs, threshold_num=4, threshold_den=5)


KEYPHRASE_TOP_K = 3


@register(
    "docs_keyphrases",
    f"""
    WITH tf AS (
      SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)
      GROUP BY 1, 2),
    dfq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
            FROM tf GROUP BY tok),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    sc AS (
      SELECT tf.doc_id, tf.tok, tf.tf,
             round(CAST(tf.tf AS DOUBLE)
                   * round(ln((CAST(nn.n AS DOUBLE) + 1.0)
                              / (CAST(dfq.df AS DOUBLE) + 1.0)), 9),
                   9) AS score
      FROM tf JOIN dfq USING (tok) CROSS JOIN nn),
    r AS (SELECT doc_id, tok, tf, score,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY score DESC, tok) AS rk
          FROM sc)
    SELECT doc_id, CAST(rk AS BIGINT) AS rk, tok, tf, score
    FROM r WHERE rk <= {KEYPHRASE_TOP_K}
    """,
    f"Per-document TF-IDF keyphrases (top-{KEYPHRASE_TOP_K}) — the "
    "document-level feature extraction every corpus index, tagger, "
    "and dedup-explainer wants (sparse_search/BM25 answer queries; "
    "this labels each DOC with its most distinctive terms). The "
    "exploded token stream collapses to (doc, term, tf) in one "
    "partial-agg'd pass and checkpoint-materializes BEFORE its "
    "two-way reuse (df derives from it and rejoins it — the "
    "triangle lesson); the df re-attach is a plain equi-join of two "
    "pre-aggregated tables (AQE broadcasts when the vocab side is "
    "small). The doc count is a 1-row scalar collect — the BM25 "
    "legality class; a lazy 1-row join constant-folds to the banned "
    "nested loop. idf = ln((N+1)/(df+1)) is 9-dp-quantized BEFORE "
    "the multiply (the BM25 discipline) and the product re-rounded, "
    "so both engines rank identical quantized scores; ties break by "
    "token asc for a fully deterministic top-k. The per-doc window "
    "partitions on doc_id — millions of small partitions, no skew "
    "(llm/text.py tokenization contract, shared with top_tokens).",
)
def q_docs_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from realtime0523_spark.llm.clusters import _ckpt_tools

    docs = Catalog(spark, sf_dir).table("documents")
    ckpt, _release = _ckpt_tools(docs)
    tf, _ = ckpt(
        docs.select("doc_id", F.explode(X.tokens("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dfq = tf.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("df"))
    # 1-row scalar collect, exact integer — the BM25 legality class
    n_docs = int(docs.count())
    idf = F.round(
        F.log(
            (F.lit(float(n_docs)) + F.lit(1.0))
            / (F.col("df").cast("double") + F.lit(1.0))
        ),
        9,
    )
    sc = tf.join(dfq, "tok").select(
        "doc_id",
        "tok",
        "tf",
        F.round(F.col("tf").cast("double") * idf, 9).alias("score"),
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("score"), "tok")
    return (
        sc.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= KEYPHRASE_TOP_K)
        .select("doc_id", "rk", "tok", "tf", "score")
    )


def _minhash_eval_sql() -> str:
    truth = REGISTRY["docs_ngram_jaccard"].oracle
    pred = REGISTRY["docs_minhash_lsh"].oracle
    return f"""
    WITH ev_t AS (SELECT doc_a, doc_b FROM ({truth})),
    ev_p AS (SELECT doc_a, doc_b FROM ({pred})),
    ev_h AS (SELECT CAST(count(*) AS BIGINT) AS n_hit
             FROM ev_t JOIN ev_p USING (doc_a, doc_b)),
    ev_c AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM ev_t) AS n_truth,
                    (SELECT CAST(count(*) AS BIGINT) FROM ev_p) AS n_pred,
                    (SELECT n_hit FROM ev_h) AS n_hit)
    SELECT n_truth, n_pred, n_hit,
           round(CAST(n_hit AS DOUBLE)
                 / nullif(CAST(n_pred AS DOUBLE), 0.0), 9) AS precision,
           round(CAST(n_hit AS DOUBLE)
                 / nullif(CAST(n_truth AS DOUBLE), 0.0), 9) AS recall,
           round(2.0 * CAST(n_hit AS DOUBLE)
                 / nullif(CAST(n_pred + n_truth AS DOUBLE), 0.0), 9) AS f1
    FROM ev_c
    """


@register(
    "docs_minhash_eval",
    _minhash_eval_sql(),
    "Dedup-recall report: MinHash+LSH candidate pairs measured "
    "against the exact n-gram Jaccard ground truth — the honest-"
    "measurement harness the ANN family already has (emb_ann_recall) "
    "applied to the dedup family: precision, recall, and F1 of the "
    f"production path (est_sim >= {MINHASH_EST_THRESHOLD}) against "
    f"exact J >= {JACCARD_THRESHOLD} pairs, exact integer pair "
    "counts, 9-dp-rounded ratios. Pure composition of two already-"
    "oracle-checked queries; both pair sets checkpoint-materialize "
    "before the three-way count reuse (the triangle lesson) so the "
    "shingle/signature passes run once each. Inherits the exact "
    "baseline's quadratic-scale refusal guard — this is the FIXTURE-"
    "SCALE measurement that justifies trusting LSH alone at 100 TB "
    "(where only the LSH path runs).",
)
def q_docs_minhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from concurrent.futures import ThreadPoolExecutor

    from realtime0523_spark.llm.clusters import _ckpt_tools

    docs = Catalog(spark, sf_dir).table("documents")
    ckpt, _release = _ckpt_tools(docs)
    # Round-14 (VERDICT r13 item #8): both sides tokenized the corpus
    # independently (the truth side's shingle kernel, the LSH side's
    # fused tokenize+hash signature kernel). Shingle ONCE into a
    # checkpointed (doc_id, shs) table and feed it to both — the
    # truth side explodes it, the LSH side hashes it (guide §2.4:
    # one tokenization pass instead of two; identical rows/signatures
    # either way, pinned by the shared-shingles parity test).
    sh, _ = ckpt(D.shingle_arrays(docs))
    # the two pair pipelines are independent until the counts; their
    # eager checkpoint materializations overlap from a 2-thread pool
    # (guide §2.6 — the second pipeline's tasks back-fill executors
    # the first one's stage tails leave idle). Results are unchanged:
    # each side fully materializes before any count reads it.
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_truth = pool.submit(
            lambda: ckpt(
                D.ngram_jaccard_pairs(
                    docs, JACCARD_THRESHOLD, shingles=sh
                ).select("doc_a", "doc_b")
            )
        )
        f_pred = pool.submit(
            lambda: ckpt(
                D.minhash_lsh_pairs(
                    docs, MINHASH_EST_THRESHOLD, shingles=sh
                ).select("doc_a", "doc_b")
            )
        )
        truth, _ = f_truth.result()
        pred, _ = f_pred.result()
    n_truth = int(truth.count())
    n_pred = int(pred.count())
    n_hit = int(truth.join(pred, ["doc_a", "doc_b"]).count())

    def ratio(num, den):
        return float(num) / den if den else None

    row = [
        (
            n_truth,
            n_pred,
            n_hit,
            ratio(n_hit, n_pred),
            ratio(n_hit, n_truth),
            ratio(2 * n_hit, n_pred + n_truth),
        )
    ]
    out = spark.createDataFrame(
        row,
        "n_truth long, n_pred long, n_hit long, precision double, "
        "recall double, f1 double",
    )
    return out.select(
        "n_truth",
        "n_pred",
        "n_hit",
        F.round("precision", 9).alias("precision"),
        F.round("recall", 9).alias("recall"),
        F.round("f1", 9).alias("f1"),
    )


KN_DISCOUNT = 0.75


@register(
    "docs_kn_score",
    f"""
    WITH kntoks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    knpairs AS (
      SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
      FROM kntoks, LATERAL (SELECT unnest(range(1, len(t))) AS i)
      WHERE len(t) > 1),
    knc2 AS (SELECT w1, w2, count(*) AS n2 FROM knpairs GROUP BY 1, 2),
    knc1 AS (SELECT w1, count(*) AS n1,
                    count(DISTINCT w2) AS n1l FROM knpairs GROUP BY w1),
    knr AS (SELECT w2, count(DISTINCT w1) AS n1r FROM knpairs GROUP BY w2),
    knb AS (SELECT CAST(count(*) AS DOUBLE) AS b
            FROM (SELECT DISTINCT w1, w2 FROM knpairs))
    SELECT doc_id, count(*) AS n_bigrams,
           {_r9(f'avg(ln((n2 - {KN_DISCOUNT}) / n1'
                f' + ({KN_DISCOUNT} * n1l / n1) * (n1r / b)))')}
             AS avg_logp_kn
    FROM knpairs
    JOIN knc2 USING (w1, w2) JOIN knc1 USING (w1) JOIN knr USING (w2)
    CROSS JOIN knb
    GROUP BY doc_id
    """,
    "Interpolated Kneser-Ney bigram score per doc (Kneser & Ney "
    f"1995; D={KN_DISCOUNT} and the interpolated form per Chen & "
    "Goodman 1999) — the canonical LM smoothing beside the add-k "
    "scorer: absolute discounting plus CONTINUATION-count backoff "
    "(how many contexts a word follows), the estimator that stops "
    "'Francisco' free-riding on 'San Francisco'. The corpus-sized "
    "pair table checkpoint-materializes once for its FIVE uses "
    "(c2, c1+N1+(v.), N1+(.w), the distinct-bigram scalar, the "
    "scoring probe — the triangle lesson); all count tables are "
    "vocabulary-sized partial aggs; scoring the training corpus "
    "itself keeps c(v,w) >= 1 > D so the max clamp never binds; "
    "identical IEEE probability expression in both engines, doc "
    "mean 9-dp-quantized (llm/pipeline.py::kn_bigram_logprob).",
)
def q_docs_kn_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return P.kn_bigram_logprob(
        Catalog(spark, sf_dir).table("documents"), discount=KN_DISCOUNT
    )


@register(
    "stream_ann_index_append",
    f"""
    WITH {_IVF_ANN_CTES}
    SELECT qid, vec_id, score, rk FROM ivfann WHERE rk <= {TOPK_K}
    """,
    "Streaming incremental IVF index maintenance "
    "(streaming/ann_index.py): the embedding stream drains through "
    "per-batch appends — vector-log commit, |labels|×dims centroid "
    "partial-sum commit, live cell assignment under the "
    "centroids-as-of-batch — all idempotent by batchId (K5); then "
    "compact() folds the partials into the FINAL centroids (per-dim "
    "sum is distributive, so the streamed quantizer equals batch "
    "label_centroids exactly) and reassigns the log map-only. Serving "
    "runs the identical batch query path (ivf_query_cells) over the "
    "compacted index, so the drained result matches the emb_ann_ivf "
    "oracle — the drained-equals-batch contract that closes the loop "
    "between the ANN family and the ingest pipeline.",
)
def q_stream_ann_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from realtime0523_spark.streaming.ann_index import (
        streaming_ivf_index_append,
    )
    from realtime0523_spark.streaming.sinks import detach_and_cleanup
    from realtime0523_spark.streaming.sources import stream_table

    work = tempfile.mkdtemp(prefix="stream_ann_index_")
    idx = streaming_ivf_index_append(
        spark,
        stream_table(spark, sf_dir, "embeddings"),
        work_dir=work,
        checkpoint_dir=f"{work}/ckpt",
    )
    _, queries = _ann_queries(spark, sf_dir)
    out = idx.query(
        queries, nprobe=IVF_NPROBE, k=TOPK_K
    ).select("qid", "vec_id", "score", "rk")
    return detach_and_cleanup(out, work)


@register(
    "docs_quality_model_score",
    f"""
    WITH qmt AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
    qmk AS (SELECT doc_id,
                   (({_MD5_INT32_SQL.format(col='tok')} % {X.QUALITY_MODEL_DIM})
                    * {X.QUALITY_MODEL_MULT}) % {X.QUALITY_MODEL_MOD} AS k
            FROM qmt),
    qma AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                   CAST(sum(k) AS BIGINT) AS sk
            FROM qmk GROUP BY doc_id)
    SELECT doc_id, n_tokens,
           {_r9(f'1.0 / (1.0 + exp(-(8.0 * sk / (n_tokens * {float(X.QUALITY_MODEL_MOD)}) - 4.0)))')}
             AS model_score,
           2 * sk >= n_tokens * {X.QUALITY_MODEL_MOD} AS keep
    FROM qma
    """,
    "Model-based quality score per doc — the fastText-classifier slot "
    "of a CCNet/RedPajama/FineWeb-style pipeline (Wenzek et al. 2020; "
    "Joulin et al. 2017): sigmoid of the mean hashed-token weight, "
    "keep = score >= 0.5 decided as the EXACT integer comparison "
    "2·Σk >= n·mod (never a float threshold). Deterministic "
    "Knuth-lattice weights keep it SQL-replayable; a trained weight "
    "vector drops into the identical broadcast-table/closure shape. "
    "One explode into a per-doc partial agg — no vocabulary broadcast "
    "(the hashing trick's point), no corpus state "
    "(llm/text.py::model_quality_score).",
)
def q_docs_quality_model_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.model_quality_score(Catalog(spark, sf_dir).table("documents"))


@register(
    "stream_ann_ivfpq_append",
    f"""
    WITH {_IVF_ANN_CTES},
    {_PQ_ANN_CTES},
    sadc AS (
      SELECT ic.qid, ic.vec_id, sum(l.pd) AS adc
      FROM ivfcand ic
      JOIN pqcode c ON c.vec_id = ic.vec_id
      JOIN pqlut l ON l.qid = ic.qid AND l.m = c.m AND l.label = c.code
      GROUP BY ic.qid, ic.vec_id),
    sshort AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY {_r9('adc')} DESC, vec_id) AS rn
        FROM sadc) WHERE rn <= {S.PQ_RETRIEVE}),
    {_rerank_cte('sshort', 'sann')}
    SELECT qid, vec_id, score, rk FROM sann WHERE rk <= {TOPK_K}
    """,
    "Streaming IVFADC maintenance (streaming/ann_index.py): the "
    "embedding stream drains through per-batch vector-log appends, "
    "ONE (label, dim, sum, count) quantizer-partial family — sums "
    "give the IVF centroids, means give the PQ codebooks, both "
    "distributive so the streamed quantizer pair equals the batch "
    "one exactly — and live (cell, code) assignment under the "
    "quantizer-as-of-batch; compact_ivfpq() re-derives the final "
    "pair and reassigns+re-encodes the log map-only. Serving runs "
    "the identical batch IVFADC path (ivfpq_query_index: probe join "
    "→ compressed-code ADC → exact re-rank), so the drained result "
    "matches the emb_ann_ivfpq oracle — the billion-vector index "
    "architecture maintained under continuous ingest.",
)
def q_stream_ann_ivfpq_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from realtime0523_spark.streaming.ann_index import (
        streaming_ivf_index_append,
    )
    from realtime0523_spark.streaming.sinks import detach_and_cleanup
    from realtime0523_spark.streaming.sources import stream_table

    work = tempfile.mkdtemp(prefix="stream_ann_ivfpq_")
    idx = streaming_ivf_index_append(
        spark,
        stream_table(spark, sf_dir, "embeddings"),
        work_dir=work,
        checkpoint_dir=f"{work}/ckpt",
    )
    _, queries = _ann_queries(spark, sf_dir)
    out = idx.query_adc(
        queries,
        nprobe=IVF_NPROBE,
        retrieve=S.PQ_RETRIEVE,
        k=TOPK_K,
    ).select("qid", "vec_id", "score", "rk")
    return detach_and_cleanup(out, work)


def _funnel_latency_oracle() -> str:
    from realtime0523_spark.plans.inventory import _FUNNEL_LATENCY_ORACLE

    return _FUNNEL_LATENCY_ORACLE


@register(
    "stream_event_funnel_latency",
    _funnel_latency_oracle(),
    "Streaming twin of event_funnel_latency — time-to-convert "
    "distribution maintained ONLINE from the cross-batch stateful "
    "funnel (streaming/funnel.py): the per-user stage machine emits "
    "exact (t1..tN) epoch-us rows per touched batch (each t_k "
    "non-increasing, so the drained stream reduces by per-user min), "
    "converted users yield exact integer-microsecond deltas, and the "
    "IDENTICAL funnel_latency_stats finisher (exact longs, integer "
    "floor-division mean, binary-exact-fraction quantiles) produces "
    "the report — drained equals the batch oracle bit-for-bit. The "
    "p75 re-engagement SLA, always one metadata-sized fold away from "
    "the live state.",
)
def q_stream_event_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime0523_spark.plans.inventory import funnel_latency_stats
    from realtime0523_spark.streaming.funnel import streaming_funnel_stages
    from realtime0523_spark.streaming.runner import run_to_memory
    from realtime0523_spark.streaming.sources import stream_table

    per_user = run_to_memory(
        streaming_funnel_stages(
            stream_table(spark, sf_dir, "events"),
            "user_id",
            "event_type",
            "ts",
            stages=FUNNEL_STAGES,
        ),
        output_mode="update",
    )
    finals = per_user.groupBy("user").agg(
        F.min("t1").alias("t1"), F.min("t2").alias("t2"), F.min("t3").alias("t3")
    )
    d = finals.filter(F.col("t2").isNotNull()).select(
        F.lit("view->click").alias("transition"),
        (F.col("t2") - F.col("t1")).cast("long").alias("d_us"),
    ).unionAll(
        finals.filter(F.col("t3").isNotNull()).select(
            F.lit("click->purchase").alias("transition"),
            (F.col("t3") - F.col("t2")).cast("long").alias("d_us"),
        )
    )
    return funnel_latency_stats(d)
