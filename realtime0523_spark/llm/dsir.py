"""DSIR — Data Selection via Importance Resampling (Xie, Santurkar,
Ma, Liang, "Data Selection for Language Models via Importance
Resampling", NeurIPS 2023).

The problem: given a huge RAW corpus and a small TARGET corpus that
exemplifies the distribution you want to train on, select raw
documents whose feature distribution matches the target. DSIR's
recipe, reproduced here exactly:

1. Featurize every document as a bag of HASHED n-grams — unigrams and
   bigrams of the whitespace tokens, hashed into `n_buckets` counts
   (the hashing trick; vocabulary-independent, nothing to broadcast
   but a fixed-width table).
2. Fit two bag-of-buckets multinomials, p_target and p_raw, with
   add-1 smoothing.
3. Score every raw document with the log importance weight
   log w(d) = Σ_b c_b(d) · (log p_target[b] − log p_raw[b]).
4. Resample WITHOUT replacement ∝ w via the Gumbel top-k trick
   (Vieira 2014): keep the k docs maximizing log w(d) + g(d), where
   g(d) = −ln(−ln(u_d)) is a per-doc Gumbel draw.

Everything is deterministic and exactly SQL-replayable
(plans/llm_inventory.py twins):
- the bucket hash is md5-prefix arithmetic (same builtin both
  engines);
- `ln` is the one transcendental — its outputs are quantized to 9 dp
  before use (both engines' libm agree far below 1e-9), so the
  per-bucket log-ratio λ_b is bit-identical across engines;
- the Gumbel draw replaces rand() with the corpus-standard md5
  derivation: u_d = (md5_int32(id ':' salt) + 0.5) / 2^32 ∈ (0, 1),
  g quantized to 9 dp — stable under repartitioning and replay.

Scale shape (100 TB): featurization is one explode → partial-agg'd
groupBy per corpus (the same single shuffle every bag-of-words op
here pays); the two distributions are ≤ n_buckets rows each and
BROADCAST into the per-doc scoring join; selection is an
orderBy(limit) — TakeOrderedAndProject, per-partition top-k + driver
merge of k·partitions rows, never a global sort. The raw corpus is
read twice (featurize, score) and shuffled only as (doc, bucket)
partial aggregates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from realtime0523_spark.functions.scalar import round9
from realtime0523_spark.llm.dedup import md5_int32
from realtime0523_spark.llm.text import tokens

DSIR_BUCKETS = 1024
DSIR_SALT = "dsir-v1"


def _ngram_terms(text_col: Column) -> Column:
    """Unigrams + bigrams of the whitespace tokens, as one array —
    bigrams joined with a space (DSIR §3.1 uses unigram+bigram bags).

    Same let-binding as llm.text.word_ngrams: the token array is bound
    ONCE per row as a lambda variable. Referencing `tokens(text)`
    directly inside the per-index lambda would re-tokenize the row for
    every bigram — an O(tokens²) generator (measured 10× on the DSIR
    chain at sf0.1)."""

    def build(t: Column) -> Column:
        bigrams = F.when(
            F.size(t) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at(t, i), F.element_at(t, i + 1)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return F.concat(t, bigrams)

    return F.transform(F.array(tokens(text_col)), build)[0]


def hashed_ngram_counts(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """(id, bucket, cnt): per-doc hashed unigram+bigram counts — one
    explode + one partial-agg'd groupBy; the only corpus-sized shuffle
    in the DSIR chain."""
    return (
        docs.select(
            F.col(id_col),
            F.explode(_ngram_terms(F.col(text_col))).alias("term"),
        )
        .select(id_col, (md5_int32(F.col("term")) % n_buckets).alias("bucket"))
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def bucket_log_probs(
    feats: DataFrame, n_buckets: int = DSIR_BUCKETS
) -> DataFrame:
    """(bucket, logp): add-1-smoothed multinomial over the hashed
    buckets, log-quantized to 9 dp. Every bucket in [0, n_buckets) is
    present (smoothing gives unseen buckets mass), so the downstream
    log-ratio join never drops a feature. ≤ n_buckets rows — broadcast
    class."""
    spark = feats.sparkSession
    totals = feats.groupBy("bucket").agg(F.sum("cnt").alias("n"))
    all_buckets = spark.range(n_buckets).select(F.col("id").cast("int").alias("bucket"))
    n_total = F.sum("n").over(W.partitionBy())
    return (
        all_buckets.join(totals, "bucket", "left")
        .select("bucket", F.coalesce(F.col("n"), F.lit(0)).alias("n"))
        .select(
            "bucket",
            round9(
                F.log(
                    (F.col("n") + F.lit(1)).cast("double")
                    / (n_total + F.lit(n_buckets)).cast("double")
                )
            ).alias("logp"),
        )
    )


def dsir_logweights(
    raw: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """(id, n_feats, logw): the per-raw-doc log importance weight
    log w(d) = Σ_b c_b(d)·λ_b with λ_b = logp_target[b] − logp_raw[b]
    (each log 9-dp-quantized). The λ table is n_buckets rows and
    BROADCAST; scoring is one partial-agg'd groupBy over the raw
    corpus's (doc, bucket) counts. Docs with zero tokens score 0
    (empty product distribution) and are kept with n_feats = 0."""
    raw_feats = hashed_ngram_counts(raw, id_col, text_col, n_buckets)
    lam = (
        bucket_log_probs(hashed_ngram_counts(target, id_col, text_col, n_buckets), n_buckets)
        .withColumnRenamed("logp", "logp_t")
        .join(
            bucket_log_probs(raw_feats, n_buckets).withColumnRenamed(
                "logp", "logp_r"
            ),
            "bucket",
        )
        .select("bucket", (F.col("logp_t") - F.col("logp_r")).alias("lam"))
    )
    scored = (
        raw_feats.join(F.broadcast(lam), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("cnt").alias("n_feats"),
            F.sum(F.col("cnt") * F.col("lam")).alias("logw"),
        )
    )
    # zero-token docs never enter the explode — restore them at weight 0
    return (
        raw.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_feats"), F.lit(0)).alias("n_feats"),
            F.coalesce(F.col("logw"), F.lit(0.0)).alias("logw"),
        )
    )


def gumbel_key(id_col: Column, salt: str = DSIR_SALT) -> Column:
    """Deterministic per-doc Gumbel draw g = −ln(−ln(u)) with
    u = (md5_int32(id ':' salt) + 0.5) / 2^32 — the corpus-standard
    portable substitute for rand(), quantized to 9 dp."""
    u = (
        md5_int32(F.concat_ws(":", id_col.cast("string"), F.lit(salt))).cast("double")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    return round9(-F.log(-F.log(u)))


def dsir_sample(
    raw: DataFrame,
    target: DataFrame,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DSIR_BUCKETS,
    salt: str = DSIR_SALT,
) -> DataFrame:
    """Importance resampling WITHOUT replacement: the k raw docs
    maximizing logw(d) + Gumbel(d) — exactly sampling k docs with
    probability ∝ w(d) without replacement (the Gumbel top-k trick),
    but deterministic, engine-portable, and replayable. Returns
    (id, logw, sel_key, rk) for the selected k.

    Selection is orderBy + limit → TakeOrderedAndProject: each
    partition keeps its own top k, the driver merges k·partitions
    rows; no global sort at any corpus size."""
    w = dsir_logweights(raw, target, id_col, text_col, n_buckets)
    keyed = w.select(
        id_col,
        round9(F.col("logw")).alias("logw"),
        round9(round9(F.col("logw")) + gumbel_key(F.col(id_col), salt)).alias(
            "sel_key"
        ),
    )
    top = keyed.orderBy(F.desc("sel_key"), F.col(id_col)).limit(k)
    return top.withColumn(
        "rk",
        F.row_number().over(W.orderBy(F.desc("sel_key"), F.col(id_col))),
    )
