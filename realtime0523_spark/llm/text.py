"""Text-analysis operators for training-data pipelines.

All hot-path logic is built-in `pyspark.sql.functions` (JVM-side,
whole-stage-codegen'd) — no Python UDFs. Every operator has an exact
DuckDB-SQL twin in plans/inventory.py; arithmetic sticks to integer /
rational ops (no transcendentals) so both engines agree bitwise.

Scale: all of these are embarrassingly parallel per-row transforms —
no shuffle, no state; at 100 TB they pipeline inside the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from realtime0523_spark.functions.scalar import round2  # noqa: F401  (re-export convenience)
from realtime0523_spark.functions.scalar import round9

# Whitespace tokenization — the lowest-common-denominator tokenizer.
TOKEN_PATTERN = r"\s+"

# BPE-ish pre-tokenization: the GPT-2 pattern family (contraction
# suffixes, space-prefixed letter runs, digit runs, punctuation runs)
# minus its trailing-whitespace lookahead, which RE2 (the oracle
# engine) does not support. Token counts from this pattern track real
# BPE token budgets far better than whitespace counts (punctuation and
# numbers split off; "don't" is 2 tokens).
BPE_ISH_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s']+|'"

# Stopword regexes per language for the n-gram/stopword-hit language
# heuristic. \x{...} escapes work in both Java regex and RE2.
LANG_PATTERNS: dict[str, str] = {
    "en": r"\b(the|a|of|and|to|in|is|it|you|that)\b",
    "de": r"\b(der|die|das|und|ist|nicht|mit|ein|zu|den)\b",
    "fr": r"\b(le|la|les|et|est|un|une|des|du|que)\b",
    "es": r"\b(el|los|las|de|y|es|un|una|que|en)\b",
    "zh": r"[\x{4e00}-\x{9fff}]",
}
LANG_PRIORITY = ["en", "de", "fr", "es", "zh"]  # deterministic argmax tie-break


def tokens(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(c, TOKEN_PATTERN), lambda t: t != "")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def bpe_ish_tokens(text: Column | str) -> Column:
    """GPT-2-style pre-tokens (see BPE_ISH_PATTERN) — one JVM
    regexp_extract_all, no shuffle."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), 0)


def bpe_ish_token_count(text: Column | str) -> Column:
    return F.size(bpe_ish_tokens(text))


def lang_hits(text: Column | str) -> dict[str, Column]:
    c = F.col(text) if isinstance(text, str) else text
    return {lang: F.regexp_count(c, F.lit(pat)) for lang, pat in LANG_PATTERNS.items()}


def lang_guess(text: Column | str) -> Column:
    """Argmax of stopword hits, ties broken by LANG_PRIORITY order;
    'und' (unknown) when no pattern hits at all."""
    hits = lang_hits(text)
    best = None
    for lang in LANG_PRIORITY:
        cond = hits[lang] > 0
        for other in LANG_PRIORITY:
            if other == lang:
                continue
            # strictly-greater for later-priority langs, >= for earlier
            if LANG_PRIORITY.index(other) < LANG_PRIORITY.index(lang):
                cond = cond & (hits[lang] > hits[other])
            else:
                cond = cond & (hits[lang] >= hits[other])
        best = F.when(cond, F.lit(lang)) if best is None else best.when(cond, F.lit(lang))
    return best.otherwise(F.lit("und"))


def quality_features(text: Column | str) -> dict[str, Column]:
    """Deterministic quality signals: length, token stats, punctuation
    and stopword ratios, and a [0,1] linear score (no transcendentals —
    oracle-parity-safe)."""
    c = F.col(text) if isinstance(text, str) else text
    toks = tokens(c)
    n_chars = F.length(c)
    n_tok = F.size(toks)
    tok_chars = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
    )
    avg_tok_len = tok_chars.cast("double") / n_tok.cast("double")
    punct = F.regexp_count(c, F.lit(r"[^A-Za-z0-9\s]"))
    punct_ratio = punct.cast("double") / n_chars.cast("double")
    stop_hits = F.regexp_count(c, F.lit(LANG_PATTERNS["en"]))
    stop_ratio = stop_hits.cast("double") / n_tok.cast("double")
    score = F.greatest(
        F.lit(0.0),
        F.least(
            F.lit(1.0),
            F.lit(0.05) * avg_tok_len + stop_ratio - punct_ratio,
        ),
    )
    return {
        "n_chars": n_chars,
        "n_tokens": n_tok,
        "avg_token_len": avg_tok_len,
        "punct_ratio": punct_ratio,
        "stopword_ratio": stop_ratio,
        "quality_score": score,
    }


def normalize_text(text: Column | str) -> Column:
    """lower → non-alphanumeric runs → single space → trim. The
    canonical form used by the fingerprint and exact dedup."""
    c = F.col(text) if isinstance(text, str) else text
    return F.trim(F.regexp_replace(F.lower(c), r"[^a-z0-9]+", " "))


def doc_fingerprint(text: Column | str) -> Column:
    """128-bit content fingerprint of the normalized text (md5 hex).
    Rolling-hash-equivalent for whole-document identity."""
    return F.md5(normalize_text(text))


def chunk_tokens(
    docs,
    chunk_size: int,
    stride: int,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Token-window chunking with overlap — the pretraining/RAG
    preprocessing step that turns long documents into fixed-size
    training/index units. Chunk k covers tokens [k·stride,
    k·stride + chunk_size); starts are every `stride` tokens while
    they fall inside the document, so consecutive chunks overlap by
    chunk_size - stride tokens and the final chunk may run short.
    Zero-token documents emit nothing.

    Per-row explode of ≤ ceil(n/stride) starts then a slice — a pure
    map (no shuffle); output volume is the corpus × chunk_size/stride
    overlap factor, the expected cost of overlap itself."""
    if chunk_size <= 0 or stride <= 0 or stride > chunk_size:
        raise ValueError(
            f"need 0 < stride <= chunk_size, got chunk_size={chunk_size} stride={stride}"
        )
    t = F.col("__t")
    n = F.size(t)
    last_start = (n - 1) - F.pmod(n - 1, F.lit(stride))
    return (
        docs.select(F.col(id_col), tokens(text_col).alias("__t"))
        .filter(n > 0)
        .select(
            id_col,
            "__t",
            F.explode(F.sequence(F.lit(0), last_start, F.lit(stride))).alias("__s"),
        )
        .select(
            id_col,
            (F.col("__s") / stride).cast("int").alias("chunk_id"),
            F.least(F.lit(chunk_size), n - F.col("__s")).alias("chunk_n_tokens"),
            F.array_join(F.slice(t, F.col("__s") + 1, chunk_size), " ").alias(
                "chunk_text"
            ),
        )
    )


def word_ngrams(text: Column | str, n: int = 2) -> Column:
    """Word n-grams WITH multiplicity (repetition analysis needs the
    counts that `word_shingles` deliberately collapses). Same
    let-binding as word_shingles so tokenization runs once per row."""

    def build(toks: Column) -> Column:
        idx = F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1))
        grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
        return F.when(F.size(toks) >= n, grams).otherwise(
            F.array().cast("array<string>")
        )

    return F.transform(F.array(tokens(text)), build)[0]


# Gopher repetition-filter thresholds (Rae et al. 2021, table A1 —
# public paper): docs above any of these are repetition spam.
DUP_LINE_FRAC_MAX = 0.30
TOP_2GRAM_CHAR_FRAC_MAX = 0.20
DUP_3GRAM_CHAR_FRAC_MAX = 0.18


def line_repetition(text: Column | str) -> dict[str, Column]:
    """Line-level repetition: line count and the fraction of lines that
    are duplicates of an earlier line (1 - distinct/total). Pure array
    ops — no explode, no shuffle."""
    c = F.col(text) if isinstance(text, str) else text
    lines = F.split(c, "\n")
    n_lines = F.size(lines)
    dup_frac = F.lit(1.0) - F.size(F.array_distinct(lines)).cast(
        "double"
    ) / n_lines.cast("double")
    return {"n_lines": n_lines, "dup_line_frac": dup_frac}


def ngram_repetition(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Gopher-style n-gram repetition signals per document:

    - top_2gram_char_frac: max over REPEATED 2-grams (count >= 2) of
      occurrences × gram length, / text length — the "top n-gram
      character fraction" screen. Two documented variations vs the
      paper: the count×length product replaces
      chars-of-the-most-frequent-gram (deterministic under count ties
      in any engine), and once-occurring grams contribute 0 — a single
      occurrence is not repetition, and counting it makes the 0.2
      threshold fire on any short doc containing one long 2-gram
      (the paper's web-scale docs hide that edge).
    - dup_3gram_char_frac: Σ occurrences × gram length over 3-grams
      occurring more than once, / text length — the "duplicate n-gram
      character fraction" screen (upper-bound variant: overlapping
      occurrences all counted; capped at 1.0).
    - passes_repetition_filter: Gopher table-A1 thresholds on the
      above plus the duplicate-line fraction.

    Shape at 100 TB: explode n-grams → two partial-agg'd groupBys
    ((doc, gram) count, then per-doc max/sum) — shuffle rows bounded by
    distinct (doc, gram), never a cross-doc join. Line stats ride along
    as pure per-row array ops.
    """
    d = docs.select(
        F.col(id_col).alias("doc_id"),
        F.length(F.col(text_col)).alias("n_chars"),
        F.col(text_col).alias("__text"),
    )

    def gram_agg(n: int, out: str, dup_only: bool) -> DataFrame:
        g = docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(word_ngrams(F.col(text_col), n)).alias("g"),
        )
        per_gram = g.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
        weighted = F.when(F.col("c") > 1, F.col("c") * F.length("g")).otherwise(F.lit(0))
        agg = F.sum(weighted) if dup_only else F.max(weighted)
        return per_gram.groupBy("doc_id").agg(agg.alias(out))

    top2 = gram_agg(2, "top2_chars", dup_only=False)
    dup3 = gram_agg(3, "dup3_chars", dup_only=True)

    lines = line_repetition(F.col("__text"))
    out = (
        d.join(top2, "doc_id", "left")
        .join(dup3, "doc_id", "left")
        .select(
            "doc_id",
            lines["n_lines"].alias("n_lines"),
            lines["dup_line_frac"].alias("dup_line_frac"),
            F.least(
                F.lit(1.0),
                F.coalesce(F.col("top2_chars"), F.lit(0)).cast("double")
                / F.col("n_chars").cast("double"),
            ).alias("top_2gram_char_frac"),
            F.least(
                F.lit(1.0),
                F.coalesce(F.col("dup3_chars"), F.lit(0)).cast("double")
                / F.col("n_chars").cast("double"),
            ).alias("dup_3gram_char_frac"),
        )
    )
    return out.withColumn(
        "passes_repetition_filter",
        (F.col("dup_line_frac") <= DUP_LINE_FRAC_MAX)
        & (F.col("top_2gram_char_frac") <= TOP_2GRAM_CHAR_FRAC_MAX)
        & (F.col("dup_3gram_char_frac") <= DUP_3GRAM_CHAR_FRAC_MAX),
    )


def _gram_repetition_chars(text: Column | str, n: int, dup_only: bool) -> Column:
    """Row-wise n-gram repetition chars: Σ (dup_only) or max of
    count×length over grams occurring >1 times — the same numbers
    `ngram_repetition` computes with groupBys, as ONE per-row
    expression. Exists so streaming gates can screen repetition
    statelessly — no (doc, gram) shuffle, no watermark coupling.

    Cost: sort the gram array once and fold over runs of equal grams
    — O(n log n) per row, safe for arbitrarily long documents (a
    filter-per-distinct formulation would be O(n·distinct) and stall
    a micro-batch on one book-sized doc). The fold accumulator is
    (prev gram, run length, metric so far); the finish lambda flushes
    the final run. Every reused subexpression is let-bound (1-element
    transform): no CSE across HOF lambdas."""

    def build(grams: Column) -> Column:
        def contrib(acc: Column) -> Column:
            return F.when(
                acc["cnt"] > 1, acc["cnt"] * F.length(acc["prev"])
            ).otherwise(F.lit(0))

        def fold_in(acc: Column, m_flushed: Column) -> Column:
            return (m_flushed + contrib(acc)) if dup_only else F.greatest(
                m_flushed, contrib(acc)
            )

        def merge(acc: Column, g: Column) -> Column:
            same = acc["prev"] == g
            return F.struct(
                g.alias("prev"),
                F.when(same, acc["cnt"] + 1).otherwise(F.lit(1)).alias("cnt"),
                F.when(same, acc["m"]).otherwise(fold_in(acc, acc["m"])).alias("m"),
            )

        init = F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("cnt"), F.lit(0).alias("m")
        )
        return F.aggregate(
            F.array_sort(grams), init, merge, lambda acc: fold_in(acc, acc["m"])
        )

    return F.transform(F.array(word_ngrams(text, n)), build)[0]


def repetition_pass_rowwise(text: Column | str) -> Column:
    """The Gopher repetition verdict of `ngram_repetition` as a single
    stateless per-row boolean — identical thresholds and arithmetic,
    usable inside a streaming filter."""
    c = F.col(text) if isinstance(text, str) else text
    n_chars = F.length(c).cast("double")
    lines = line_repetition(c)
    top2 = F.least(
        F.lit(1.0), _gram_repetition_chars(c, 2, dup_only=False).cast("double") / n_chars
    )
    dup3 = F.least(
        F.lit(1.0), _gram_repetition_chars(c, 3, dup_only=True).cast("double") / n_chars
    )
    return (
        (lines["dup_line_frac"] <= DUP_LINE_FRAC_MAX)
        & (top2 <= TOP_2GRAM_CHAR_FRAC_MAX)
        & (dup3 <= DUP_3GRAM_CHAR_FRAC_MAX)
    )


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-grams (the MinHash/Jaccard shingle set).
    Documents with fewer than n tokens yield an empty set.

    The token array is let-bound via a 1-element `transform` so the
    split+filter tokenization runs ONCE per row: Catalyst does no
    common-subexpression elimination across higher-order-function
    lambda bodies, so referencing `tokens(text)` directly inside the
    per-index lambda re-tokenizes per shingle (measured 5× slower on
    the 54-token document corpus)."""

    def build(toks: Column) -> Column:
        idx = F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1))
        grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
        return F.when(F.size(toks) >= n, F.array_distinct(grams)).otherwise(
            F.array().cast("array<string>")
        )

    return F.transform(F.array(tokens(text)), build)[0]


# --- feature-hash embeddings (the "hashing trick") --------------------

FEATURE_HASH_DIM = 64


def hashed_features(
    df: DataFrame,
    id_cols: list[str],
    text_col: str = "text",
    dims: int = FEATURE_HASH_DIM,
) -> DataFrame:
    """Sparse L2-normalized bag-of-tokens vector per row via feature
    hashing (Weinberger et al., "Feature Hashing for Large Scale
    Multitask Learning", ICML 2009): token → md5 bucket in [0, dims),
    per-bucket counts, L2 normalize — emitted SPARSE as one
    (ids…, bucket, weight) row per nonzero bucket.

    This is the embedding-model slot of the chunk→embed→index chain
    (like the cross-encoder slot of cross_rerank_topk): a learned
    encoder produces the same (id, vector) shape; the hashing trick is
    the deterministic stand-in that keeps the whole chain
    SQL-replayable, and is itself the real thing for lexical retrieval
    at scale (vocabulary-independent fixed width, no dictionary to
    broadcast). One explode + one partial-agg'd groupBy + one window
    per row-group — no corpus-wide state."""
    from pyspark.sql import Window as W

    from realtime0523_spark.llm.dedup import md5_int32

    toks = df.select(*id_cols, F.explode(tokens(F.col(text_col))).alias("__tok"))
    cnt = (
        toks.withColumn("__b", F.pmod(md5_int32(F.col("__tok")), F.lit(dims)))
        .groupBy(*id_cols, "__b")
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    norm = F.sqrt(
        F.sum((F.col("__cnt") * F.col("__cnt")).cast("double")).over(
            W.partitionBy(*id_cols)
        )
    )
    return cnt.select(
        *id_cols,
        F.col("__b").alias("bucket"),
        (F.col("__cnt") / norm).alias("weight"),
    )


# --- model-based quality scoring (the fastText-classifier slot) -------

QUALITY_MODEL_DIM = 4096
QUALITY_MODEL_MULT = 2654435761  # Knuth multiplicative hash constant
QUALITY_MODEL_MOD = 2039  # prime; weight lattice size


def model_quality_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dims: int = QUALITY_MODEL_DIM,
    mult: int = QUALITY_MODEL_MULT,
    mod: int = QUALITY_MODEL_MOD,
) -> DataFrame:
    """Model-based quality score per doc — the classifier slot of a
    CCNet/RedPajama/FineWeb-style pipeline (Wenzek et al., LREC 2020
    score documents with a fastText linear classifier over hashed
    bag-of-words features; Joulin et al. 2017): score =
    sigmoid(mean per-token weight), keep = score >= 0.5.

    Deterministic stand-in discipline (the interaction_score_pudf /
    hashed_features pattern): token → md5 bucket in [0, dims), weight
    index k = (bucket·mult) mod `mod` — a Knuth multiplicative hash
    onto a [0, mod) integer lattice mapped affinely onto [-4, 4). A
    TRAINED weight vector drops into the identical shape (a |dims|-row
    broadcast table join, or a closure array like the ANN centroids);
    the formula weights keep the whole operator exactly SQL-replayable.

    Exactness: the per-doc sum of lattice indices Σk is an EXACT
    integer (each term < 2^53/n), so the logit
    x = 8·Σk/(n·mod) − 4 is ONE IEEE expression on two exact longs —
    association-order-free across engines — and the keep decision is
    the exact integer comparison 2·Σk >= n·mod (score >= 0.5 ⇔ x >= 0),
    never a float threshold.

    Scale shape: one explode into a per-doc partial-agg'd groupBy — no
    vocabulary to broadcast (the hashing trick's point), no corpus
    state, no shuffle beyond the doc key. Zero-token docs vanish (no
    tokens → no rows), same as the SQL twin."""
    toks = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("__tok")
    )
    from realtime0523_spark.llm.dedup import md5_int32

    k = F.pmod(
        F.pmod(md5_int32(F.col("__tok")), F.lit(dims)) * F.lit(mult), F.lit(mod)
    )
    agg = toks.select(id_col, k.alias("__k")).groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum("__k").cast("long").alias("__sk"),
    )
    x = (
        F.lit(8.0) * F.col("__sk")
        / (F.col("n_tokens") * F.lit(float(mod)))
        - F.lit(4.0)
    )
    score = round9(F.lit(1.0) / (F.lit(1.0) + F.exp(-x)))
    return agg.select(
        id_col,
        "n_tokens",
        score.alias("model_score"),
        (F.lit(2) * F.col("__sk") >= F.col("n_tokens") * F.lit(mod)).alias(
            "keep"
        ),
    )
