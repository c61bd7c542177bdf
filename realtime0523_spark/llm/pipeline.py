"""Training-data pipeline operators: deterministic splits, stratified
sampling, eval-set contamination checks, PII redaction, sequence
packing, and domain-mixture statistics.

These are the corpus-preparation steps between "raw documents" and
"training batches" that a 100 TB pipeline runs after dedup (llm.dedup)
and quality scoring (llm.text). Everything here is built-in
`pyspark.sql.functions` (JVM-side, codegen'd) — no Python in the hot
path — and every randomized-looking choice is a deterministic md5
derivation, so runs are reproducible and each operator has an exact
DuckDB-SQL twin (plans/llm_inventory.py).

Scale notes per operator:
- split/sample: pure per-row map over the scan — no shuffle, no state.
- contamination: the eval shingle set is small by contract and
  broadcast; the corpus streams through one scan + one groupBy.
- pii_redact: per-row regex map.
- pack_sequences: one window per shard (a shard is the packing
  parallelism unit — real pipelines pack within shards, never across).
- domain_mix: map-side partial agg into |domains| rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from realtime0523_spark.functions.scalar import round9
from realtime0523_spark.llm.dedup import md5_int32
from realtime0523_spark.llm.text import (
    quality_features,
    token_count,
    tokens,
    word_shingles,
)

# hash-bucket resolution for split/sample fractions: 1/10000ths
BUCKETS = 10_000

# PII patterns — valid with identical semantics in Java regex (Spark)
# and RE2 (DuckDB): no backrefs, no lookaround.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?[0-9]{1,3}[- ][0-9]{3}[- ][0-9]{4}"
IPV4_RE = r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"


def hash_bucket(id_col: Column, salt: str) -> Column:
    """Deterministic bucket in [0, BUCKETS) from md5(id ':' salt) —
    the portable substitute for rand(): stable under repartitioning,
    replay, and engine (same expression exists in SQL)."""
    return md5_int32(F.concat_ws(":", id_col.cast("string"), F.lit(salt))) % BUCKETS


def train_split(
    docs: DataFrame,
    fractions: dict[str, float],
    salt: str = "split-v1",
    id_col: str = "doc_id",
) -> DataFrame:
    """Assign every document to exactly one named split (train/val/
    test/...) by hash bucket: cumulative fraction boundaries over
    md5(id:salt). Changing the salt re-rolls the split; adding rows
    never moves existing ones between splits.
    """
    if not fractions:
        raise ValueError("split fractions must name at least one split")
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1, got {total}")
    b = hash_bucket(F.col(id_col), salt)
    expr = None
    cum = 0.0
    items = list(fractions.items())
    for name, frac in items[:-1]:
        cum += frac
        bound = int(round(cum * BUCKETS))
        expr = (
            F.when(b < bound, F.lit(name))
            if expr is None
            else expr.when(b < bound, F.lit(name))
        )
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    return docs.withColumn("split", expr)


def stratified_sample(
    docs: DataFrame,
    fractions: dict[str, float],
    stratum_col: str = "source",
    default_fraction: float = 0.0,
    salt: str = "sample-v1",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep a per-stratum deterministic fraction of rows (domain
    re-weighting / downsampling): keep iff hash bucket < f*BUCKETS for
    the row's stratum. Same reproducibility contract as train_split."""
    for name, frac in {**fractions, "<default>": default_fraction}.items():
        if not 0.0 <= frac <= 1.0:
            raise ValueError(f"sample fraction for {name!r} must be in [0, 1], got {frac}")
    b = hash_bucket(F.col(id_col), salt)
    bound = None
    for stratum, frac in fractions.items():
        v = F.lit(int(round(frac * BUCKETS)))
        bound = (
            F.when(F.col(stratum_col) == stratum, v)
            if bound is None
            else bound.when(F.col(stratum_col) == stratum, v)
        )
    bound = (
        F.lit(int(round(default_fraction * BUCKETS)))
        if bound is None
        else bound.otherwise(F.lit(int(round(default_fraction * BUCKETS))))
    )
    return docs.filter(b < bound)


def contamination_check(
    train: DataFrame,
    eval_docs: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per training doc: how many of its distinct word-n-gram shingles
    also appear anywhere in the eval set (benchmark-leak detection à la
    GPT-3/PaLM n-gram overlap decontamination).

    Returns (doc_id, n_shingles, n_contaminated, contamination_ratio)
    for contaminated docs only. The eval shingle set is distinct'd and
    broadcast (eval benchmarks are ≪ corpus by contract); the corpus
    makes one pass: explode shingles → broadcast semi-ish join →
    groupBy doc. Shuffle = one partial-agg'd groupBy on doc_id."""
    t = train.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_shingles(F.col(text_col), n)).alias("sh"),
    )
    e = (
        eval_docs.select(F.explode(word_shingles(F.col(text_col), n)).alias("sh"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    per_doc = (
        t.join(F.broadcast(e), "sh", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_contaminated"),
        )
    )
    return per_doc.filter(F.col("n_contaminated") > 0).select(
        "doc_id",
        "n_shingles",
        "n_contaminated",
        (F.col("n_contaminated").cast("double") / F.col("n_shingles").cast("double")).alias(
            "contamination_ratio"
        ),
    )


BLOOM_BITS = 16384
BLOOM_HASHES = 4


def bloom_bits(
    eval_docs: DataFrame,
    n: int = 3,
    bits: int = BLOOM_BITS,
    n_hashes: int = BLOOM_HASHES,
    text_col: str = "text",
) -> DataFrame:
    """The Bloom filter over the eval set's distinct word-n-gram
    shingles, as a (bit,) table of set positions: shingle s sets
    positions md5('bloom<i>:' || s) % bits for i in [0, n_hashes)
    (the k-independent-hash construction via salted digests — Kirsch &
    Mitzenmacher-style portability, exactly replayable in SQL).

    ≤ `bits` rows regardless of eval-set size — THE point: the plain
    contamination_check broadcasts the full eval shingle set, which
    stops fitting when the eval suite is itself corpus-sized; the
    bitset is fixed-size (16384 bits here; size to kn/ln2 for a target
    false-positive rate ε ≈ (1 − e^(−kn/m))^k at scale)."""
    sh = eval_docs.select(
        F.explode(word_shingles(F.col(text_col), n)).alias("sh")
    ).distinct()
    probes = sh.select(
        F.explode(
            F.array(
                *[
                    F.concat(F.lit(f"bloom{i}:"), F.col("sh"))
                    for i in range(n_hashes)
                ]
            )
        ).alias("key")
    )
    return probes.select(
        (md5_int32(F.col("key")) % F.lit(bits)).alias("bit")
    ).distinct()


def bloom_contamination(
    train: DataFrame,
    eval_docs: DataFrame,
    n: int = 3,
    bits: int = BLOOM_BITS,
    n_hashes: int = BLOOM_HASHES,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits_df: DataFrame | None = None,
) -> DataFrame:
    """Fixed-memory decontamination screen: contamination_check with
    the eval shingle set replaced by its Bloom filter. A training
    shingle is FLAGGED iff all `n_hashes` of its bit probes are set —
    no false negatives (every truly contaminated shingle flags; the
    screen's guarantee), occasional false positives by design (the
    price of a fixed-size filter; flagged docs go to the exact checker
    or are dropped conservatively).

    Returns (doc_id, n_shingles, n_flagged, flag_ratio) for flagged
    docs. Scale shape: the bit table (≤ `bits` rows) broadcasts; the
    corpus makes one explode → per-probe broadcast join → two
    partial-agg'd groupBys. Nothing eval-sized is ever shipped.

    Pass `bits_df` (a prebuilt — ideally persisted — bloom_bits
    frame) to reuse one filter across many calls: the streaming screen
    builds it once and probes it every micro-batch instead of
    re-deriving the eval shingles per batch."""
    bset = (
        bits_df
        if bits_df is not None
        else bloom_bits(eval_docs, n, bits, n_hashes, text_col)
    ).withColumn("__set", F.lit(1))
    t = train.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_shingles(F.col(text_col), n)).alias("sh"),
    )
    probes = t.select(
        "doc_id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.concat(F.lit(f"bloom{i}:"), F.col("sh"))
                    for i in range(n_hashes)
                ]
            )
        ).alias("key"),
    ).withColumn("bit", md5_int32(F.col("key")) % F.lit(bits))
    per_shingle = (
        probes.join(F.broadcast(bset), "bit", "left")
        .groupBy("doc_id", "sh")
        .agg(
            (F.sum(F.coalesce(F.col("__set"), F.lit(0))) == n_hashes)
            .cast("int")
            .alias("__flag")
        )
    )
    per_doc = per_shingle.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum("__flag").alias("n_flagged"),
    )
    return per_doc.filter(F.col("n_flagged") > 0).select(
        "doc_id",
        "n_shingles",
        "n_flagged",
        (
            F.col("n_flagged").cast("double") / F.col("n_shingles").cast("double")
        ).alias("flag_ratio"),
    )


def pii_redact(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Mask emails, phone numbers, and IPv4 addresses, keeping per-doc
    counts of each. Pure per-row regex map (Java regex, codegen'd);
    patterns are RE2-compatible so the SQL twin redacts identically.

    Masking is sequential — emails first (their domains may contain
    dotted quads), then phones, then IPs — and each COUNT is computed
    on the text as it stood when that pattern ran, so every count
    equals the number of replacements actually performed: a dotted
    quad inside an email domain is counted (and masked) as part of the
    email, never double-counted as an IP."""
    c = F.col(text_col)
    after_email = F.regexp_replace(c, EMAIL_RE, "<EMAIL>")
    after_phone = F.regexp_replace(after_email, PHONE_RE, "<PHONE>")
    return docs.withColumns(
        {
            "n_emails": F.regexp_count(c, F.lit(EMAIL_RE)),
            "n_phones": F.regexp_count(after_email, F.lit(PHONE_RE)),
            "n_ips": F.regexp_count(after_phone, F.lit(IPV4_RE)),
            text_col: F.regexp_replace(after_phone, IPV4_RE, "<IP>"),
        }
    )


def pack_sequences(
    docs: DataFrame,
    budget: int,
    shard_col: str = "source",
    salt: str = "pack-v1",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Concat-and-chunk sequence packing: within each shard, documents
    are laid end-to-end in a deterministic hash order and every doc is
    assigned the fixed-`budget` context window its FIRST token falls in
    (bin = floor(token_offset / budget)) — the standard GPT-style
    "concatenate the corpus, slice fixed-length windows" strategy, as
    an assignment instead of a materialization.

    A bin's token count is ≤ budget + (straddling doc's tokens); exact
    boundary splitting is the tokenizer's job downstream. The window
    runs PER SHARD (partitionBy) — shards are the packing parallelism
    unit at 100 TB, matching how real pipelines pack within data
    shards; there is no global sort."""
    if budget <= 0:
        raise ValueError(f"pack budget must be positive, got {budget}")
    w = (
        W.partitionBy(shard_col)
        .orderBy(hash_bucket(F.col(id_col), salt), F.col(id_col))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    n_tok = token_count(F.col(text_col))
    cum = F.sum(n_tok).over(w)
    return docs.select(
        F.col(id_col),
        F.col(shard_col).alias("shard"),
        n_tok.alias("n_tokens"),
        F.floor((cum - n_tok) / F.lit(budget)).cast("bigint").alias("bin_id"),
    )


def pack_sequences_exact(
    docs: DataFrame,
    budget: int,
    shard_col: str = "source",
    salt: str = "pack-v1",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Budget-EXACT sequence packing with carry-over — the last step of
    the corpus→training-batches chain. `pack_sequences` assigns each
    doc the window its first token falls in; this operator finishes the
    job: within each shard, docs are laid end-to-end in the SAME
    deterministic hash order, the concatenated token stream is cut into
    consecutive `budget`-token sequences, and a document straddling a
    cut CARRIES OVER — it is split into one piece per overlapped
    sequence.

    Output: one row per (doc × overlapped sequence) piece:
      shard, seq_id, doc_id,
      tok_start, tok_end  — the doc-relative token slice [start, end)
      seq_pos             — the piece's offset inside its sequence
    Invariant (tested + oracle-checked): a sequence's pieces tile
    [0, budget) exactly, so every sequence except each shard's last
    holds exactly `budget` tokens, and a doc's pieces concatenate back
    to the doc. The first piece's seq_id equals pack_sequences' bin_id
    (same order, same salt) — the two operators compose.

    Shape at scale: one window per shard plus a per-doc explode bounded
    by ceil(n_tokens/budget)+1 pieces — no shuffle beyond the shard
    window, no state, no Python; zero-token docs contribute nothing.
    """
    if budget <= 0:
        raise ValueError(f"pack budget must be positive, got {budget}")
    w = (
        W.partitionBy(shard_col)
        .orderBy(hash_bucket(F.col(id_col), salt), F.col(id_col))
        .rowsBetween(W.unboundedPreceding, -1)
    )
    n_tok = token_count(F.col(text_col))
    base = docs.select(
        F.col(id_col),
        F.col(shard_col).alias("shard"),
        n_tok.alias("n_tokens"),
        F.coalesce(F.sum(n_tok).over(w), F.lit(0)).alias("off"),
    ).filter(F.col("n_tokens") > 0)
    b = F.lit(budget)
    first_seq = F.floor(F.col("off") / b)
    last_seq = F.floor((F.col("off") + F.col("n_tokens") - 1) / b)
    pieces = base.select(
        id_col,
        "shard",
        "n_tokens",
        "off",
        F.explode(F.sequence(first_seq, last_seq)).alias("seq_id"),
    )
    return pieces.select(
        "shard",
        F.col("seq_id").cast("bigint").alias("seq_id"),
        id_col,
        F.greatest(F.lit(0), F.col("seq_id") * b - F.col("off"))
        .cast("bigint")
        .alias("tok_start"),
        F.least(F.col("n_tokens").cast("bigint"), (F.col("seq_id") + 1) * b - F.col("off"))
        .cast("bigint")
        .alias("tok_end"),
        F.greatest(F.lit(0), F.col("off") - F.col("seq_id") * b)
        .cast("bigint")
        .alias("seq_pos"),
    )


def token_budget_sample(
    docs: DataFrame,
    budgets: dict[str, int],
    default_budget: int,
    domain_col: str = "source",
    salt: str = "budget-v1",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-domain token-budget sampling — the mixture-building
    primitive: lay each domain's documents in deterministic hash order
    and keep a document iff the domain's budget was not yet exhausted
    when the document STARTED (cum_exclusive < budget). The
    starts-within rule guarantees at least one document per domain
    (a lone over-budget doc is kept, like pack_sequences' straddling
    window) and makes membership a pure function of (corpus, budgets,
    salt) — replay-, partitioning-, and engine-stable, no rand().

    One window per domain partition, no global sort; the output is the
    sampled corpus subset with each doc's running token position."""
    if default_budget <= 0 or any(b <= 0 for b in budgets.values()):
        raise ValueError("token budgets must be positive")
    w = (
        W.partitionBy(domain_col)
        .orderBy(hash_bucket(F.col(id_col), salt), F.col(id_col))
        .rowsBetween(W.unboundedPreceding, -1)
    )
    n_tok = token_count(F.col(text_col))
    budget = F.lit(default_budget)
    for dom, b in sorted(budgets.items()):
        budget = F.when(F.col(domain_col) == dom, F.lit(b)).otherwise(budget)
    return (
        docs.select(
            F.col(id_col),
            F.col(domain_col),
            n_tok.alias("n_tokens"),
            F.coalesce(F.sum(n_tok).over(w), F.lit(0)).alias("cum_excl"),
        )
        .filter(F.col("cum_excl") < budget)
        .select(
            id_col,
            domain_col,
            "n_tokens",
            (F.col("cum_excl") + F.col("n_tokens")).alias("cum_tokens"),
        )
    )


def domain_quality_filter(
    docs: DataFrame,
    id_col: str = "doc_id",
    domain_col: str = "source",
    text_col: str = "text",
    approximate: bool = False,
    accuracy: int = 10_000,
    score_col: str | None = None,
) -> DataFrame:
    """Keep documents scoring at or above their domain's median
    quality — pruning relative to the DOMAIN, not a global constant
    (a code-heavy domain's median is not an encyclopedia's).

    Two physically different plans, one contract:

    - exact (default; the DuckDB-oracle twin): linear-interpolated
      ``percentile(0.5)`` as a window over the domain partition. One
      shuffle on the domain key, but the window SORTS every document
      within its domain — fine while a domain fits a task's sort
      budget, the wrong shape at 100 TB.
    - ``approximate=True`` (the 100 TB path): ``approx_percentile``
      per domain — a bounded-size mergeable quantile sketch (rank
      error <= n/accuracy) built with map-side partial aggregation —
      then a **broadcast** join of the |domains|-sized median table
      back onto the corpus. The corpus is never window-sorted; the
      plan shape (zero Window/Sort nodes, broadcast join) is asserted
      in tests/test_scale_plans.py, and the sketch's rank-error
      contract is driver-checked by `docs_quality_approx_contract`.

    Membership compares the 9dp-ROUNDED score and median (the same
    quantization the outputs carry): comparing raw doubles made a
    boundary doc's membership hinge on <=1-ulp differences in how each
    engine associates the middle-value interpolation (ADVICE r4).

    `score_col` names an already-materialized quality column (the
    corpus-prep layout stores scores next to the text) — then neither
    path touches the text. Without it, the approximate path PERSISTS
    the narrow (id, domain, score) projection so the regex-heavy
    scoring pass runs once, not once per consumer (sketch + filter):
    ~26 B/row, memory-and-disk with lineage kept for fault recovery —
    at 100 TB that is ~0.5 TB cluster-wide against two saved scans of
    the full corpus.
    """
    if score_col is not None:
        scored = docs.select(
            F.col(id_col), F.col(domain_col),
            F.col(score_col).alias("quality_score"),
        )
    else:
        feats = quality_features(F.col(text_col))
        scored = docs.select(
            F.col(id_col), F.col(domain_col),
            feats["quality_score"].alias("quality_score"),
        )
    if approximate:
        if accuracy <= 0:
            raise ValueError("accuracy must be positive")
        if score_col is None:
            from pyspark import StorageLevel

            scored = scored.persist(StorageLevel.MEMORY_AND_DISK)
        med = scored.groupBy(domain_col).agg(
            F.expr(
                f"approx_percentile(quality_score, 0.5, {int(accuracy)})"
            ).alias("source_median")
        )
        scored = scored.join(F.broadcast(med), domain_col)
    else:
        scored = scored.withColumn(
            "source_median",
            F.expr("percentile(quality_score, 0.5)").over(W.partitionBy(domain_col)),
        )
    # membership compares the 9-dp-rounded values, so both engines
    # decide identically
    return scored.filter(
        round9(F.col("quality_score")) >= round9(F.col("source_median"))
    ).select(
        id_col,
        domain_col,
        round9(F.col("quality_score")).alias("quality_score"),
        round9(F.col("source_median")).alias("source_median"),
    )


def lm_bigram_logprob(
    docs: DataFrame,
    k: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-trained add-k bigram LM score per document — the
    perplexity-style quality filter (CCNet trains a LM and drops
    high-perplexity docs; here the corpus is its own LM, no external
    model). Per doc: the mean log P(w2|w1) over its adjacent token
    pairs, P = (C(w1,w2)+k)/(C(w1)+k·V) with C counted over the WHOLE
    corpus and V = distinct corpus tokens. Docs with <2 tokens emit
    nothing (no bigram to score).

    Shape at scale: one corpus-sized pair explode, two partial-agg'd
    groupBys (|bigrams| and |vocab| results), then joins keyed on the
    bigram/context — the count tables are vocabulary-sized, so at
    100 TB they broadcast or bucket while the corpus streams through.
    V is a single scalar (one countDistinct job at build), not a
    collect of data.

    Skew note: per-key join fan-out is exactly 1 (the count tables are
    keyed-unique), but natural-language bigram frequency is Zipfian —
    the shuffle partitions holding "of the"-class keys run hot at
    100 TB. AQE's skew-join split handles this at current settings
    (adaptive.enabled + skewJoin on in core.session); if AQE is off,
    salt the pairs side on (w1, w2, salt) and replicate the broadcast-
    sized count rows. Growth is measured in SCALING.md (docs_lm_score
    probe) rather than assumed."""
    t = tokens(F.col(text_col))
    n = F.size(t)
    base = docs.select(F.col(id_col), t.alias("__t")).filter(n > 1)
    pairs = base.select(
        id_col,
        F.explode(
            F.arrays_zip(
                F.slice(F.col("__t"), 1, F.size("__t") - 1),
                F.slice(F.col("__t"), 2, F.size("__t") - 1),
            )
        ).alias("__bg"),
    ).select(
        id_col,
        F.col("__bg").getField("0").alias("w1"),
        F.col("__bg").getField("1").alias("w2"),
    )
    c2 = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n2"))
    c1 = pairs.groupBy("w1").agg(F.count(F.lit(1)).alias("n1"))
    vocab = int(
        docs.select(F.explode(tokens(F.col(text_col))).alias("tok"))
        .agg(F.countDistinct("tok"))
        .first()[0]
        or 0
    )
    logp = F.log(
        (F.col("n2") + F.lit(k)) / (F.col("n1") + F.lit(k) * F.lit(float(vocab)))
    )
    return (
        pairs.join(c2, ["w1", "w2"])
        .join(c1, ["w1"])
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            round9(F.avg(logp)).alias("avg_logp"),
        )
    )


def kn_bigram_logprob(
    docs: DataFrame,
    discount: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Interpolated Kneser-Ney bigram score per document (Kneser &
    Ney, ICASSP 1995; the interpolated form and D=0.75 per Chen &
    Goodman, 1999) — the canonical LM smoothing beside the add-k
    scorer: absolute discounting plus a CONTINUATION-count backoff
    (how many contexts a word follows, not how often it occurs), the
    estimator that made "San Francisco" not inflate P(Francisco|·).

        P_KN(w|v) = (c(v,w) − D)/c(v) + λ(v)·P_cont(w)
        λ(v)      = D·N1+(v·)/c(v)
        P_cont(w) = N1+(·w)/N1+(··)

    Scoring the training corpus itself, every scored bigram has
    c(v,w) ≥ 1 > D so the max(·,0) clamp never binds (asserted by
    construction, not branched). D = 0.75 is binary-exact, counts
    are exact longs, and the only floats are the final per-pair
    probability and the doc mean, 9-dp-quantized like the add-k
    scorer so both engines rank identical values.

    Shape at scale: the corpus-sized pair table checkpoint-
    materializes ONCE (five downstream uses: c2, c1, the two
    continuation-count tables, and the scoring probe — the triangle
    lesson; the add-k scorer has only two reuses and tolerates lazy
    recompute). All four count tables are vocabulary-sized partial
    aggs; N1+(··) is one scalar count. Zipf-skew note as in
    lm_bigram_logprob (AQE skew-join splits the hot "of the"-class
    keys)."""
    from realtime0523_spark.llm.clusters import _ckpt_tools

    t = tokens(F.col(text_col))
    n = F.size(t)
    base = docs.select(F.col(id_col), t.alias("__t")).filter(n > 1)
    ckpt, _release = _ckpt_tools(docs)
    pairs, _ = ckpt(
        base.select(
            id_col,
            F.explode(
                F.arrays_zip(
                    F.slice(F.col("__t"), 1, F.size("__t") - 1),
                    F.slice(F.col("__t"), 2, F.size("__t") - 1),
                )
            ).alias("__bg"),
        ).select(
            id_col,
            F.col("__bg").getField("0").alias("w1"),
            F.col("__bg").getField("1").alias("w2"),
        )
    )
    c2 = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n2"))
    c1 = pairs.groupBy("w1").agg(
        F.count(F.lit(1)).alias("n1"),
        F.count_distinct("w2").alias("n1l"),
    )
    n1r = pairs.groupBy("w2").agg(F.count_distinct("w1").alias("n1r"))
    # N1+(··): total distinct bigram types — 1-row exact collect (the
    # BM25 legality class), not a data collect
    b_types = int(pairs.select("w1", "w2").distinct().count())
    d = F.lit(float(discount))
    p_kn = (
        (F.col("n2").cast("double") - d) / F.col("n1").cast("double")
        + (d * F.col("n1l").cast("double") / F.col("n1").cast("double"))
        * (F.col("n1r").cast("double") / F.lit(float(b_types)))
    )
    logp = F.log(p_kn)
    return (
        pairs.join(c2, ["w1", "w2"])
        .join(c1, ["w1"])
        .join(n1r, ["w2"])
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            round9(F.avg(logp)).alias("avg_logp_kn"),
        )
    )


def domain_mix(
    docs: DataFrame,
    domain_cols: tuple[str, ...] = ("source", "lang"),
    text_col: str = "text",
) -> DataFrame:
    """Per-domain document and token counts plus each domain's share of
    corpus tokens — the input to mixture-weight tuning. The share's
    denominator is a window over the already-aggregated |domains| rows,
    not the corpus."""
    agg = docs.groupBy(*domain_cols).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col(text_col))).alias("n_tokens"),
    )
    total = F.sum("n_tokens").over(W.partitionBy())
    return agg.withColumn(
        "token_share", F.col("n_tokens").cast("double") / total.cast("double")
    )


def domain_mix_temperature(
    docs: DataFrame,
    alpha: float = 0.3,
    domain_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Temperature-scaled mixture weights — the multilingual-LM
    sampling recipe (Conneau & Lample, "Cross-lingual Language Model
    Pretraining", NeurIPS 2019 §3.1; the same α-sampling mBERT/XLM-R/
    mT5 use): given each domain's natural token share p_i, sample
    domain i with probability

        q_i = p_i^α / Σ_j p_j^α          (α ∈ (0, 1])

    α = 1 keeps the natural mix; α → 0 flattens toward uniform,
    up-sampling low-resource domains. Emits per domain: counts, the
    natural share p, the mixture weight q, and the up/down-sampling
    factor q/p (the number a sampler or epoch planner consumes —
    how many effective epochs of the domain one corpus pass yields).

    Exact-oracle contract: pow is the one transcendental — p_i^α is
    quantized to 9 dp before the normalization (same expression in
    SQL), q and q/p quantized on output. Everything runs on the
    |domains|-row aggregate; the corpus pays one partial-agg'd
    groupBy."""
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"temperature alpha must be in (0, 1], got {alpha}")
    agg = docs.groupBy(domain_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col(text_col))).alias("n_tokens"),
    )
    total = F.sum("n_tokens").over(W.partitionBy())
    p = F.col("n_tokens").cast("double") / total.cast("double")
    shared = agg.withColumn("p", p).withColumn(
        "p_alpha", round9(F.pow(F.col("p"), F.lit(alpha)))
    )
    z = F.sum("p_alpha").over(W.partitionBy())
    q = F.col("p_alpha") / z
    return shared.select(
        domain_col,
        "n_docs",
        "n_tokens",
        round9(F.col("p")).alias("token_share"),
        round9(q).alias("mix_weight"),
        round9(q / F.col("p")).alias("sample_factor"),
    )


def leakage_safe_split(
    docs: DataFrame,
    components: DataFrame,
    fractions: dict[str, float],
    salt: str = "leak-split-v1",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split assignment that cannot leak near-duplicates across
    splits: the split is decided by the doc's near-dup CLUSTER, not
    the doc — every member of a connected component lands in the same
    split. This is the eval-integrity rule behind train/test dedup
    (Lee et al., "Deduplicating Training Data Makes Language Models
    Better", ACL 2022 §6: near-dups of eval data inflate scores), and
    a plain per-doc hash split violates it whenever a cluster
    straddles the boundary.

    split_key = the cluster's canonical id (its minimum member id,
    from llm.clusters.connected_components), falling back to the doc's
    own id for singletons — then the same cumulative-fraction bucket
    hash as train_split, on the KEY. Docs of one cluster share the
    key, hence the split.

    Scale shape: `components` is duplicate-density-sized (only docs
    with a near-dup edge appear) and BROADCAST; the corpus pays a
    broadcast left join plus a per-row hash — no shuffle."""
    if not fractions:
        raise ValueError("split fractions must name at least one split")
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1, got {total}")
    keyed = docs.join(F.broadcast(components), id_col, "left").withColumn(
        "split_key", F.coalesce(F.col("cluster_id"), F.col(id_col))
    )
    b = hash_bucket(F.col("split_key"), salt)
    expr = None
    cum = 0.0
    items = list(fractions.items())
    for name, frac in items[:-1]:
        cum += frac
        bound = int(round(cum * BUCKETS))
        expr = (
            F.when(b < bound, F.lit(name))
            if expr is None
            else expr.when(b < bound, F.lit(name))
        )
    expr = F.lit(items[-1][0]) if expr is None else expr.otherwise(F.lit(items[-1][0]))
    return keyed.select(
        *[F.col(c) for c in docs.columns], F.col("split_key"), expr.alias("split")
    )


def training_order(
    docs: DataFrame,
    domain_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic stratified training order: a hash-pseudo-shuffle
    WITHIN each domain, quantile-interleaved ACROSS domains — so every
    contiguous slice of the resulting stream sees approximately the
    corpus's domain mix (the data-order property pretraining wants:
    no domain-clumped phases), yet the order is a pure function of the
    data (replay-identical across runs, engines, and restarts — no
    rand()).

    Key construction: within a domain, docs rank by md5(id) (the
    pseudo-shuffle); a doc at rank r of n maps to quantile
    (r - 0.5) / n; the global order is (quantile, domain, id) — i.e.
    the classic stratified round-robin by normalized position.

    Scale shape: one window per domain partition for the rank (a
    single hash exchange on the domain key, no global sort of
    anything wider than the rank key); the global position comes from
    `operators.layout.global_positions` — a sampled RANGE exchange +
    partition-local sort + per-partition offset arithmetic, the
    sharded-writer formulation — never a single-task
    `row_number() OVER (ORDER BY …)` window."""
    from realtime0523_spark.operators.layout import global_positions

    n = F.count(F.lit(1)).over(W.partitionBy(domain_col))
    r = F.row_number().over(
        W.partitionBy(domain_col).orderBy(
            md5_int32(F.col(id_col).cast("string")), id_col
        )
    )
    keyed = docs.select(
        id_col,
        F.col(domain_col).alias("domain"),
        ((r.cast("double") - 0.5) / n.cast("double")).alias("q"),
    )
    return global_positions(keyed, ["q", "domain", id_col]).select(
        id_col, "domain", "global_pos"
    )


def corpus_drift(
    docs_a: DataFrame,
    docs_b: DataFrame,
    domain_col: str = "source",
    text_col: str = "text",
    n_buckets: int | None = None,
) -> DataFrame:
    """Per-domain distribution DRIFT between two corpus snapshots:
    KL divergence in both directions over add-1-smoothed hashed
    unigram+bigram bucket multinomials (the DSIR feature space,
    Xie et al. NeurIPS 2023 §3.1) — the monitoring signal a
    continuously fed pipeline alarms on when a domain's crawl content
    shifts (new boilerplate, template change, spam influx), computed
    without storing vocabularies: two fixed-width count vectors per
    domain.

    A domain absent from one snapshot degrades gracefully to the
    uniform smoothed distribution (KL vs uniform = how concentrated
    the other side is). Log values are 9-dp-quantized (the DSIR
    convention) so both engines difference identical logs.

    Scale shape: one token-sized explode + partial-agg'd groupBy per
    snapshot into (domain, bucket) counts; everything after runs on
    |domains| x n_buckets meta-sized rows (the bucket grid comes from
    a per-domain sequence explode — no cartesian join).

    Returns (domain, n_terms_a, n_terms_b, kl_ab, kl_ba).
    """
    B = n_buckets or _drift_buckets()
    ca = domain_bucket_counts(docs_a, domain_col, text_col, B)
    cb = domain_bucket_counts(docs_b, domain_col, text_col, B)
    return drift_from_counts(ca, cb, B)


def _drift_buckets() -> int:
    from realtime0523_spark.llm.dsir import DSIR_BUCKETS

    return DSIR_BUCKETS


def domain_bucket_counts(
    docs: DataFrame,
    domain_col: str = "source",
    text_col: str = "text",
    n_buckets: int | None = None,
) -> DataFrame:
    """(domain, bucket, cnt): the hashed unigram+bigram profile of a
    corpus snapshot — one token-sized explode + partial-agg'd groupBy.
    ADDITIVE across batches/shards (counts sum), which is what lets
    the streaming drift monitor accumulate it incrementally."""
    from realtime0523_spark.llm.dsir import _ngram_terms

    B = n_buckets or _drift_buckets()
    return (
        docs.select(
            F.col(domain_col).alias("domain"),
            F.explode(_ngram_terms(F.col(text_col))).alias("term"),
        )
        .select("domain", (md5_int32(F.col("term")) % B).alias("bucket"))
        .groupBy("domain", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def drift_from_counts(
    ca: DataFrame, cb: DataFrame, n_buckets: int | None = None
) -> DataFrame:
    """The KL core of `corpus_drift`, over two prebuilt
    (domain, bucket, cnt) profiles — see corpus_drift for semantics."""

    B = n_buckets or _drift_buckets()
    ta = ca.groupBy("domain").agg(F.sum("cnt").alias("t_a"))
    tb = cb.groupBy("domain").agg(F.sum("cnt").alias("t_b"))
    grid = (
        ta.select("domain")
        .union(tb.select("domain"))
        .distinct()
        .select(
            "domain",
            F.explode(F.sequence(F.lit(0), F.lit(B - 1))).alias("bucket"),
        )
    )
    g = (
        grid.join(ca.withColumnRenamed("cnt", "n_a"), ["domain", "bucket"], "left")
        .join(cb.withColumnRenamed("cnt", "n_b"), ["domain", "bucket"], "left")
        .join(ta, "domain", "left")
        .join(tb, "domain", "left")
        .select(
            "domain",
            F.coalesce("n_a", F.lit(0)).alias("n_a"),
            F.coalesce("n_b", F.lit(0)).alias("n_b"),
            F.coalesce("t_a", F.lit(0)).alias("t_a"),
            F.coalesce("t_b", F.lit(0)).alias("t_b"),
        )
    )
    pa = (F.col("n_a") + 1).cast("double") / (F.col("t_a") + B).cast("double")
    pb = (F.col("n_b") + 1).cast("double") / (F.col("t_b") + B).cast("double")
    ln_a, ln_b = round9(F.log(pa)), round9(F.log(pb))
    return (
        g.select(
            "domain",
            "t_a",
            "t_b",
            (pa * (ln_a - ln_b)).alias("__kab"),
            (pb * (ln_b - ln_a)).alias("__kba"),
        )
        .groupBy("domain")
        .agg(
            F.max("t_a").cast("long").alias("n_terms_a"),
            F.max("t_b").cast("long").alias("n_terms_b"),
            round9(F.sum("__kab")).alias("kl_ab"),
            round9(F.sum("__kba")).alias("kl_ba"),
        )
    )


def snapshot_diff(
    snap_a: DataFrame,
    snap_b: DataFrame,
    id_col: str = "doc_id",
    fingerprint_col: str = "fp",
) -> DataFrame:
    """Per-id delta between two corpus snapshots: added / removed /
    changed / unchanged, decided by a content fingerprint — the
    audit-and-incremental-processing primitive of a periodically
    re-crawled corpus (process only `added`+`changed`, tombstone
    `removed`, skip `unchanged` — typically the overwhelming bulk).

    One full-outer equi-join on the id; with both snapshots bucketed
    by id at rest the join is co-located and shuffle-free. Returns
    (id, status, fp_a, fp_b). Ids must be unique WITHIN each snapshot
    (the usual snapshot invariant) — duplicate ids would multiply
    through the outer join; run exact_dedup first if unsure."""
    a = snap_a.select(F.col(id_col), F.col(fingerprint_col).alias("fp_a"))
    b = snap_b.select(F.col(id_col), F.col(fingerprint_col).alias("fp_b"))
    return a.join(b, id_col, "full_outer").select(
        id_col,
        F.when(F.col("fp_a").isNull(), F.lit("added"))
        .when(F.col("fp_b").isNull(), F.lit("removed"))
        .when(F.col("fp_a") == F.col("fp_b"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
        .alias("status"),
        "fp_a",
        "fp_b",
    )
