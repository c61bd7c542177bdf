"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Design for 100 TB:
- exact: one shuffle on the content hash (map-side partial agg).
- n-gram Jaccard: exact but quadratic in colliding shingles — the
  correctness baseline, not the scale path.
- MinHash+LSH: the scale path — signatures are a linear scan;
  candidate generation is an equi-join on (band, band_hash) buckets,
  so cost is bounded by true-ish-duplicate density, not n².
- SimHash: linear scan + band-bucketed hamming verification.

All hash arithmetic is integer math on values < 2^53 derived from
md5 hex prefixes — bit-identical in Spark and the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from realtime0523_spark.functions.scalar import round9
from realtime0523_spark.llm.text import tokens

# --- portable hashing constants (shared with the SQL oracle) ----------
MINHASH_PRIME = 4294967291  # largest 32-bit prime
MINHASH_PERMS = 16
MINHASH_BANDS = 4  # 4 bands × 4 rows
SIMHASH_BITS = 32
SIMHASH_BANDS = 4  # 4 bands × 8 bits


def perm_coeffs(i: int) -> tuple[int, int]:
    """(a, b) of the i-th universal-hash permutation h_i(x)=(a*x+b)%P.
    a odd and < 2^6, x < 2^32 ⇒ a*x+b < 2^39: exact in int64/double."""
    return 2 * i + 1, (i * 2654435761) % MINHASH_PRIME


def md5_int32(col: Column) -> Column:
    """First 8 md5 hex chars as an int in [0, 2^32) — the portable
    shingle/token hash (same expression exists in DuckDB)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 4,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every k-token gram, slide a
    w-gram window over the hash sequence, and keep each window's
    minimum hash. Guarantee: any shared substring of ≥ k+w-1 tokens
    between two documents yields at least one shared fingerprint —
    SUBSTRING-level overlap detection, complementing MinHash's
    set-level Jaccard (a reordered bag of the same words fools
    winnowing but not MinHash, and vice versa for a long verbatim
    quote inside otherwise-different docs).

    Emits (doc, fingerprint) pairs, distinct per doc. Everything is
    one per-row projection over token arrays — gram hashing, window
    minima, distinct — so the corpus never shuffles here; density is
    ~2/(w+1) of the gram count. Docs shorter than k+w-1 tokens emit
    nothing (no full window)."""
    t = tokens(F.col(text_col))
    base = docs.select(F.col(id_col), t.alias("__t")).filter(F.size(t) >= k + w - 1)
    # MATERIALIZE the gram-hash array in its own projection before the
    # window pass: inlining it inside the window lambda re-evaluates
    # the whole array per window position — O(n²) md5 calls per doc
    # (measured 46 s vs 2 s on the sf0.1 corpus).
    grams = (
        f"transform(sequence(1, size(__t) - {k - 1}), "
        f"i -> cast(conv(substring(md5(array_join(slice(__t, i, {k}), ' ')), 1, 8), 16, 10) as bigint))"
    )
    sel = (
        f"array_distinct(transform(sequence(1, size(__g) - {w - 1}), "
        f"j -> array_min(slice(__g, j, {w}))))"
    )
    return (
        base.select(id_col, F.expr(grams).alias("__g"))
        .select(id_col, F.explode(F.expr(sel)).alias("fingerprint"))
    )


def winnow_pairs(
    docs: DataFrame,
    min_shared: int = 2,
    max_df: int = 50,
    k: int = 4,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup candidate pairs by shared winnowing fingerprints:
    equi-join docs on the fingerprint value, count shared prints per
    pair, keep pairs sharing ≥ `min_shared`.

    Fingerprints present in more than `max_df` documents are dropped
    BEFORE the join (boilerplate grams — the classic stop-print
    filter): they pair everything with everything and carry no
    near-dup signal, and the cap is what keeps the join's per-key
    fan-out bounded at corpus scale (same role as LSH bucket width)."""
    fp = winnow_fingerprints(docs, k=k, w=w, id_col=id_col, text_col=text_col)
    rare = (
        fp.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= max_df)
        .select("fingerprint")
    )
    pruned = fp.join(rare, "fingerprint")
    a = pruned.select(F.col("fingerprint"), F.col(id_col).alias("doc_a"))
    b = pruned.select(F.col("fingerprint"), F.col(id_col).alias("doc_b"))
    return (
        a.join(b, "fingerprint")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


SPAN_K = 8


def _span_removed_positions(
    docs: DataFrame, k: int, id_col: str, text_col: str
) -> tuple[DataFrame, DataFrame]:
    """(base, rem) for the ExactSubstr-style excision: `base` is
    (id, __t token array) for every doc; `rem` is the compact per-doc
    set of removed token positions (1-based) — every position covered
    by a k-gram occurrence whose gram appears more than once in the
    corpus, except the gram's first (min (doc, pos)) occurrence.
    One |tokens|-sized shuffle of gram hashes; removed positions
    shuffle back per doc as one set."""
    t = tokens(F.col(text_col))
    base = docs.select(F.col(id_col), t.alias("__t"))
    grams_expr = (
        f"transform(sequence(1, size(__t) - {k - 1}), "
        f"i -> struct(i AS pos, md5(array_join(slice(__t, i, {k}), ' ')) AS g))"
    )
    g = (
        base.filter(F.size("__t") >= k)
        .select(id_col, F.explode(F.expr(grams_expr)).alias("e"))
        .select(id_col, F.col("e.pos").alias("pos"), F.col("e.g").alias("g"))
    )
    stats = g.groupBy("g").agg(
        F.count(F.lit(1)).alias("occ"),
        F.min(F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p"))).alias(
            "first"
        ),
    )
    removed_occ = g.join(stats.filter(F.col("occ") >= 2), "g").filter(
        ~((F.col(id_col) == F.col("first.d")) & (F.col("pos") == F.col("first.p")))
    )
    rem = (
        removed_occ.select(
            id_col,
            F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))).alias(
                "tp"
            ),
        )
        .groupBy(id_col)
        .agg(F.collect_set("tp").alias("__rm"))
    )
    return base, rem


def span_dedup(
    docs: DataFrame,
    k: int = SPAN_K,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Duplicated-span EXCISION: remove every k-token gram that occurs
    more than once in the corpus, keeping only its first occurrence
    (min (doc, position)) — the distributed, gram-exact form of
    ExactSubstr dedup (Lee, Ippolito et al., "Deduplicating Training
    Data Makes Language Models Better", ACL 2022, which removes
    duplicate ≥50-token substrings with a suffix array; a single
    corpus-wide suffix array does not distribute, duplicated fixed-k
    grams do and catch every duplicated substring of length ≥ k).
    `k` maps to the paper's span threshold — their reported setting is
    50 tokens (`k=50`); the default 8 suits short-document corpora
    like the test fixtures. `span_stats` is the paper's companion
    merged-span report at the same k.

    Unlike winnow_pairs (which DETECTS overlapping docs), this edits
    the text: a token survives unless covered by a removed gram
    occurrence. Returns every input doc as
    (doc, clean_text, n_tokens, n_removed).

    Scale shape: one |tokens|-sized shuffle groups gram hashes (with
    map-side partial ordering work bounded per gram), the removed
    POSITIONS — typically a small fraction — shuffle back per doc as
    one compact set per doc, and the excision itself is a per-row
    array filter. The full token stream never shuffles twice; no
    driver-side state."""
    base, rem = _span_removed_positions(docs, k, id_col, text_col)
    merged = base.join(rem, id_col, "left").withColumn(
        "__rm", F.coalesce(F.col("__rm"), F.array().cast("array<int>"))
    )
    keep_expr = (
        "filter(transform(__t, (x, i) -> struct(x AS tok, i + 1 AS tp)), "
        "p -> NOT array_contains(__rm, p.tp))"
    )
    return merged.select(
        F.col(id_col),
        F.array_join(F.expr(f"transform({keep_expr}, p -> p.tok)"), " ").alias(
            "clean_text"
        ),
        F.size("__t").alias("n_tokens"),
        (F.size("__t") - F.size(F.expr(keep_expr))).alias("n_removed"),
    )


def span_stats(
    docs: DataFrame,
    k: int = SPAN_K,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Merged-span accounting for span_dedup — the report ExactSubstr
    (Lee et al. ACL 2022 §4) publishes alongside the edit: adjacent
    removed token positions merge into MAXIMAL spans (their duplicated
    substrings), and the output is the corpus span-length histogram
    (span_len, n_spans). Overlapping duplicate grams thus count as ONE
    long span, not k-sized fragments — the number the paper uses to
    characterize how duplication clusters.

    Same one-shuffle gram pass as span_dedup; the merge itself is a
    per-row fold over each doc's sorted removed-position set (no extra
    shuffle — the histogram's |distinct-lengths| groupBy is the only
    one added)."""
    _, rem = _span_removed_positions(docs, k, id_col, text_col)
    # run-length fold: state (lens, prev, cur); consecutive positions
    # extend the current span, a gap closes it
    lens_expr = (
        "aggregate(array_sort(__rm), "
        "struct(cast(array() as array<int>) AS lens, -2 AS prev, 0 AS cur), "
        "(acc, p) -> CASE "
        "  WHEN acc.cur = 0 THEN struct(acc.lens AS lens, p AS prev, 1 AS cur) "
        "  WHEN p = acc.prev + 1 THEN "
        "    struct(acc.lens AS lens, p AS prev, acc.cur + 1 AS cur) "
        "  ELSE struct(array_append(acc.lens, acc.cur) AS lens, "
        "              p AS prev, 1 AS cur) END, "
        "acc -> IF(acc.cur > 0, array_append(acc.lens, acc.cur), acc.lens))"
    )
    return (
        rem.select(F.explode(F.expr(lens_expr)).alias("span_len"))
        .groupBy("span_len")
        .agg(F.count(F.lit(1)).alias("n_spans"))
    )


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """One row per distinct content hash: the kept (minimum) id and
    the copy count. Hash-groupBy — the canonical exact dedup."""
    return (
        docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("kept_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def segment_dedup(
    docs: DataFrame,
    seg_tokens: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Paragraph-granular corpus dedup, CCNet-style (Wenzek et al.,
    "CCNet: Extracting High Quality Monolingual Datasets from Web
    Crawl Data", LREC 2020 §3.1): documents are cut into fixed units,
    each unit's normalized hash is counted corpus-wide, and every
    occurrence EXCEPT the first is dropped — so boilerplate repeated
    across pages (headers, navigation, license blurbs) disappears
    while one canonical copy survives. CCNet's unit is the newline-
    delimited paragraph; the test corpus is single-line, so the unit
    here is the non-overlapping `seg_tokens`-token window (the same
    fixed-unit semantics — swap `chunk_tokens(.., seg_tokens,
    seg_tokens)` for a newline split on a corpus that has paragraph
    structure). "First" is the global (doc_id, seg_idx) minimum —
    deterministic, order-independent.

    Differs from span_dedup (ExactSubstr): spans excise EVERY
    duplicated occurrence at gram granularity and operate on
    arbitrary-offset overlaps; segments are aligned units and keep
    one copy — CCNet's cheaper boilerplate-removal pass that runs
    BEFORE near-dup MinHash in a production pipeline.

    Scale shape: the unit explode is |tokens|/seg_tokens rows; the
    only data-sized shuffle is the hash-partitioned first-occurrence
    window (rows grouped by segment hash — duplicate-density bounded
    per group), then one doc-keyed groupBy reassembles. No UDFs, no
    driver state; both shuffles are rows ≤ |corpus tokens|/W.

    Returns every input doc (even fully-deduped or token-less ones)
    as (doc, clean_text, n_segs, n_removed).
    """
    from pyspark.sql import Window

    if seg_tokens <= 0:
        raise ValueError(f"seg_tokens must be positive, got {seg_tokens}")
    from realtime0523_spark.llm.text import chunk_tokens

    segs = chunk_tokens(docs, seg_tokens, seg_tokens, id_col, text_col)
    w = Window.partitionBy(F.md5("chunk_text")).orderBy(id_col, "chunk_id")
    flagged = segs.withColumn("__keep", F.row_number().over(w) == 1)
    agg = flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_segs"),
        F.sum((~F.col("__keep")).cast("int")).alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__keep"),
                            F.struct(
                                F.col("chunk_id").alias("i"),
                                F.col("chunk_text").alias("s"),
                            ),
                        )
                    )
                ),
                lambda p: p["s"],
            ),
            " ",
        ).alias("clean_text"),
    )
    # token-less docs emit no chunks; restore them with empty stats so
    # the operator is total over its input
    return (
        docs.select(F.col(id_col))
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_segs", F.lit(0)).cast("long").alias("n_segs"),
            F.coalesce("n_removed", F.lit(0)).cast("long").alias("n_removed"),
        )
    )


def shingle_arrays(
    docs: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, shs) — each doc's DISTINCT word n-gram shingles as one
    array column, produced by a fused Arrow-batched kernel (identical
    output to llm.text.word_shingles — same re.ASCII whitespace split,
    same space join, set() == array_distinct): the JVM higher-order
    transform/slice/concat chain is interpreted per element and shows
    up 3× in the Jaccard plan (doc counts + both self-join sides),
    which made it the dominant cost of the exact-Jaccard baseline.

    Public since round-14 so a query that needs BOTH the exact-Jaccard
    rows and the MinHash signatures (docs_minhash_eval) can tokenize
    the corpus ONCE, checkpoint this table, and feed it to
    `ngram_jaccard_pairs(shingles=...)` and
    `minhash_lsh_pairs(shingles=...)` (guide §2.4: don't compute
    things twice). Docs with < n tokens carry an empty array."""
    import re

    import pandas as pd
    from pyspark.sql import types as T

    ws = re.compile(r"\s+", re.ASCII)

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def shingles_udf(texts):
        out = []
        for t in texts:
            toks = [x for x in ws.split(t) if x]
            if len(toks) < n:
                out.append([])
                continue
            out.append(
                list({" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)})
            )
        return pd.Series(out)

    return docs.select(
        F.col(id_col).alias("doc_id"), shingles_udf(F.col(text_col)).alias("shs")
    )


def _shingle_rows(docs: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(doc_id, shingle) rows, one per DISTINCT word n-gram per doc
    (explode of `shingle_arrays`; empty arrays — docs below the
    shingle length — vanish in the explode, as before)."""
    return shingle_arrays(docs, n, id_col, text_col).select(
        "doc_id", F.explode("shs").alias("sh")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_docs: int | None = 100_000,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard similarity over word-n-gram shingle sets for every
    colliding pair (doc_a < doc_b), filtered to >= threshold.

    inter(a,b) from a shingle self-join; |A|,|B| from per-doc counts;
    J = inter / (|A|+|B|-inter). Exact — the oracle for MinHash.

    THIS IS THE CORRECTNESS BASELINE, NOT THE SCALE PATH: the shingle
    self-join is quadratic in colliding shingles, so by default it
    refuses corpora above `max_docs` rows (the probe is an
    early-stopping limit(n+1).count(), not a full scan). Near-dup
    detection on a large corpus belongs to `minhash_lsh_pairs` (same
    semantics, bucketed candidates, linear scan); pass `max_docs=None`
    only to verify the approximate path on a deliberately small sample.

    `shingles`: an optional prebuilt `shingle_arrays(docs, n)` table
    (round-14) — pass it when another consumer shares the same
    tokenization so the corpus is shingled once; identical rows either
    way (the explode of the same kernel's arrays).
    """
    if max_docs is not None:
        probe = docs.limit(max_docs + 1).count()
        if probe > max_docs:
            raise ValueError(
                f"ngram_jaccard_pairs is the quadratic exact baseline and "
                f"refuses corpora > {max_docs} docs; use minhash_lsh_pairs "
                f"for near-dup detection at scale, or pass max_docs=None "
                f"to opt into the full exact scan."
            )
    s = (
        shingles.select("doc_id", F.explode("shs").alias("sh"))
        if shingles is not None
        else _shingle_rows(docs, id_col, text_col, n)
    )
    cnt = s.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = s.alias("a")
    b = s.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    joined = (
        inter.join(cnt.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
        .join(cnt.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
    )
    jac = F.col("inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("inter")
    ).cast("double")
    return (
        joined.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_signatures(
    docs: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Per-doc MinHash signature: sig_i = min over shingles of
    (a_i * md5_int32(sh) + b_i) % P, i in [0, MINHASH_PERMS).

    Computed per document inside one Arrow-batched kernel (tokenize →
    shingle → md5 → 16 universal-hash mins, all in-process): no
    explode, no shuffle of |doc|×|shingles| rows — the signature pass
    is a pure map over the corpus, which is the property that matters
    at 100 TB (the only shuffle in the whole dedup is the tiny
    band-bucket join). Python's md5/int arithmetic is bit-identical to
    the JVM/DuckDB expressions (md5 hex → int32, exact int64 math —
    see the docstring constants), so the SQL oracle still matches
    exactly. Docs with no shingles (< n tokens) have no signature.

    The explode+groupBy formulation this replaces spent its time
    materializing shingle rows through the aggregate; measured ~10×
    slower at sf0.1 than the fused kernel.

    `shingles`: an optional prebuilt `shingle_arrays(docs, n)` table
    (round-14) — the kernel then skips tokenization and hashes the
    given shingle sets directly; identical signatures (the min-reduce
    is order-invariant over the same shingle set, and docs with an
    empty array get none — exactly the < n-tokens rule).
    """
    import hashlib
    import re

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    coeffs = np.array([perm_coeffs(i) for i in range(MINHASH_PERMS)], dtype=np.int64)
    a_col = coeffs[:, 0:1]  # (perms, 1)
    b_col = coeffs[:, 1:2]
    # \s with re.ASCII == Java/RE2 [ \t\n\x0b\f\r] — tokenizer parity
    ws = re.compile(r"\s+", re.ASCII)

    def _mins_from_flat(flat, starts, keep):
        # every permutation-min via ONE vectorized (a*x+b) % P and
        # np.minimum.reduceat — the Python loop only tokenizes and
        # hashes; all arithmetic is numpy.
        # (a < 2^6, x < 2^32 ⇒ a*x+b < 2^39: exact in int64.)
        out: list[list[int] | None] = []
        if starts:
            x = np.array(flat, dtype=np.int64)
            hashed = (a_col * x[None, :] + b_col) % MINHASH_PRIME  # (perms, N)
            mins = np.minimum.reduceat(hashed, np.array(starts), axis=1)  # (perms, docs)
            sigs = iter(mins.T.tolist())
            out = [next(sigs) if k else None for k in keep]
        else:
            out = [None for _ in keep]
        return pd.Series(out)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig_udf(texts):
        # one flat array of shingle hashes for the whole Arrow batch +
        # per-doc boundaries
        flat: list[int] = []
        starts: list[int] = []
        keep: list[bool] = []
        for t in texts:
            toks = [x for x in ws.split(t) if x]
            if len(toks) < n:
                keep.append(False)
                continue
            keep.append(True)
            starts.append(len(flat))
            flat.extend(
                int(hashlib.md5(s.encode("utf-8")).hexdigest()[:8], 16)
                for s in {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
            )
        return _mins_from_flat(flat, starts, keep)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig_from_arrays_udf(arrs):
        flat: list[int] = []
        starts: list[int] = []
        keep: list[bool] = []
        for arr in arrs:
            if arr is None or len(arr) == 0:
                keep.append(False)
                continue
            keep.append(True)
            starts.append(len(flat))
            flat.extend(
                int(hashlib.md5(s.encode("utf-8")).hexdigest()[:8], 16)
                for s in arr
            )
        return _mins_from_flat(flat, starts, keep)

    if shingles is not None:
        sig = shingles.select(
            "doc_id", sig_from_arrays_udf(F.col("shs")).alias("__sig")
        ).filter(F.col("__sig").isNotNull())
    else:
        sig = docs.select(
            F.col(id_col).alias("doc_id"), sig_udf(F.col(text_col)).alias("__sig")
        ).filter(F.col("__sig").isNotNull())
    return sig.select(
        "doc_id", *[F.col("__sig")[i].alias(f"sig_{i}") for i in range(MINHASH_PERMS)]
    )


def band_buckets(sig: DataFrame) -> DataFrame:
    """(doc_id, band, bh) rows from a signature frame: band hash =
    md5 of the band INDEX plus the band's comma-joined signature
    rows. One posexplode per signature row — a single scan, not a
    BANDS-way union of scans.

    The band index is baked INTO the hash so `bh` alone is a complete
    bucket key: equal bh ⇒ same band AND same band contents. That
    keeps every downstream join single-column — which is what lets a
    persisted index bucketed by bh serve probes with zero index-side
    shuffle (a composite (band, bh) join key is incompatible with
    single-column bucketing and makes the planner disable the
    bucketed scan)."""
    rows_per_band = MINHASH_PERMS // MINHASH_BANDS
    band_hashes = F.array(
        *[
            F.md5(
                F.concat_ws(
                    ",",
                    F.lit(str(band)),
                    *[
                        F.col(f"sig_{band * rows_per_band + r}").cast("string")
                        for r in range(rows_per_band)
                    ],
                )
            )
            for band in range(MINHASH_BANDS)
        ]
    )
    return sig.select("doc_id", F.posexplode(band_hashes).alias("band", "bh"))


def minhash_index(
    docs: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """Build the PERSISTENT near-dup index for a corpus: returns
    (buckets, sigs) where buckets = (doc_id, band, bh) and sigs =
    (doc_id, sig_0..sig_{PERMS-1}).

    This is the artifact an incremental crawl pipeline keeps between
    batches: appending a new batch is just unioning ITS bucket/sig
    rows (signatures are per-doc and order-independent), so the index
    never rebuilds. At rest, write buckets partitioned/bucketed by
    `bh` and sigs by `doc_id` so the novelty join and the verification
    join are both co-located, shuffle-free reads."""
    sig = minhash_signatures(docs, n, id_col, text_col)
    return band_buckets(sig), sig


def minhash_novelty(
    incoming: DataFrame,
    index_buckets: DataFrame,
    index_sigs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental dedup: match an INCOMING batch against a prebuilt
    corpus index (`minhash_index`) without touching corpus text — the
    don't-re-ingest-what-the-crawl-already-has gate every continuously
    fed training pipeline runs (same bucketed-candidates semantics as
    minhash_lsh_pairs, restricted to new×indexed pairs).

    Per incoming doc the BEST match wins: max est_sim, ties to the
    smallest indexed doc_id. Docs below the shingle length (no
    signature) are trivially novel. Returns every incoming doc as
    (doc, match_doc_id nullable, est_sim nullable, is_novel).

    Scale shape: the incoming batch is small relative to the index;
    its band hashes equi-join the bucket table (touching only matching
    buckets — with the index bucketed by `bh`, no index-side shuffle),
    candidates then fetch exactly the candidate corpus signatures by
    doc_id. Nothing corpus-sized ever scans or shuffles."""
    sig_new = minhash_signatures(incoming, n, id_col, text_col)
    # the probe joins on bh ALONE — complete by construction (the
    # band index is hashed into bh), so an index bucketed by bh
    # serves this with zero index-side shuffle (plan-asserted in
    # tests/test_scale_plans.py)
    cand = (
        band_buckets(sig_new)
        .select(F.col("doc_id").alias("new_id"), "bh")
        .join(
            index_buckets.select(F.col("doc_id").alias("old_id"), "bh"), "bh"
        )
        .select("new_id", "old_id")
        .distinct()
    )
    sa = index_sigs.select(
        F.col("doc_id").alias("old_id"),
        *[F.col(f"sig_{i}").alias(f"a_{i}") for i in range(MINHASH_PERMS)],
    )
    sb = sig_new.select(
        F.col("doc_id").alias("new_id"),
        *[F.col(f"sig_{i}").alias(f"b_{i}") for i in range(MINHASH_PERMS)],
    )
    agree = sum(
        F.when(F.col(f"a_{i}") == F.col(f"b_{i}"), 1).otherwise(0)
        for i in range(MINHASH_PERMS)
    )
    from pyspark.sql import Window

    best = (
        cand.join(sa, "old_id")
        .join(sb, "new_id")
        .withColumn("est_sim", agree.cast("double") / F.lit(float(MINHASH_PERMS)))
        .filter(F.col("est_sim") >= threshold)
        .withColumn(
            "__rk",
            F.row_number().over(
                Window.partitionBy("new_id").orderBy(
                    F.col("est_sim").desc(), F.col("old_id")
                )
            ),
        )
        .filter(F.col("__rk") == 1)
        .select("new_id", F.col("old_id").alias("match_doc_id"), "est_sim")
    )
    return (
        incoming.select(F.col(id_col))
        .join(best.withColumnRenamed("new_id", id_col), id_col, "left")
        .select(
            id_col,
            "match_doc_id",
            "est_sim",
            F.col("match_doc_id").isNull().alias("is_novel"),
        )
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup candidates, verified on the full signature.

    Banding: MINHASH_BANDS bands of MINHASH_PERMS/MINHASH_BANDS rows;
    docs sharing any band's hash become candidates (equi-join on the
    band bucket — never a cross join). Candidates are scored by
    signature agreement est_sim = |{i: sig_a_i = sig_b_i}| / perms and
    kept when est_sim >= threshold. `shingles`: optional prebuilt
    `shingle_arrays` table shared with another consumer (round-14).
    """
    sig = minhash_signatures(docs, n, id_col, text_col, shingles=shingles).cache()
    buckets = band_buckets(sig)

    a = buckets.alias("a")
    b = buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )

    sa = sig.select(F.col("doc_id").alias("doc_a"), *[F.col(f"sig_{i}").alias(f"a_{i}") for i in range(MINHASH_PERMS)])
    sb = sig.select(F.col("doc_id").alias("doc_b"), *[F.col(f"sig_{i}").alias(f"b_{i}") for i in range(MINHASH_PERMS)])
    verified = cand.join(sa, "doc_a").join(sb, "doc_b")
    agree = sum(
        F.when(F.col(f"a_{i}") == F.col(f"b_{i}"), 1).otherwise(0)
        for i in range(MINHASH_PERMS)
    )
    est = agree.cast("double") / F.lit(float(MINHASH_PERMS))
    return (
        verified.withColumn("est_sim", est)
        .filter(F.col("est_sim") >= threshold)
        .select("doc_a", "doc_b", "est_sim")
    )


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """32-bit SimHash over token counts: bit j of the fingerprint is
    set iff Σ_tokens count * (bit_j(md5_int32(token)) ? +1 : -1) > 0.

    One fused Arrow-batched kernel per document (tokenize → count →
    md5 → numpy bit-sum) — a pure map, no token explode/shuffle; same
    rationale and bit-exact parity story as `minhash_signatures`."""
    import hashlib
    import re
    from collections import Counter

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    bit_idx = np.arange(SIMHASH_BITS, dtype=np.int64)
    weights = (np.int64(1) << bit_idx).astype(np.int64)
    ws = re.compile(r"\s+", re.ASCII)

    @F.pandas_udf(T.LongType())
    def simhash_udf(texts):
        out = []
        for t in texts:
            counts = Counter(x for x in ws.split(t) if x)
            if not counts:
                out.append(None)  # token-less doc: no fingerprint (matches oracle)
                continue
            hs = np.array(
                [
                    int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:8], 16)
                    for tok in counts
                ],
                dtype=np.int64,
            )
            cs = np.array(list(counts.values()), dtype=np.int64)
            bits = (hs[:, None] >> bit_idx[None, :]) & 1  # (n_tok, 32)
            sums = np.where(bits == 1, cs[:, None], -cs[:, None]).sum(axis=0)
            out.append(int(weights[sums > 0].sum()))
        return pd.Series(out)

    return docs.select(
        F.col(id_col).alias("doc_id"), simhash_udf(F.col(text_col)).alias("simhash")
    ).filter(F.col("simhash").isNotNull())


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance <= max_hamming.
    Candidates via SIMHASH_BANDS byte-bands (pigeonhole: any pair with
    hamming < bands must agree on >= one band) — equi-join, no n²."""
    sh = simhash(docs, id_col, text_col).cache()
    band_bits = SIMHASH_BITS // SIMHASH_BANDS
    band_values = F.array(
        *[
            F.expr(f"shiftright(simhash, {band * band_bits}) & {(1 << band_bits) - 1}")
            for band in range(SIMHASH_BANDS)
        ]
    )
    bands = sh.select(
        "doc_id", "simhash", F.posexplode(band_values).alias("band", "bv")
    )
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.expr("sh_a ^ sh_b"))
    return (
        cand.withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def ppjoin_pairs(
    docs: DataFrame,
    threshold_num: int = 4,
    threshold_den: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """EXACT set-similarity join at Jaccard >= num/den (default 4/5)
    over word-n-gram SHINGLE sets — the same semantic domain as
    `ngram_jaccard_pairs` — via prefix filtering (Xiao, Wang, Lin &
    Yu, "Efficient similarity joins for near duplicate detection",
    WWW 2008: the PPJoin prefix filter, without the positional
    refinement).

    Where `ngram_jaccard_pairs` is the quadratic baseline that
    REFUSES large corpora and `minhash_lsh_pairs` trades recall for
    scale, prefix filtering gives the exact answer without the
    all-pairs shingle join: order each doc's shingles by ascending
    document frequency (rare first, ties by shingle), keep only the
    first n_sh - ceil(t·n_sh) + 1 as the PREFIX, and join docs on
    shared prefix shingles — any pair with Jaccard >= t is guaranteed
    to collide (pigeonhole: disjoint prefixes would already spend
    more misses than 1-t allows). The registered oracle is the
    brute-force all-pairs join, so the hash match IS the losslessness
    proof. A length filter (den·min >= num·max, necessary for
    J >= t) prunes candidates before verification.

    Exactness discipline: the prefix length uses INTEGER ceiling
    ((num·n_sh + den - 1) div den) — a float 0.8·n_sh lands above the
    exact integer at n_sh=10 and would silently shorten the prefix —
    and the threshold test is the integer cross-multiplication
    den·inter >= num·(n_a + n_b - inter); no float compares anywhere.

    At 100 TB: candidate volume is the sum over prefix shingles of
    their prefix-occurrence-list squares — df-ascending ordering
    concentrates prefixes on RARE shingles, keeping those lists
    short; the verify join fans out |candidates| x doc shingles. One
    equi-keyed, partial-agg'd shuffle each for df counts, prefix
    ranks, the candidate join, and the verify count.
    """
    from pyspark.sql import Window as W

    sh = _shingle_rows(docs, id_col, text_col, n)
    dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    cnt = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    ordered = (
        sh.join(dfreq, "sh")
        .withColumn(
            "pos",
            F.row_number().over(W.partitionBy("doc_id").orderBy("df", "sh")),
        )
        .join(cnt, "doc_id")
    )
    prefix = ordered.filter(
        F.col("pos")
        <= F.col("n_sh")
        - F.expr(
            f"div({threshold_num} * n_sh + {threshold_den} - 1, {threshold_den})"
        )
        + F.lit(1)
    ).select("doc_id", "sh", "n_sh")
    pa = prefix.select(
        F.col("doc_id").alias("doc_a"), "sh", F.col("n_sh").alias("n_a")
    )
    pb = prefix.select(
        F.col("doc_id").alias("doc_b"), "sh", F.col("n_sh").alias("n_b")
    )
    cand = (
        pa.join(pb, "sh")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (
                F.lit(threshold_den) * F.least("n_a", "n_b")
                >= F.lit(threshold_num) * F.greatest("n_a", "n_b")
            )
        )
        .select("doc_a", "doc_b", "n_a", "n_b")
        .distinct()
    )
    sa = sh.select(F.col("doc_id").alias("doc_a"), "sh")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "sh")
    inter = (
        cand.join(sa, "doc_a")
        .join(sb, ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    keep = inter.filter(
        F.lit(threshold_den) * F.col("inter")
        >= F.lit(threshold_num) * (F.col("n_a") + F.col("n_b") - F.col("inter"))
    )
    jac = F.col("inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("inter")
    ).cast("double")
    return keep.select("doc_a", "doc_b", round9(jac).alias("jaccard"))
