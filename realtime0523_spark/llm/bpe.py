"""BPE tokenizer training — byte-pair-encoding merge learning
(Sennrich, Haddow, Birch, "Neural Machine Translation of Rare Words
with Subword Units", ACL 2016; the algorithm behind GPT/Llama
tokenizers).

Distributed shape (the classic trainer optimization, done Spark-
sized): ONE corpus-sized shuffle builds the (word, freq) vocabulary
table, and every merge round then runs on |vocab| rows only — pair
counts are a partial-agg'd groupBy over per-word adjacent symbol
pairs weighted by word frequency, the winning pair is a 1-row argmax
collect (the same driver-side step every BPE trainer performs, on a
|distinct-pairs|-sized aggregate), and applying the merge is a
per-row string replace. At 100 TB the corpus is touched exactly
once; training cost scales with vocabulary, not corpus size.

Representation & merge semantics (shared bit-for-bit with the SQL
oracle, plans/llm_inventory.docs_bpe_merges):
- a word's symbol sequence is the string " s1 s2 … sn " — every
  symbol delimited by single spaces, with leading/trailing sentinels
  (no symbol contains a space: symbols are whitespace-split tokens'
  characters and their concatenations);
- merging (a, b) → ab is BPE's GREEDY LEFT-TO-RIGHT scan: walk the
  symbol list once, merge at every adjacent (a, b) and skip past the
  merged pair. Implemented as a higher-order-function fold over the
  symbol array (state = (emitted symbols, pending symbol)) — NOT a
  string replace: for odd-length runs of a self-pair, replace-based
  merging yields [aa, a, aa] for 'aaaaa' where greedy BPE (and
  segment_word) yields [aa, aa, a], and the trainer's later-round
  pair counts diverge from true BPE. The DuckDB oracle replays the
  identical fold with list_reduce (accumulator encoded as
  out || chr(1) || pending — tokens never contain control chars).

Determinism: count ties break lexicographically on (left, right) — a
fixed total order both engines share (HF's insertion-order tiebreak
is deliberately replaced; documented deviation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from realtime0523_spark.core import gates
from realtime0523_spark.llm.text import tokens


def word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) vocabulary table — the one corpus-sized pass."""
    return (
        docs.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _spaced(col):
    """'low' → ' l o w ': one symbol per character, space-delimited
    with boundary sentinels. DOTALL, so the line separators a token can
    hold (U+0085, U+2028, U+2029) are symbols too, as in `list(w)`."""
    return F.concat(
        F.lit(" "), F.trim(F.regexp_replace(col, "(?s)(.)", "$1 ")), F.lit(" ")
    )


def _apply_merge(syms, left: str, right: str):
    """Greedy left-to-right merge of adjacent (left, right) pairs over
    the spaced symbol string — one fold pass per word, the exact scan
    segment_word performs (odd self-pair runs included: 'a a a a a' →
    'aa aa a', never 'aa a aa').

    Guarded by a cheap JVM substring test: the higher-order fold is
    interpreted per symbol, and most vocabulary words do not contain
    the round's pair — on those the fold is the identity (the spaced
    representation is canonical), so it is skipped outright (measured
    ~40% off the whole trainer at sf0.1). The SQL oracle runs the
    unguarded fold; identity on non-matching rows keeps them equal."""
    merged = F.lit(left + right)
    pat = F.lit(f" {left} {right} ")

    def step(acc, x):
        return (
            F.when(
                acc["prev"] == "",
                F.struct(acc["out"].alias("out"), x.alias("prev")),
            )
            .when(
                (acc["prev"] == F.lit(left)) & (x == F.lit(right)),
                F.struct(
                    F.array_append(acc["out"], merged).alias("out"),
                    F.lit("").alias("prev"),
                ),
            )
            .otherwise(
                F.struct(
                    F.array_append(acc["out"], acc["prev"]).alias("out"),
                    x.alias("prev"),
                )
            )
        )

    def fin(acc):
        return F.when(acc["prev"] == "", acc["out"]).otherwise(
            F.array_append(acc["out"], acc["prev"])
        )

    arr = F.aggregate(
        F.split(F.trim(syms), " "),
        F.struct(
            F.array().cast("array<string>").alias("out"), F.lit("").alias("prev")
        ),
        step,
        fin,
    )
    folded = F.concat(F.lit(" "), F.array_join(arr, " "), F.lit(" "))
    return F.when(F.contains(syms, pat), folded).otherwise(syms)


def pair_counts(vocab: DataFrame) -> DataFrame:
    """(l, r, n): adjacent-pair counts over the vocab table, weighted
    by word frequency; overlapping occurrences count (BPE counting)."""
    return (
        # guard BEFORE the sequence: Spark's sequence(1, 0) counts DOWN
        # ([1, 0]), so a single-symbol word would emit a bogus
        # (null, sym) pair instead of nothing
        vocab.filter(F.expr("size(split(trim(syms), ' ')) >= 2"))
        .select(
            F.col("freq"),
            F.explode(
                F.expr(
                    "transform(sequence(1, size(split(trim(syms), ' ')) - 1), "
                    "i -> struct(split(trim(syms), ' ')[i - 1] AS l, "
                    "split(trim(syms), ' ')[i] AS r))"
                )
            ).alias("p"),
        )
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("freq").alias("n"))
    )


def _greedy_merge(syms: list, a: str, b: str) -> list:
    """One greedy left-to-right merge pass (segment_word's inner
    loop — the exact _apply_merge fold semantics, odd self-pair runs
    included)."""
    out: list = []
    i = 0
    n = len(syms)
    while i < n:
        if i + 1 < n and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _train_merges_driver(
    words: "list[tuple[str, int]]", n_merges: int, wordpiece: bool
) -> list[tuple[str, str]]:
    """Driver-side merge learning over a collected (word, freq)
    vocabulary — bit-identical to the distributed rounds:

    - pair counts are freq-weighted adjacent-position counts
      (overlapping occurrences count, words of one symbol emit none)
      == pair_counts;
    - the WordPiece score n/(nl·nr) is the same IEEE double division,
      both operands rounded to double first as Spark's
      `cast(n as double) / (nl * nr)` does (symbol counts include
      single-symbol words, == wordpiece.symbol_counts);
    - argmax tie-breaks lexicographically on (left, right) — Python
      str comparison is code-point order, which equals Spark's
      binary UTF-8 string order (UTF-8 preserves code-point order);
    - the merge application is the greedy left-to-right fold
      (_greedy_merge == _apply_merge == segment_word).
    """
    syms_list = [list(w) for w, _ in words]
    freqs = [f for _, f in words]
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pc: dict = {}
        sc: dict = {}
        for syms, f in zip(syms_list, freqs):
            for i in range(len(syms) - 1):
                k = (syms[i], syms[i + 1])
                pc[k] = pc.get(k, 0) + f
            if wordpiece:
                for s in syms:
                    sc[s] = sc.get(s, 0) + f
        if not pc:
            break
        if wordpiece:
            best = min(
                pc.items(),
                key=lambda kv: (
                    -(float(kv[1]) / float(sc[kv[0][0]] * sc[kv[0][1]])),
                    kv[0][0],
                    kv[0][1],
                ),
            )
        else:
            best = min(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        a, b = best[0]
        merges.append((a, b))
        pat_a, pat_b = a, b
        for idx, syms in enumerate(syms_list):
            # cheap containment test before the fold — the
            # _apply_merge guard's twin
            for i in range(len(syms) - 1):
                if syms[i] == pat_a and syms[i + 1] == pat_b:
                    syms_list[idx] = _greedy_merge(syms, a, b)
                    break
    return merges


def _collect_vocab(
    vocab_wf: DataFrame,
) -> "tuple[list[tuple[str, int]] | None, DataFrame]":
    """(words-or-None, pinned): collects the (word, freq) rows when
    the MEASURED vocabulary fits the driver gate. Either way the
    corpus-sized pass runs exactly once — `pinned` is the
    checkpointed |vocab| table, and the over-gate distributed rounds
    build from it (the original un-pinned shape re-ran the corpus
    pass in round 1's checkpoint)."""
    pinned = vocab_wf.localCheckpoint()
    n = pinned.count()
    if not (0 < n and gates.small("vocab_driver", n)):
        return None, pinned
    pdf = pinned.toPandas()
    return list(zip(pdf["w"].tolist(), pdf["freq"].tolist())), pinned


def train_bpe(
    docs: DataFrame, n_merges: int, text_col: str = "text"
) -> list[tuple[str, str]]:
    """Learn `n_merges` BPE merges; returns [(left, right), …] in
    learned order. Stops early if no pair remains. Under the measured
    `vocab_driver` gate the rounds run driver-side over one Arrow
    collect (bit-identical merges, parity-tested); above it,
    distributed rounds over the |vocab| table."""
    words, pinned = _collect_vocab(word_counts(docs, text_col))
    if words is not None:
        return _train_merges_driver(words, n_merges, wordpiece=False)
    vocab = pinned.select(_spaced(F.col("w")).alias("syms"), "freq")
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        top = (
            pair_counts(vocab)
            .orderBy(F.desc("n"), "l", "r")
            .limit(1)
            .collect()
        )
        if not top:
            break
        left, right = top[0]["l"], top[0]["r"]
        merges.append((left, right))
        vocab = vocab.select(
            _apply_merge(F.col("syms"), left, right).alias("syms"), "freq"
        )
        # truncate lineage each round: 30 rounds of nested projections
        # otherwise stack an ever-deeper plan over the same tiny table
        vocab = vocab.localCheckpoint(eager=True)
    return merges


def segmented_vocab(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
) -> DataFrame:
    """(w, units) — every distinct corpus word segmented with the
    learned merge list, by replaying the same greedy fold per merge
    over the |vocab|-row table. This is the production segmentation
    path: the expensive scan is vocabulary-sized, never corpus-sized
    (segment_word is the driver-side single-word twin — and below the
    measured vocabulary gate it IS the path: one Arrow collect,
    segment_word per word, one createDataFrame; identical rows,
    parity-tested)."""
    words, pinned = _collect_vocab(word_counts(docs, text_col))
    if words is not None:
        rows = [(w, segment_word(w, merges)) for w, _ in words]
        return docs.sparkSession.createDataFrame(
            rows, "w string, units array<string>"
        )
    vocab = pinned.select("w", _spaced(F.col("w")).alias("syms"))
    for i, (a, b) in enumerate(merges):
        vocab = vocab.select("w", _apply_merge(F.col("syms"), a, b).alias("syms"))
        # truncate lineage periodically, mirroring train_bpe: a
        # production merge list is thousands of entries, and one nested
        # projection per merge otherwise stacks an unboundedly deep plan
        # over the same |vocab|-row table
        if (i + 1) % 25 == 0:
            vocab = vocab.localCheckpoint(eager=True)
    return vocab.select("w", F.split(F.trim(F.col("syms")), " ").alias("units"))


def bpe_encode_counts(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BPE-encode the corpus with a learned merge list and report the
    per-document budget: (doc, n_tokens, n_units) — n_units is what a
    token-budget planner actually needs from the tokenizer (the third
    tokenizer artifact after merges and vocabulary).

    Scale shape: segmentation happens ONCE per distinct word
    (segmented_vocab, |vocab| rows); the corpus then makes one
    explode → equi-join on the word (vocab side is the small side —
    broadcast it when it fits, which a 100 TB corpus's word vocabulary
    typically does after frequency truncation) → one partial-agg'd
    groupBy per doc. The token stream itself is never re-segmented
    row by row."""
    wmap = segmented_vocab(docs, merges, text_col).select(
        "w", F.size("units").alias("__nu")
    )
    t = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("w")
    )
    return (
        t.join(wmap, "w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("__nu").alias("n_units"),
        )
    )


def segment_word(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Apply a learned merge list to one word (driver-side utility for
    tests/tools — production segmentation would be a mapInPandas over
    the same logic)."""
    syms = list(word)
    for a, b in merges:
        out: list[str] = []
        i = 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms
