"""WordPiece tokenizer training (Schuster & Nakajima, "Japanese and
Korean voice search", ICASSP 2012 — the BERT tokenizer's trainer),
completing the tokenizer trio beside BPE (llm/bpe.py) and the
unigram LM (llm/unigram.py).

WordPiece IS byte-pair merging with one change: instead of the most
FREQUENT adjacent pair (BPE), each round merges the pair maximizing
the likelihood ratio

    score(a, b) = count(ab) / (count(a) · count(b))

— the merge that most increases corpus likelihood under a unigram
model, which prefers pairs whose parts rarely occur apart over pairs
that are merely common. Everything else (the one corpus-sized
(word, freq) pass, |vocab|-row round states, the greedy
left-to-right merge fold with exact odd-self-pair-run semantics) is
shared machinery imported from llm.bpe — one implementation, two
selection rules.

Distributed shape per round: pair counts AND symbol counts are each
one partial-agg'd groupBy over the |vocab| table; the argmax joins
the |pairs| aggregate to the |symbols| aggregate twice (both
metadata-sized) and collects ONE row. The corpus is touched exactly
once, total.

Determinism: the score is one IEEE double division of the integer
pair count by the integer product of the symbol counts, each rounded
to double first (Spark's `cast(n as double) / (nl * nr)`; the driver
trainer rounds the same way), and ties break
lexicographically on (left, right) like the BPE trainer. The '##'
continuation-prefix surface convention of BERT vocabularies is
presentation-level (applied when EXPORTING a vocab, not during merge
learning) and is omitted here; the merge algebra is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from realtime0523_spark.llm.bpe import (
    _apply_merge,
    _collect_vocab,
    _spaced,
    _train_merges_driver,
    pair_counts,
    word_counts,
)


def symbol_counts(vocab: DataFrame) -> DataFrame:
    """(s, n): frequency-weighted symbol occurrence counts over the
    current vocab state — the denominator statistics of the WordPiece
    score. One partial-agg'd groupBy over |vocab| rows."""
    return (
        vocab.select(
            "freq",
            F.explode(F.split(F.trim(F.col("syms")), " ")).alias("s"),
        )
        .groupBy("s")
        .agg(F.sum("freq").alias("n"))
    )


def train_wordpiece(
    docs: DataFrame, n_merges: int, text_col: str = "text"
) -> list[tuple[str, str]]:
    """Learn `n_merges` WordPiece merges; returns [(left, right), …]
    in learned order. Stops early if no pair remains. Under the
    measured `vocab_driver` gate the rounds run driver-side over one
    Arrow collect with the identical score, tie-break and greedy fold
    (bit-identical merges, parity-tested); above it, distributed
    rounds over the |vocab| table."""
    return train_wordpiece_vocab(word_counts(docs, text_col), n_merges)


def train_wordpiece_vocab(
    vocab_wf: DataFrame, n_merges: int
) -> list[tuple[str, str]]:
    """`train_wordpiece` over a (w, freq) vocabulary table."""
    words, pinned = _collect_vocab(vocab_wf)
    if words is not None:
        return _train_merges_driver(words, n_merges, wordpiece=True)
    vocab = pinned.select(_spaced(F.col("w")).alias("syms"), "freq")
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs = pair_counts(vocab)
        # |symbols| is tiny (bounded by vocab-table character inventory
        # + merges so far): broadcast both denominator lookups
        syms = symbol_counts(vocab)
        top = (
            pairs.join(
                F.broadcast(
                    syms.withColumnRenamed("s", "l").withColumnRenamed("n", "nl")
                ),
                "l",
            )
            .join(
                F.broadcast(
                    syms.withColumnRenamed("s", "r").withColumnRenamed("n", "nr")
                ),
                "r",
            )
            .select(
                "l",
                "r",
                (
                    F.col("n").cast("double")
                    / (F.col("nl") * F.col("nr"))
                ).alias("score"),
            )
            .orderBy(F.desc("score"), "l", "r")
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
        # truncate lineage each round, as in train_bpe
        vocab = vocab.localCheckpoint(eager=True)
    return merges
