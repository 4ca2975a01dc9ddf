"""Distributed BPE tokenizer training — learn merge rules from corpus
word frequencies (Sennrich et al. 2016, the algorithm behind GPT-2/
RoBERTa-style tokenizers), expressed as iterative DataFrame rounds like
operators.kmeans.

Why distributed: training state is the WORD VOCABULARY (word -> count ->
current symbol sequence), not the corpus. One corpus scan builds it;
every merge round then works on the vocab relation only. At 100 TB the
vocab is 10⁷-10⁸ rows — comfortably distributed, pointlessly collected.

Round structure (all built-ins, no Python in the data path):
  1. pair counts: explode each word's adjacent symbol pairs, weight by
     word count, hash-aggregate — map-side combinable, bounded by the
     pair vocabulary;
  2. argmax pair: deterministic (count desc, pair asc) — a 1-row
     driver scalar, same role as kmeans' centroid pull;
  3. apply the merge: a left-to-right greedy fold over each word's
     symbol array (F.aggregate) — non-overlapping, exactly the
     reference BPE semantics;
  4. lineage cut every few rounds (localCheckpoint) — iterative plans
     otherwise stack 30 rounds of expressions into one Catalyst tree
     (the kmeans/components lesson).

Determinism: integer counts, lexicographic tie-break on the pair, and
the fold is order-defined — the merge table is a pure function of the
corpus. Encoding applies the same fold per merge in learned order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens

__all__ = ["train_bpe", "encode_words"]


def _adjacent_pairs(syms: Column) -> Column:
    """array of 'a b' strings for each adjacent symbol pair."""
    return F.when(
        F.size(syms) >= 2,
        F.zip_with(
            F.slice(syms, 1, F.size(syms) - 1),
            F.slice(syms, 2, F.size(syms) - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _apply_merge(syms: Column, a: str, b: str) -> Column:
    """Left-to-right greedy merge of adjacent (a, b) into 'ab' — the
    single-pass non-overlapping replacement reference BPE performs.
    F.get (not element_at) so the empty-accumulator probe is NULL under
    ANSI mode rather than an index error."""
    merged = a + b
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.get(acc, F.size(acc) - 1) == F.lit(a)) & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def build_word_vocab(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """One corpus scan -> (word, cnt, syms) with syms the per-character
    initial symbol sequence. This is the entire training state."""
    words = (
        docs.select(F.explode(tokens(text_col)).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return words.withColumn(
        "syms", F.filter(F.split("word", ""), lambda c: c != "")
    )


def train_bpe(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    checkpoint_every: int = 5,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` merge rules; returns them in application order.

    Stops early when no pair occurs twice (nothing left worth merging —
    a merge seen once compresses nothing)."""
    vocab = build_word_vocab(docs, text_col).persist()
    merges: list[tuple[str, str]] = []
    for i in range(n_merges):
        top = (
            vocab.select(
                "cnt", F.explode(_adjacent_pairs(F.col("syms"))).alias("pair")
            )
            .groupBy("pair")
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.col("n").desc(), F.col("pair"))
            .first()
        )
        if top is None or top["n"] < 2:
            break
        a, b = top["pair"].split(" ", 1)
        merges.append((a, b))
        vocab = vocab.withColumn("syms", _apply_merge(F.col("syms"), a, b))
        if (i + 1) % checkpoint_every == 0:
            # cut the stacked-fold lineage; eager so the cost is paid here
            vocab = vocab.localCheckpoint(eager=True)
    return merges


def encode_words(
    df: DataFrame,
    merges: list[tuple[str, str]],
    word_col: str = "word",
    out_col: str = "bpe_tokens",
    checkpoint_every: int = 8,
) -> DataFrame:
    """Tokenize a word column with learned merges (applied in order —
    BPE encoding is exactly replaying the training merges)."""
    out = df.withColumn(
        out_col, F.filter(F.split(word_col, ""), lambda c: c != "")
    )
    for i, (a, b) in enumerate(merges):
        out = out.withColumn(out_col, _apply_merge(F.col(out_col), a, b))
        if (i + 1) % checkpoint_every == 0:
            out = out.localCheckpoint(eager=True)
    return out
