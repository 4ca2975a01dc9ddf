"""operators.bpe — hand-computed merge anchors on the classic corpus,
reference-semantics greedy application, prefix property, and
determinism on the real corpus."""

from __future__ import annotations

from pyspark.sql import functions as F

from sports_stats_data_pipeline_spark.operators.bpe import (
    encode_words,
    train_bpe,
)
from sports_stats_data_pipeline_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _docs(spark, *texts):
    return spark.createDataFrame([(t,) for t in texts], "text string")


def test_hand_computed_merges(spark):
    # Sennrich's classic shape: {low:5, lower:2, newest:6, widest:3}.
    # Pair counts round 1: 'e s' = 9, 's t' = 9, ... tie 'e s' vs 's t'
    # breaks lexicographically -> 'e s'; round 2 merges 'es t' = 9.
    docs = _docs(
        spark,
        " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3),
    )
    merges = train_bpe(docs, 2)
    assert merges == [("e", "s"), ("es", "t")]


def test_greedy_left_to_right_non_overlapping(spark):
    # "aaa" under merge (a,a): left-to-right gives [aa, a], never [a, aa]
    # and never the re-merged [aaa].
    out = encode_words(
        spark.createDataFrame([("aaa",)], "word string"), [("a", "a")]
    ).first()
    assert list(out["bpe_tokens"]) == ["aa", "a"]


def test_merge_prefix_property(spark):
    # the first k merges do not depend on how many more will be learned
    docs = load_table(spark, SF, "documents").select("text").limit(50)
    m4 = train_bpe(docs, 4)
    m8 = train_bpe(docs, 8)
    assert m8[:4] == m4 and len(m4) == 4


def test_encoding_compresses_and_roundtrips(spark):
    docs = load_table(spark, SF, "documents").select("text").limit(100)
    merges = train_bpe(docs, 12)
    assert len(merges) == 12
    words = (
        docs.select(F.explode(F.split("text", r"\s+")).alias("word"))
        .filter(F.length("word") > 0)
        .distinct()
    )
    enc = encode_words(words, merges).select(
        "word",
        "bpe_tokens",
        F.length("word").alias("n_chars"),
        F.size("bpe_tokens").alias("n_tokens"),
    )
    # lossless: concatenating tokens reconstructs the word, every word
    assert (
        enc.filter(
            F.concat_ws("", F.col("bpe_tokens")) != F.col("word")
        ).count()
        == 0
    )
    # compresses: strictly fewer tokens than characters overall
    tot = enc.agg(F.sum("n_chars"), F.sum("n_tokens")).first()
    assert tot[1] < tot[0]


def test_early_stop_when_nothing_repeats(spark):
    merges = train_bpe(_docs(spark, "ab cd ef"), 10)
    assert merges == []  # every pair occurs once -> no useful merge


def test_encoder_null_word_yields_null(spark):
    """A NULL word tokenizes to NULL (split(NULL) is NULL in the
    expression fold)."""
    from sports_stats_data_pipeline_spark.operators.bpe import encode_words

    words = spark.createDataFrame(
        [("ab",), (None,), ("ba",)], "word string"
    )
    merges = [("a", "b")]
    expr = {r["word"]: r["bpe_tokens"] for r in encode_words(words, merges).collect()}
    assert expr[None] is None
    assert list(expr["ab"]) == ["ab"] and list(expr["ba"]) == ["b", "a"]


def test_encoder_rank_floor_no_restart(spark):
    """The encoder replays merges in strictly increasing rank order (one
    pass each), NOT restart-greedy. Adversarial merge table: rank 0
    ('ab','cd') is recreated by ranks 1-2 on the word 'abcd' — a
    restart-greedy loop would then apply it ([abcd]); sequential replay
    must not ([ab, cd])."""
    from sports_stats_data_pipeline_spark.operators.bpe import encode_words

    merges = [("ab", "cd"), ("a", "b"), ("c", "d")]
    words = spark.createDataFrame([("abcd",), ("ababcd",)], "word string")
    expr = {
        r["word"]: list(r["bpe_tokens"])
        for r in encode_words(words, merges).collect()
    }
    assert expr["abcd"] == ["ab", "cd"]
