"""Semantic anchors for plans/corpus.py — exact values are pinned by the
DuckDB oracles in test_oracle_parity; these assert the *invariants* that
would stay silent if both engines drifted together."""

from __future__ import annotations

from pyspark.sql import functions as F

from sports_stats_data_pipeline_spark.plans.corpus import (
    _SHARD_BUDGET,
    corpus_mix_split_shards,
    corpus_quality_filter,
)

SF = "/root/testdata/sf0.001"


def test_quality_filter_one_row_per_doc_and_verdict_consistency(spark):
    out = corpus_quality_filter(spark, SF).persist()
    n_docs = 500
    assert out.count() == n_docs
    assert out.select("doc_id").distinct().count() == n_docs
    # verdict is exactly the conjunction of its advertised signals
    bad = out.filter(
        F.col("keep")
        != ((F.col("contaminated") == 0) & (F.col("top_gram_char_bp") <= 2000)).cast(
            "int"
        )
    )
    assert bad.count() == 0
    # benchmark members overlap themselves 100% -> contaminated
    bench = out.filter(F.col("doc_id") % 97 == 0)
    assert bench.count() > 0
    assert bench.filter(F.col("contaminated") != 1).count() == 0
    out.unpersist()


def test_quality_filter_english_scores_below_other_langs(spark):
    # the LM is trained on the en slice: en docs must average lower nll
    from sports_stats_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents").select("doc_id", "lang")
    scored = corpus_quality_filter(spark, SF).join(docs, "doc_id")
    avg = {
        r["lang"]: r["a"]
        for r in scored.groupBy("lang")
        .agg(F.avg("nll_3").alias("a"))
        .collect()
    }
    # (the synthetic corpus is ASCII word-soup in every lang, so the
    # margin is small — but the training slice must still score best)
    assert avg["en"] == min(avg.values()), avg


def test_mix_split_shards_invariants(spark):
    out = corpus_mix_split_shards(spark, SF).persist()
    # dropped source never appears; upsampled sources appear 2-3x
    assert out.filter(F.col("source") == "src19").count() == 0
    copies = {
        r["source"]: (r["lo"], r["hi"])
        for r in out.groupBy("source", "doc_id")
        .agg(F.count("*").alias("n"))
        .groupBy("source")
        .agg(F.min("n").alias("lo"), F.max("n").alias("hi"))
        .collect()
    }
    for s, (lo, hi) in copies.items():
        if s in ("src0", "src1"):
            assert 2 <= lo and hi <= 3, (s, lo, hi)
        elif s == "src18":
            assert (lo, hi) == (1, 1), (s, lo, hi)  # survivors keep 1 copy
        else:
            assert (lo, hi) == (1, 1), (s, lo, hi)
    # every doc has exactly one split; replicas inherit it
    multi = (
        out.groupBy("doc_id")
        .agg(F.count_distinct("split").alias("k"))
        .filter(F.col("k") > 1)
    )
    assert multi.count() == 0
    # contiguous packing: per-shard token totals stay within budget +
    # one max-document overhang, and shard ids are dense from 0
    per_shard = (
        out.groupBy("shard").agg(F.sum("n_tokens").alias("t")).collect()
    )
    max_doc = out.agg(F.max("n_tokens")).first()[0]
    shard_ids = sorted(r["shard"] for r in per_shard)
    assert shard_ids == list(range(len(shard_ids)))
    for r in per_shard:
        if r["shard"] != shard_ids[-1]:
            assert r["t"] <= _SHARD_BUDGET + max_doc
    out.unpersist()


def test_top_bigram_run_scan_matches_two_level_aggregate(spark):
    """Docstring theorem of plans.corpus._top_bigram: the sorted
    run-length scan picks the SAME (count, gram) winner — including the
    (cnt DESC, gram DESC) tie-break — as operators/repetition.
    top_ngram_stats' explode -> groupBy(doc, gram) -> max(struct)
    shape, on randomized documents engineered to produce count ties,
    single-token docs, and empty strings."""
    import random

    from sports_stats_data_pipeline_spark.functions.text import let1, tokens
    from sports_stats_data_pipeline_spark.operators.repetition import (
        top_ngram_stats,
    )
    from sports_stats_data_pipeline_spark.plans.corpus import _top_bigram

    rng = random.Random(0xC0FFEE)
    vocab = ["a", "b", "ab", "ba", "aa", "zz", "q"]
    rows = [("",), ("solo",), ("x y x y",), ("t t t",)]
    for i in range(200):
        n = rng.randint(1, 30)
        rows.append((" ".join(rng.choice(vocab) for _ in range(n)),))
    df = spark.createDataFrame(rows, "text string").withColumn(
        "doc_id", F.monotonically_increasing_id()
    )
    expr = df.select(
        "doc_id",
        let1(tokens("text"), lambda tk: _top_bigram(tk)).alias("top"),
    ).select(
        "doc_id",
        F.col("top.c").alias("cnt"),
        F.col("top.g").alias("gram"),
    )
    ref = top_ngram_stats(df, n=2).select(
        "doc_id",
        F.col("top_gram_count").alias("cnt"),
        F.col("top_gram").alias("gram"),
    )
    diff = expr.exceptAll(ref).unionByName(ref.exceptAll(expr))
    assert diff.count() == 0, diff.limit(10).collect()


def test_quality_filter_builds_and_matches_oracle_with_arrow_off(spark):
    """Session canary: the merged model/index relation is built on the
    driver from a pandas frame, so it takes the non-Arrow conversion
    path when Arrow is off. Both paths must build the slot and give the
    oracle's rows."""
    import duckdb

    from sports_stats_data_pipeline_spark.plans import all_registries
    from sports_stats_data_pipeline_spark.sources.tables import TABLE_NAMES

    from ._compare import assert_frames_match

    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        off = corpus_quality_filter(spark, SF).toPandas()
    finally:
        spark.conf.set(key, prev)
    on = corpus_quality_filter(spark, SF).toPandas()
    assert_frames_match(off, on, "corpus_quality_filter arrow off vs on")

    con = duckdb.connect()
    try:
        for t in TABLE_NAMES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
            )
        oracle_pdf = con.execute(
            all_registries().oracles["corpus_quality_filter"]
        ).df()
    finally:
        con.close()
    assert_frames_match(on, oracle_pdf, "corpus_quality_filter")
