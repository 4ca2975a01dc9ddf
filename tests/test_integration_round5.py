"""Round-5 integration: the web-curation front half as a user runs it —
synthesize messy URLs → canonicalize → exact-dedup by canonical URL →
dominance check on the registered domains — with invariants at every stage (the test_integration_pipeline
pattern, extended to the round-5 operators)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from sports_stats_data_pipeline_spark.functions.url import (
    normalize_url,
    registered_domain,
    url_host,
)
from sports_stats_data_pipeline_spark.operators.heavyhitters import (
    heavy_hitters,
)
from sports_stats_data_pipeline_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def test_url_curation_chain(spark):
    docs = load_table(spark, SF, "documents").select(
        "doc_id", "source", "n_chars"
    )
    d = F.col("doc_id")
    # messy URLs incl. duplicates-after-normalization (tracking params,
    # case, www.) — every 2nd doc shares a canonical URL with doc_id-1
    pair = F.floor(d / 2).cast("long")
    base = F.concat(
        F.lit("https://"),
        F.when(d % 3 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.lit("site"),
        (pair % 20).cast("string"),
        F.lit(".com/item/"),
        pair.cast("string"),
        F.when(d % 2 == 1, F.lit("?utm_source=x")).otherwise(F.lit("")),
    )
    with_urls = docs.withColumn("url", base)

    # 1. canonicalize: every URL parses (no NULLs on this corpus)
    curated = with_urls.withColumn("norm_url", normalize_url("url"))
    assert curated.filter(F.col("norm_url").isNull()).count() == 0

    # 2. exact dedup by canonical URL, first-wins: pairs (2k, 2k+1)
    # collapse — the survivor count is exactly ceil(n/2) per parity
    n_docs = docs.count()
    deduped = (
        curated.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("norm_url").orderBy("doc_id")
            ),
        )
        .filter("rn = 1")
        .drop("rn")
    )
    n_dedup = deduped.count()
    assert n_dedup == (n_docs + 1) // 2
    # survivors are the even doc_ids (first-wins by doc_id order)
    assert deduped.filter(F.col("doc_id") % 2 == 1).count() == 0

    # 3. dominance check on the deduped set: no single registered
    # domain exceeds 50% of it (heavy_hitters as the post-hoc gate)
    deduped = deduped.withColumn(
        "domain", registered_domain(url_host("norm_url"))
    )
    hh = heavy_hitters(deduped, "domain", 2)
    assert hh.count() == 0
