"""End-to-end scraper-parity ingestion: the reference's two entry points
(SURVEY.md §3) as one incremental, resume-safe Spark pipeline.

Dataflow (mirrors fighters_scraper.py:159-211 / fights_scraper.py:217-267):

    discover keys -> anti-join sink (J1: skip processed) -> fetch
    (I1 retry + I2 rate limit, sources.fetch) -> parse (S4 UDF,
    sources.html_source) -> append the parsed rows to the parquet sink
    (S5, Parquet not CSV; A5/U1 first-wins by construction)

Key upgrades over the reference, same semantics:
- the sink is Parquet with an explicit schema (not inference-on-read CSV);
- a resumed run costs O(Δ), not the reference's O(total) CSV rewrite
  every N rows: the URL list is deduplicated on the driver, the one
  anti-join reads only the sink's key column, and only the Δ new rows
  are written — the live sink is never rewritten
  (operators.sinks.append_staging); periodic checkpointing belongs to
  Structured Streaming (streaming.pipeline.run_streaming_upsert) where
  the state store does it transactionally;
- fetch parallelism is explicit (``concurrency`` partitions), the
  reference is single-threaded.

Resume-safety invariant (tested in tests/test_ingest.py): running any
prefix of the URL set, then the full set, produces the same sink rows
as one full run — the reference's core guarantee (R14-15) — and so does
a run that crashed at any point and was re-run.
"""

from __future__ import annotations

import os
import uuid

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..operators.sinks import append_staging, promote_staging, recover_sink
from ..schemas import (
    FIGHTERS_RAW,
    FIGHTS_RAW,
    fighters_raw_ddl,
    fights_raw_ddl,
)
from .fetch import FetchConfig, Transport, fetch_urls
from .html_source import parse_pages


def _url_relation(spark: SparkSession, urls: list[str]) -> DataFrame:
    """The offered URLs as a one-column relation, first occurrence kept.

    Deduplicated on the driver (``dict.fromkeys`` keeps order) and built
    from a pandas frame, which goes through Arrow into a JVM-side
    relation: no pickled Python-list RDD and no ``dropDuplicates``
    shuffle. The key list is driver-sized by construction — the
    discovery steps produce it there."""
    unique = pd.Series(list(dict.fromkeys(urls)), dtype=object)
    return spark.createDataFrame(
        pd.DataFrame({"url": unique}), schema="url string"
    )


def ingest(
    spark: SparkSession,
    urls: list[str],
    transport: Transport,
    sink_path: str,
    kind: str = "fighter",
    cfg: FetchConfig | None = None,
    concurrency: int = 4,
) -> DataFrame:
    """One incremental ingestion run; returns the sink DataFrame."""
    if kind == "fighter":
        ddl, struct, key = fighters_raw_ddl(), FIGHTERS_RAW, "URL"
    else:
        ddl, struct, key = fights_raw_ddl(), FIGHTS_RAW, "fight_url"
    field_names = [f.name for f in struct if f.name != key]
    recover_sink(sink_path)
    resumed = os.path.exists(sink_path)

    todo = _url_relation(spark, urls)
    if resumed:
        # J1: the incremental anti-join BEFORE the expensive fetch —
        # predicate placement the optimizer cannot do through an opaque
        # UDF, so the program orders it explicitly (SURVEY.md §4.1
        # UDF-barrier note). The sink's schema is known, so its reads
        # pass it and skip Spark's footer-inference job.
        sunk = spark.read.schema("url string").parquet(sink_path)
        todo = todo.join(sunk, on="url", how="left_anti")

    pages = fetch_urls(todo, transport, cfg, concurrency=concurrency)
    parsed = parse_pages(pages, kind=kind, schema=ddl, field_names=field_names)

    # ``parsed`` is exactly the rows to insert, so no merge runs here:
    # the URL list is duplicate-free, the anti-join above removed every
    # key the sink holds, and fetch/parse emit at most one row per URL.
    # First-wins (operators.merge.insert_if_absent's semantics) holds by
    # construction — existing rows are never rewritten, and each new key
    # arrives once.
    parsed.write.mode("overwrite").parquet(sink_path + ".staging")
    if resumed:
        append_staging(sink_path, f"r{uuid.uuid4().hex[:12]}_")
    else:
        promote_staging(sink_path)
    return spark.read.schema(ddl).parquet(sink_path)


def discover_fighter_urls(
    index_pages: dict[str, str], marker: str = "fighter-details"
) -> list[str]:
    """S1 discovery: per-letter index pages -> deduped child URLs (the
    reference's get_fighter_links, fighters_scraper.py:42-62). Driver-side
    because the key space (26 pages) is trivially small; the fetched
    *details* are the distributed part."""
    from .html_source import extract_links

    seen, out = set(), []
    for html in index_pages.values():
        for u in extract_links(html, marker):
            if u not in seen:
                seen.add(u)
                out.append(u)
    return out


def discover_fight_urls(
    spark: SparkSession,
    event_urls: list[str],
    transport: Transport,
    cfg: FetchConfig | None = None,
    concurrency: int = 4,
    marker: str = "fight-details",
) -> DataFrame:
    """S2+S3 two-level fan-out (the reference's get_event_links →
    get_fight_links nesting, fights_scraper.py:43-66): fetch each event
    page distributed, explode its child fight links — unlike the
    reference's sequential double loop, level 2 is a single distributed
    explode over the level-1 fetch results."""
    from pyspark.sql import functions as F

    pages = fetch_urls(
        _url_relation(spark, event_urls), transport, cfg, concurrency=concurrency
    )
    from .html_source import _HREF_RE

    # pure-expression link extraction reusing the parser's href pattern
    # ((?i) replaces the re.I flag, which the string form can't carry) —
    # stays inside whole-stage codegen; a row-at-a-time Python UDF here
    # was the only one in the package and cost a worker round-trip per
    # page for what a regexp_extract_all + filter expresses directly.
    hrefs = F.regexp_extract_all(
        "html", F.lit("(?i)" + _HREF_RE.pattern), 1
    )
    return (
        pages.select(
            F.explode(
                F.filter(hrefs, lambda u: u.contains(marker))
            ).alias("url")
        )
        .dropDuplicates(["url"])
    )
