"""Deterministic hash-split operator: reproducible, stable under
repartitioning and corpus growth, fraction-accurate, and cross-engine
(DuckDB computes the identical assignment from the same md5)."""

from __future__ import annotations

import duckdb
import pytest

from sports_stats_data_pipeline_spark.operators.sampling import (
    deterministic_split,
    hash_bucket,
    mix_sources,
)
from sports_stats_data_pipeline_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"
FR = {"train": 0.8, "val": 0.1, "test": 0.1}


def _splits(spark, parts=None):
    docs = load_table(spark, SF, "documents").select("doc_id")
    if parts:
        docs = docs.repartition(parts)
    out = deterministic_split(docs, "doc_id", FR)
    return {r["doc_id"]: r["split"] for r in out.collect()}


def test_split_is_deterministic_and_partition_independent(spark):
    a, b, c = _splits(spark), _splits(spark), _splits(spark, parts=7)
    assert a == b == c


def test_split_fractions_roughly_hold(spark):
    m = _splits(spark)
    n = len(m)
    counts = {s: sum(1 for v in m.values() if v == s) for s in FR}
    assert sum(counts.values()) == n  # fractions sum to 1.0 -> no None
    for name, frac in FR.items():
        assert abs(counts[name] / n - frac) < 0.08, (name, counts)


def test_growing_a_split_never_reshuffles_members(spark):
    base = _splits(spark)
    docs = load_table(spark, SF, "documents").select("doc_id")
    grown = {
        r["doc_id"]: r["split"]
        for r in deterministic_split(
            docs, "doc_id", {"train": 0.9, "val": 0.1}
        ).collect()
    }
    # every original train member is still train after growing train.
    for doc_id, s in base.items():
        if s == "train":
            assert grown[doc_id] == "train", doc_id


def test_bucket_matches_duckdb_twin(spark):
    docs = load_table(spark, SF, "documents").select("doc_id")
    got = {
        r["doc_id"]: r["b"]
        for r in docs.select(
            "doc_id", hash_bucket("doc_id", denom=1000).alias("b")
        ).collect()
    }
    con = duckdb.connect()
    oracle = dict(
        con.execute(
            f"""
            SELECT doc_id,
                   list_aggregate(list_transform(range(1, 15), i ->
                     (strpos('0123456789abcdef',
                             substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1)
                     * CAST(pow(16, 14 - i) AS BIGINT)), 'sum') % 1000 AS b
            FROM read_parquet('{SF}/documents.parquet')
            """
        ).fetchall()
    )
    assert got == oracle


def test_oversubscribed_fractions_raise(spark):
    docs = load_table(spark, SF, "documents").select("doc_id")
    with pytest.raises(ValueError):
        deterministic_split(docs, "doc_id", {"a": 0.7, "b": 0.5})


# ---------------------------------------------------------------------------
# mix_sources: deterministic per-source up/down-sampling
# ---------------------------------------------------------------------------
def _mixed(spark, weights, parts=None):
    docs = load_table(spark, SF, "documents").select("doc_id", "source")
    if parts:
        docs = docs.repartition(parts)
    out = mix_sources(docs, "doc_id", "source", weights)
    rows = out.collect()
    return sorted((r["doc_id"], r["copy"]) for r in rows), {
        r["source"] for r in rows
    }


def test_mix_weight_semantics(spark):
    docs = load_table(spark, SF, "documents").select("doc_id", "source")
    sources = sorted(
        r["source"] for r in docs.select("source").distinct().collect()
    )
    assert len(sources) >= 2, "corpus must have several sources"
    keep, drop = sources[0], sources[1]
    w = {keep: 2.0, drop: 0.0}
    pairs, seen = _mixed(spark, w)
    # dropped source gone; kept source exactly doubled with copy 0 and 1
    assert drop not in seen and keep in seen
    n_keep = docs.filter(f"source = '{keep}'").count()
    assert len(pairs) == 2 * n_keep
    assert {c for _, c in pairs} == {0, 1}


def test_mix_fractional_rate_and_determinism(spark):
    docs = load_table(spark, SF, "documents").select("doc_id", "source")
    sources = {r["source"] for r in docs.select("source").distinct().collect()}
    w = {s: 0.5 for s in sources}
    a, _ = _mixed(spark, w)
    b, _ = _mixed(spark, w, parts=7)
    assert a == b  # identical sample set under repartitioning
    n = docs.count()
    assert abs(len(a) / n - 0.5) < 0.1
    # upsample 2.5x: every row kept 2 or 3 times
    pairs, _ = _mixed(spark, {s: 2.5 for s in sources})
    from collections import Counter

    per_doc = Counter(d for d, _ in pairs)
    assert set(per_doc.values()) <= {2, 3}
    assert abs(len(pairs) / n - 2.5) < 0.3


def test_mix_fraction_matches_duckdb_twin(spark):
    docs = load_table(spark, SF, "documents").select("doc_id", "source")
    sources = {r["source"] for r in docs.select("source").distinct().collect()}
    pairs, _ = _mixed(spark, {s: 0.5 for s in sources})
    got = sorted({d for d, _ in pairs})
    con = duckdb.connect()
    want = [
        r[0]
        for r in con.execute(
            f"""
        SELECT doc_id FROM read_parquet('{SF}/documents.parquet')
        WHERE list_aggregate(list_transform(range(1, 15), i ->
            (strpos('0123456789abcdef',
                    substr(md5('mix' || CAST(doc_id AS VARCHAR)), i, 1)) - 1)
            * CAST(pow(16, 14 - i) AS BIGINT)), 'sum') % 1000000 < 500000
        ORDER BY doc_id
        """
        ).fetchall()
    ]
    assert got == want


def test_mix_rejects_negative_weight(spark):
    docs = load_table(spark, SF, "documents").select("doc_id", "source")
    with pytest.raises(ValueError):
        mix_sources(docs, "doc_id", "source", {"x": -1.0})

