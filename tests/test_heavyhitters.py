"""Heavy hitters (operators/heavyhitters.py): exactness against a plain
groupBy, partition invariance, the superset guarantee under adversarial
capacity pressure, and the pure-Python MG core's decrement accounting."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from sports_stats_data_pipeline_spark.operators.heavyhitters import (
    _mg_update,
    heavy_hitters,
    partition_summaries,
)


def _exact(df, col, denom):
    total = df.filter(F.col(col).isNotNull()).count()
    return {
        (r["v"], r["n"])
        for r in df.filter(F.col(col).isNotNull())
        .groupBy(F.col(col).cast("string").alias("v"))
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") * denom > total)
        .collect()
    }


def _skewed(spark, n=5000):
    # two hot values (~1/3 and ~1/6 of rows) over a ~1600-value tail
    return spark.range(n).select(
        F.when(F.col("id") % 3 == 0, F.lit("hot_a"))
        .when(F.col("id") % 6 == 1, F.lit("hot_b"))
        .otherwise(F.concat(F.lit("u"), (F.col("id") % 1600).cast("string")))
        .alias("v")
    )


def test_matches_exact_groupby(spark):
    df = _skewed(spark)
    got = {
        (r["value"], r["n"])
        for r in heavy_hitters(df, "v", 10).collect()
    }
    assert got == _exact(df, "v", 10)
    assert any(v == "hot_a" for v, _ in got)
    assert any(v == "hot_b" for v, _ in got)


def test_partition_invariance(spark):
    df = _skewed(spark, 3000)
    outs = [
        sorted(
            (r["value"], r["n"], r["total"], r["freq_bp"])
            for r in heavy_hitters(
                df.repartition(p), "v", 20
            ).collect()
        )
        for p in (1, 7, 32)
    ]
    assert outs[0] == outs[1] == outs[2]
    assert outs[0]  # non-empty: the hot values must be found


def test_no_hitters_when_uniform(spark):
    df = spark.range(2000).select(F.col("id").cast("string").alias("v"))
    assert heavy_hitters(df, "v", 100).collect() == []


def test_tight_capacity_still_superset(spark):
    """capacity == threshold_denom (the minimum honoring the averaging
    argument) must still surface every true hitter."""
    df = _skewed(spark, 4000).repartition(16)
    got = {
        r["value"]
        for r in heavy_hitters(df, "v", 8, capacity=8).collect()
    }
    assert got == {v for v, _ in _exact(df, "v", 8)}


def test_nulls_dropped_and_strict_threshold(spark):
    df = spark.createDataFrame(
        [("a",)] * 3 + [("b",)] * 1 + [(None,)] * 4, "v string"
    )
    # total (non-null) = 4; strict: n*2 > 4 needs n >= 3
    got = {(r["value"], r["n"], r["total"]) for r in
           heavy_hitters(df, "v", 2).collect()}
    assert got == {("a", 3, 4)}


def test_capacity_validation():
    with pytest.raises(ValueError, match="threshold_denom"):
        heavy_hitters(None, "v", 1)  # df unused before the raise


def test_mg_core_decrement_accounting():
    """Unit test of the batched MG compaction: total decrement over a
    partition stays <= n/(capacity+1), so any value with local
    frequency above that bound survives."""
    rng = np.random.default_rng(7)
    n, cap = 20000, 9
    vals = np.where(
        rng.random(n) < 0.3, "HOT", rng.integers(0, 5000, n).astype(str)
    )
    counters: dict[str, int] = {}
    # stream in uneven batches, as mapInPandas would
    for chunk in np.array_split(vals, 13):
        u, c = np.unique(chunk, return_counts=True)
        _mg_update(counters, u, c, cap)
    assert len(counters) <= cap
    assert "HOT" in counters
    true_hot = int((vals == "HOT").sum())
    # counter underestimates by at most the total decrement bound
    assert 0 < counters["HOT"] <= true_hot
    assert true_hot - counters["HOT"] <= n // (cap + 1)


def test_summary_rows_bounded_per_partition(spark):
    df = _skewed(spark, 5000).repartition(6)
    summ = partition_summaries(df, "v", 25)
    # 6 partitions × (<= 25 counter rows + 1 total-marker row)
    assert summ.count() <= 156
    # marker rows carry the partition row counts; they sum to the total
    total = sum(
        r["weight"] for r in summ.collect() if r["value"] is None
    )
    assert total == 5000
