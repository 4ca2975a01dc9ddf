"""operators.incremental — batch-by-batch maintenance equals full
recompute on the real corpus; new keys appear, absent keys persist;
the double-count hazard of replayed deltas is pinned, not hidden."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sports_stats_data_pipeline_spark.operators.incremental import (
    merge_aggregate_state,
)
from sports_stats_data_pipeline_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"
KEYS = ["o_orderpriority"]
MEASURES = {
    "n_orders": ("count", "o_orderkey"),
    "total_cents": ("sum", "price_c"),
    "max_cents": ("max", "price_c"),
    "min_cents": ("min", "price_c"),
}


def _orders(spark):
    return load_table(spark, SF, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_c"),
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_incremental_equals_full_recompute(spark):
    orders = _orders(spark)
    state = None
    for i in range(4):  # four append batches partitioned by key hash
        delta = orders.filter(F.col("o_orderkey") % 4 == i)
        state = merge_aggregate_state(state, delta, KEYS, MEASURES)
    full = merge_aggregate_state(None, orders, KEYS, MEASURES)
    assert _rows(state) == _rows(full)


def test_new_keys_appear_and_old_keys_persist(spark):
    spark_df = spark.createDataFrame(
        [("a", 1, 10), ("b", 2, 20)], "k string, id long, v long"
    )
    m = {"n": ("count", "id"), "s": ("sum", "v")}
    state = merge_aggregate_state(None, spark_df, ["k"], m)
    delta = spark.createDataFrame([("c", 3, 30)], "k string, id long, v long")
    out = {r["k"]: (r["n"], r["s"]) for r in
           merge_aggregate_state(state, delta, ["k"], m).collect()}
    assert out == {"a": (1, 10), "b": (1, 20), "c": (1, 30)}


def test_replayed_delta_double_counts_sums(spark):
    # the exactly-once contract: a replayed delta inflates sum/count
    # (min/max are naturally idempotent) — pair with insert-if-absent.
    df = spark.createDataFrame([("a", 1, 10)], "k string, id long, v long")
    m = {"n": ("count", "id"), "s": ("sum", "v"), "mx": ("max", "v")}
    state = merge_aggregate_state(None, df, ["k"], m)
    replayed = merge_aggregate_state(state, df, ["k"], m).first()
    assert (replayed["n"], replayed["s"], replayed["mx"]) == (2, 20, 10)


def test_non_decomposable_measure_refused(spark):
    df = spark.createDataFrame([("a", 1)], "k string, v long")
    with pytest.raises(ValueError, match="not decomposable"):
        merge_aggregate_state(None, df, ["k"], {"med": ("median", "v")})


# ---------------------------------------------------------------------------
# approx_distinct: HLL sketches make distinct counting decomposable
# ---------------------------------------------------------------------------


def test_approx_distinct_incremental_equals_exact(spark):
    """Batch-maintained HLL estimates equal exact COUNT(DISTINCT) at the
    test cardinalities (datasketches HLL is exact well past them), and
    the sketch union across batches equals the single-shot build."""
    orders = _orders(spark)
    m = {
        "n_orders": ("count", "o_orderkey"),
        "n_distinct_prices": ("approx_distinct", "price_c"),
    }
    state = None
    for i in range(4):
        delta = orders.filter(F.col("o_orderkey") % 4 == i)
        state = merge_aggregate_state(state, delta, KEYS, m)
    got = {
        r["o_orderpriority"]: (r["n_orders"], r["n_distinct_prices"])
        for r in state.withColumn(
            "n_distinct_prices", F.hll_sketch_estimate("n_distinct_prices")
        ).collect()
    }
    exact = {
        r["o_orderpriority"]: (r["n"], r["d"])
        for r in orders.groupBy(*KEYS)
        .agg(
            F.count("o_orderkey").alias("n"),
            F.countDistinct("price_c").alias("d"),
        )
        .collect()
    }
    assert got == exact


def test_approx_distinct_is_replay_idempotent(spark):
    """Replaying a delta double-counts sums (pinned above) but must NOT
    move an HLL distinct estimate — sketch union has set semantics."""
    df = spark.createDataFrame(
        [("a", i) for i in range(50)], "k string, v long"
    )
    m = {"d": ("approx_distinct", "v")}
    once = merge_aggregate_state(None, df, ["k"], m)
    replayed = merge_aggregate_state(once, df, ["k"], m)  # same delta again
    a = once.select(F.hll_sketch_estimate("d").alias("d")).first()["d"]
    b = replayed.select(F.hll_sketch_estimate("d").alias("d")).first()["d"]
    assert a == b == 50
