"""MAD outliers: hand-anchored medians/flags, degenerate MAD=0 runs,
NULL handling, plan shape (one exchange), and a DuckDB twin on orders."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sports_stats_data_pipeline_spark.operators.outliers import mad_outliers
from sports_stats_data_pipeline_spark.sources.tables import load_table

from .conftest import SF_SMOKE


def test_hand_anchored_flags(spark):
    # group a: 1,2,3,4,100 -> med 3 (lower median of 5), devs
    # 2,1,0,1,97 -> mad 1; outlier iff 6745*dev > 35000*1 -> dev >= 6
    df = spark.createDataFrame(
        [("a", i) for i in [1, 2, 3, 4, 100]], "g string, v long"
    )
    got = {r["v"]: r for r in mad_outliers(df, "v", group_by=["g"]).collect()}
    assert {v: r["med"] for v, r in got.items()} == dict.fromkeys(got, 3)
    assert {v: r["mad"] for v, r in got.items()} == dict.fromkeys(got, 1)
    assert [got[v]["is_outlier"] for v in [1, 2, 3, 4, 100]] == [0, 0, 0, 0, 1]


def test_even_run_lower_median(spark):
    # 1,2,3,10 -> lower median = element 2 (position (4+1)//2 = 2)
    df = spark.createDataFrame([(v,) for v in [1, 2, 3, 10]], "v long")
    r = mad_outliers(df, "v").collect()[0]
    assert r["med"] == 2


def test_degenerate_mad_zero_flags_any_deviation(spark):
    df = spark.createDataFrame(
        [(v,) for v in [5, 5, 5, 5, 6]], "v long"
    )
    rows = mad_outliers(df, "v").collect()
    assert all(r["mad"] == 0 for r in rows)
    assert sum(r["is_outlier"] for r in rows) == 1  # only the 6


def test_nulls_pass_through_unflagged(spark):
    df = spark.createDataFrame(
        [(1,), (2,), (3,), (None,)], "v long"
    )
    rows = mad_outliers(df, "v").collect()
    nr = [r for r in rows if r["v"] is None]
    assert len(nr) == 1 and nr[0]["is_outlier"] == 0 and nr[0]["med"] is None
    assert len(rows) == 4


def test_float_column_rejected(spark):
    df = spark.createDataFrame([(1.0,)], "v double")
    with pytest.raises(ValueError):
        mad_outliers(df, "v")


def test_single_exchange_plan(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", 5), ("b", 2)], "g string, v long"
    )
    out = mad_outliers(df, "v", group_by=["g"])
    out.collect()  # AQE reuse is a runtime decision — look at the final plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    # round-13 shape: the OUTPUT path joins the one-row-per-group
    # med/mad relations (persisted, so AQE sees their true tiny size)
    # back onto the input as BROADCAST joins — no union branch, no
    # second scan of the input for NULL rows. Live hash exchanges are
    # bounded at two: the median chain's repartition (printed nested
    # under the InMemoryRelation) and at most one statically-planned
    # input-side exchange that AQE's late SMJ->BHJ conversion leaves
    # behind as a local read.
    import re

    live = len(re.findall(r"\+- Exchange hashpartitioning", final))
    assert live <= 2, final
    bhj = final.split("InMemoryRelation")[0]
    assert bhj.count("BroadcastHashJoin") >= 2, final
    assert "SortMergeJoin" not in bhj, final
    assert "CartesianProduct" not in final


def test_duckdb_twin_on_orders(spark):
    import duckdb

    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("price_c"),
    )
    got = sorted(
        (r["o_orderkey"], r["med"], r["mad"], r["is_outlier"])
        for r in mad_outliers(
            orders, "price_c", group_by=["o_orderpriority"]
        ).collect()
    )
    con = duckdb.connect()
    want = sorted(
        map(
            tuple,
            con.execute(f"""
      WITH o AS (
        SELECT o_orderkey, o_orderpriority,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_c
        FROM read_parquet('{SF_SMOKE}/orders.parquet')
      ),
      med AS (
        SELECT o_orderpriority, MIN(price_c) AS med FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                       ORDER BY price_c) AS rn,
                 COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
          FROM o
        ) WHERE rn = (n + 1) // 2 GROUP BY o_orderpriority
      ),
      dev AS (
        SELECT o.*, med.med, ABS(price_c - med.med) AS dev
        FROM o JOIN med USING (o_orderpriority)
      ),
      mad AS (
        SELECT o_orderpriority, MIN(dev) AS mad FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                       ORDER BY dev) AS rn,
                 COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
          FROM dev
        ) WHERE rn = (n + 1) // 2 GROUP BY o_orderpriority
      )
      SELECT d.o_orderkey, d.med, m.mad,
             CAST(6745 * d.dev > 35000 * m.mad AS INTEGER)
      FROM dev d JOIN mad m USING (o_orderpriority)
    """).fetchall(),
        )
    )
    con.close()
    assert got == want
