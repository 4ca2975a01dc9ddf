"""SCD Type-2 dimension maintenance (operators/scd.py).

Semantics pinned against a tiny hand-computed history plus a DuckDB
window-SQL twin on generated data; the physical plan is pinned to a single exchange (the 100 TB argument in the module doc)."""

from __future__ import annotations

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from sports_stats_data_pipeline_spark.operators.scd import (
    point_in_time_lookup,
    scd2_build,
)
from sports_stats_data_pipeline_spark.plans.lint import exchange_count

CHANGES_SCHEMA = "k long, attr string, seq long"


def _hist(spark, rows):
    df = spark.createDataFrame(rows, CHANGES_SCHEMA)
    return scd2_build(df, ["k"], ["attr"], "seq")


def _collect(h):
    return sorted(
        (r["k"], r["version"], r["attr"], r["valid_from"], r["valid_to"],
         r["is_current"], r["n_obs"])
        for r in h.collect()
    )


def test_scd2_build_hand_computed(spark):
    rows = [
        # key 1: A A B A  -> three runs (A re-appears as a NEW version)
        (1, "A", 10), (1, "A", 20), (1, "B", 30), (1, "A", 40),
        # key 2: single observation -> one current run
        (2, "X", 5),
        # key 3: NULL handling — NULL, NULL, Y collapse to two runs
        (3, None, 1), (3, None, 2), (3, "Y", 3),
    ]
    assert _collect(_hist(spark, rows)) == [
        (1, 1, "A", 10, 30, False, 2),
        (1, 2, "B", 30, 40, False, 1),
        (1, 3, "A", 40, None, True, 1),
        (2, 1, "X", 5, None, True, 1),
        (3, 1, None, 1, 3, False, 2),
        (3, 2, "Y", 3, None, True, 1),
    ]


def test_scd2_build_multi_attr_change_on_any(spark):
    df = spark.createDataFrame(
        [(1, "A", 7, 10), (1, "A", 8, 20), (1, "A", 8, 30)],
        "k long, a string, b long, seq long",
    )
    h = scd2_build(df, ["k"], ["a", "b"], "seq")
    got = sorted((r["version"], r["a"], r["b"]) for r in h.collect())
    assert got == [(1, "A", 7), (2, "A", 8)]


def test_scd2_build_single_exchange(spark):
    """Change-detect window → run aggregate → valid_to window all
    cluster on (a superset of) the key, so the whole build is ONE
    shuffle — the property that makes it a linear pass at 100 TB."""
    df = spark.createDataFrame([(1, "A", 1)], CHANGES_SCHEMA)
    h = scd2_build(df, ["k"], ["attr"], "seq")
    assert exchange_count(h) == 1


def test_scd2_build_matches_duckdb_windows(spark):
    """Cross-engine pin on generated data: the run-collapse expressed
    as LAG-change-flag + running-sum + group in DuckDB SQL."""
    rows = [
        (k, ["P", "Q", "R", None][(k * s + s * s) % 4], s)
        for k in range(1, 8)
        for s in range(1, 11)
    ]
    got = _collect(_hist(spark, rows))
    con = duckdb.connect()
    con.register(
        "changes",
        pd.DataFrame(rows, columns=["k", "attr", "seq"]).astype(
            {"k": "int64", "seq": "int64"}
        ),
    )
    exp = con.execute("""
        WITH flagged AS (
          SELECT k, attr, seq,
                 CASE WHEN ROW_NUMBER() OVER w = 1
                        OR attr IS DISTINCT FROM LAG(attr) OVER w
                      THEN 1 ELSE 0 END AS chg
          FROM changes WINDOW w AS (PARTITION BY k ORDER BY seq)
        ), versioned AS (
          SELECT *, SUM(chg) OVER (
            PARTITION BY k ORDER BY seq ROWS UNBOUNDED PRECEDING
          ) AS version FROM flagged
        ), runs AS (
          SELECT k, version, ANY_VALUE(attr) AS attr,
                 MIN(seq) AS valid_from, COUNT(*) AS n_obs
          FROM versioned GROUP BY k, version
        )
        SELECT k, version, attr, valid_from,
               LEAD(valid_from) OVER w2 AS valid_to,
               LEAD(valid_from) OVER w2 IS NULL AS is_current,
               n_obs
        FROM runs WINDOW w2 AS (PARTITION BY k ORDER BY version)
    """).fetchall()
    exp_norm = sorted(
        (k, int(v), a, int(vf), None if vt is None else int(vt), bool(c),
         int(n))
        for (k, v, a, vf, vt, c, n) in exp
    )
    assert got == exp_norm


def test_point_in_time_lookup(spark):
    """Each fact picks the version whose half-open interval contains
    its timestamp; a fact AT valid_from belongs to the new version;
    facts before the first version get NULLs."""
    hist = _hist(
        spark, [(1, "A", 10), (1, "B", 30), (2, "X", 5)]
    )
    facts = spark.createDataFrame(
        [(100, 1, 9), (101, 1, 10), (102, 1, 29), (103, 1, 30),
         (104, 1, 99), (105, 2, 5), (106, 9, 1)],
        "fact_id long, k long, ts long",
    )
    out = {
        r["fact_id"]: (r["asof_attr"], r["asof_version"])
        for r in point_in_time_lookup(
            facts, hist, "k", "ts", ["attr"]
        ).collect()
    }
    assert out == {
        100: (None, None),
        101: ("A", 1),
        102: ("A", 1),
        103: ("B", 2),
        104: ("B", 2),
        105: ("X", 1),
        106: (None, None),
    }


def test_seq_collision_guard_documented(spark):
    """Duplicate (key, seq) pairs are a contract violation; the build
    still terminates and emits SOME tiling (row_number breaks the tie
    arbitrarily) — this test just pins that it doesn't crash or emit
    overlapping versions for the documented-good path after a
    pre-collapse."""
    raw = spark.createDataFrame(
        [(1, "A", 10), (1, "B", 10), (1, "C", 20)], CHANGES_SCHEMA
    )
    # documented remedy: pre-collapse to one row per (key, seq)
    collapsed = (
        raw.withColumn(
            "rn",
            F.row_number().over(
                __import__(
                    "pyspark.sql.window", fromlist=["Window"]
                ).Window.partitionBy("k", "seq").orderBy(F.desc("attr"))
            ),
        )
        .filter("rn = 1")
        .drop("rn")
    )
    h = _collect(scd2_build(collapsed, ["k"], ["attr"], "seq"))
    assert [(v, a) for (_, v, a, *_rest) in h] == [(1, "B"), (2, "C")]


def test_point_in_time_null_attr_version(spark):
    """A version whose attr is legitimately NULL must surface AS null
    at lookup time — not leak the previous version's value (the struct
    payload carries versions all-or-nothing)."""
    hist = _hist(spark, [(1, "A", 10), (1, None, 30), (1, "B", 50)])
    facts = spark.createDataFrame(
        [(100, 1, 20), (101, 1, 40), (102, 1, 60)],
        "fact_id long, k long, ts long",
    )
    out = {
        r["fact_id"]: (r["asof_attr"], r["asof_version"])
        for r in point_in_time_lookup(
            facts, hist, "k", "ts", ["attr"]
        ).collect()
    }
    assert out == {100: ("A", 1), 101: (None, 2), 102: ("B", 3)}
