"""Funnel analysis: hand-anchored step matching (strict order, entry-
anchored window, greedy earliest semantics), a DuckDB sequential-CTE
twin over the real events table, and the skew cap."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from sports_stats_data_pipeline_spark.operators.funnel import funnel_steps
from sports_stats_data_pipeline_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"
STEPS = ["view", "click", "purchase"]


def _mk(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )


def test_hand_anchored_funnel(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def at(mins):
        return t0 + dt.timedelta(minutes=mins)

    rows = [
        # user 1: full conversion inside the window
        (1, at(0), 1, "view"), (2, at(5), 1, "click"), (3, at(10), 1, "purchase"),
        # user 2: purchase outside the 60-min entry window -> max_step 2
        (4, at(0), 2, "view"), (5, at(5), 2, "click"), (6, at(90), 2, "purchase"),
        # user 3: purchase BEFORE the click -> it cannot satisfy step 3
        # (strict order), but view->click still reaches step 2
        (7, at(0), 3, "view"), (8, at(5), 3, "purchase"), (9, at(10), 3, "click"),
        # user 4: greedy trade — only the LATER view would convert, the
        # sequential semantics anchor at the earliest view -> max_step 2
        (10, at(0), 4, "view"), (11, at(55), 4, "view"),
        (12, at(58), 4, "click"), (13, at(70), 4, "purchase"),
        # user 5: no funnel events at all -> absent from output
        (14, at(0), 5, "other"),
    ]
    out = {
        r["user_id"]: (r["max_step"], r["step_1_epoch_s"] is not None)
        for r in funnel_steps(
            _mk(spark, rows), STEPS, within_minutes=60
        ).collect()
    }
    assert out == {1: (3, True), 2: (2, True), 3: (2, True), 4: (2, True)}


def test_conversion_counts(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for u in range(10):
        rows.append((eid, t0, u, "view")); eid += 1
        if u < 6:
            rows.append((eid, t0 + dt.timedelta(minutes=1), u, "click")); eid += 1
        if u < 2:
            rows.append((eid, t0 + dt.timedelta(minutes=2), u, "purchase")); eid += 1
    # users reaching each step: those whose max_step is at least it
    max_steps = [
        r["max_step"] for r in funnel_steps(_mk(spark, rows), STEPS).collect()
    ]
    got = {k: sum(m >= k for m in max_steps) for k in (1, 2, 3)}
    assert got == {1: 10, 2: 6, 3: 2}


def test_matches_duckdb_sequential_twin_on_events(spark):
    """Real events table: the fold equals the sequential min-aggregate
    CTE chain (the SQL formulation of the same semantics)."""
    events = load_table(spark, SF, "events")
    types = [r["event_type"] for r in events.select("event_type").distinct().collect()]
    steps = [t for t in ["view", "click", "purchase"] if t in types]
    assert len(steps) == 3, f"expected funnel types in corpus, got {types}"
    got = {
        r["user_id"]: r["max_step"]
        for r in funnel_steps(events, steps, within_minutes=240).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{SF}/events.parquet')"
    )
    ref = dict(
        con.execute(
            """
            WITH s1 AS (
              SELECT user_id, min(epoch(ts)) AS t1 FROM events
              WHERE event_type = 'view' GROUP BY user_id
            ), s2 AS (
              SELECT e.user_id, min(epoch(e.ts)) AS t2
              FROM events e JOIN s1 ON s1.user_id = e.user_id
              WHERE e.event_type = 'click'
                AND epoch(e.ts) > s1.t1 AND epoch(e.ts) <= s1.t1 + 240*60
              GROUP BY e.user_id
            ), s3 AS (
              SELECT e.user_id, min(epoch(e.ts)) AS t3
              FROM events e
              JOIN s1 ON s1.user_id = e.user_id
              JOIN s2 ON s2.user_id = e.user_id
              WHERE e.event_type = 'purchase'
                AND epoch(e.ts) > s2.t2 AND epoch(e.ts) <= s1.t1 + 240*60
              GROUP BY e.user_id
            )
            SELECT s1.user_id,
                   1 + (s2.user_id IS NOT NULL)::INT
                     + (s3.user_id IS NOT NULL)::INT AS max_step
            FROM s1
            LEFT JOIN s2 ON s2.user_id = s1.user_id
            LEFT JOIN s3 ON s3.user_id = s1.user_id
            """
        ).fetchall()
    )
    assert got == ref
    assert max(got.values()) >= 2  # the corpus actually converts somewhere


def test_skew_cap_truncates_deterministically(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    # purchase arrives as the 6th event; a cap of 5 must cut it off
    rows = [(i, t0 + dt.timedelta(minutes=i), 1,
             ["view", "click", "click", "click", "click", "purchase"][i])
            for i in range(6)]
    full = funnel_steps(_mk(spark, rows), STEPS).collect()[0]["max_step"]
    capped = funnel_steps(
        _mk(spark, rows), STEPS, max_events_per_user=5
    ).collect()[0]["max_step"]
    assert (full, capped) == (3, 2)


def test_empty_steps_rejected(spark):
    with pytest.raises(ValueError, match="non-empty"):
        funnel_steps(_mk(spark, []), [])


def test_stepless_entry_users_excluded_from_driver_rows(spark):
    """ADVICE r3 regression: a user with only click/purchase events (no
    'view' entry) gets a max_step=0 row from the operator, but the
    driver composite filters to max_step >= 1 so it agrees with the
    view-anchored oracle BY CONSTRUCTION even if the corpus gains such
    users."""
    import datetime as dt

    from pyspark.sql import functions as F

    from sports_stats_data_pipeline_spark.operators.funnel import funnel_steps

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, t0, 7, "click", 1.0, "{}"),  # user 7: click only — no entry
        (2, t0, 8, "view", 1.0, "{}"),   # user 8: full entry
        (3, t0 + dt.timedelta(minutes=1), 8, "click", 1.0, "{}"),
    ]
    e = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    out = {
        r["user_id"]: r["max_step"]
        for r in funnel_steps(e, ["view", "click", "purchase"]).collect()
    }
    assert out == {7: 0, 8: 2}  # operator reports the stepless user...
    kept = funnel_steps(e, ["view", "click", "purchase"]).filter(
        F.col("max_step") >= 1
    )
    assert [r["user_id"] for r in kept.collect()] == [8]  # ...driver drops
