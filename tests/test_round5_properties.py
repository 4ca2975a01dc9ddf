"""Property tests for the round-5 operators against pure-Python
reference models over randomized inputs: attribution credit and
fixed-point PageRank."""

from __future__ import annotations

from collections import Counter, defaultdict

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from sports_stats_data_pipeline_spark.operators.attribution import (
    attribute_conversions,
)
from sports_stats_data_pipeline_spark.operators.pagerank import (
    SCALE,
    pagerank_fixedpoint,
)

_SLOW = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)

# (minute, user, type) events; minute resolution keeps windows readable
_EVENTS = st.lists(
    st.tuples(
        st.integers(0, 500),
        st.integers(1, 4),
        st.sampled_from(["click", "view", "purchase", "error"]),
    ),
    min_size=1,
    max_size=40,
)


def _ref_attribution(rows, lookback_s):
    """(conv_id -> list of (touch_id, first, last, linear, position))"""
    convs = [(i, u, m * 60) for i, (m, u, t) in enumerate(rows) if t == "purchase"]
    touches = [
        (i, u, m * 60)
        for i, (m, u, t) in enumerate(rows)
        if t in ("click", "view")
    ]
    out = {}
    for ci, cu, cs in convs:
        cand = sorted(
            (ts, ti)
            for ti, tu, ts in touches
            if tu == cu and ts < cs and ts >= cs - lookback_s
        )
        n = len(cand)
        if not n:
            continue
        creds = []
        for rk, (ts, ti) in enumerate(cand, start=1):
            first = 10000 if rk == 1 else 0
            last = 10000 if rk == n else 0
            linear = 10000 // n
            if n == 1:
                pos = 10000
            elif n == 2:
                pos = 5000
            elif rk in (1, n):
                pos = 4000
            else:
                pos = 2000 // (n - 2)
            creds.append((ti, first, last, linear, pos))
        out[ci] = creds
    return out


@_SLOW
@given(_EVENTS)
def test_attribution_matches_reference(spark, rows):
    import datetime as dt

    df = spark.createDataFrame(
        [
            (i, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=m), u, t, 0.0)
            for i, (m, u, t) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double",
    )
    got = defaultdict(list)
    for r in attribute_conversions(df, lookback_s=3600).orderBy(
        "conv_id", "touch_rank"
    ).collect():
        got[r["conv_id"]].append(
            (
                r["touch_id"],
                r["first_touch_bp"],
                r["last_touch_bp"],
                r["linear_bp"],
                r["position_bp"],
            )
        )
    assert dict(got) == _ref_attribution(rows, 3600)


_GRAPH = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9)),
    min_size=1,
    max_size=25,
)


def _ref_pagerank_fixed(edges, k):
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    n = len(nodes)
    out = Counter(u for u, _ in edges)
    rank = {v: SCALE // n for v in nodes}
    for _ in range(k):
        dang = sum(rank[v] for v in nodes if out[v] == 0)
        base = (SCALE * 15) // (100 * n)
        ds = (dang * 85) // (100 * n)
        ins = defaultdict(int)
        for u, v in edges:
            ins[v] += (rank[u] * 85) // (100 * out[u])
        rank = {v: base + ds + ins[v] for v in nodes}
    return rank


@_SLOW
@given(_GRAPH)
def test_pagerank_fixedpoint_matches_reference(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["rank"]
        for r in pagerank_fixedpoint(df, iterations=3).collect()
    }
    # parallel edges are honoured as given (module contract), so the
    # reference counts multiplicity too
    assert got == _ref_pagerank_fixed(edges, 3)
