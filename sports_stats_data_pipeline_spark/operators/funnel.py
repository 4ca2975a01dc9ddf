"""Funnel analysis: how far does each user get through an ORDERED
sequence of steps (view → click → purchase) within a conversion window —
the product-analytics primitive behind every "conversion rate" number.

Semantics (the sequential-aggregate funnel — the formulation every
SQL funnel uses): the user ENTERS the funnel at their earliest step-1
event; each later step matches its earliest event strictly after the
previous step's match and within ``within`` of the entry event (time
ties break on event id via the sort, and strict ``>`` makes equal-time
events unable to satisfy consecutive steps). This is greedy
earliest-match: a user whose only completing sequence requires
SKIPPING an earlier candidate (e.g. a second, later step-1 event whose
window would fit) is not counted — the documented trade of the
sequential formulation; full re-anchoring semantics need a per-user
quadratic scan.

Shape: one groupBy(user) builds the per-user event array, one
``aggregate`` fold over the time-sorted array advances the step state —
a single shuffle keyed by user, then pure expression work. The fold
state is a fixed k-vector of matched timestamps, so per-row cost is
O(events_per_user × k) and memory is O(k). Per-user event counts are
the only skew concern (one bot user with 10⁸ events makes one fat
array); ``max_events_per_user`` caps the collected array via the
earliest-N window (deterministic, documented truncation — the same
skew-guard contract as the LSH bucket caps).

No UDF, no iteration over steps at plan-build time beyond k fold
branches — k is small (funnels are 3-7 steps) and fixed per query.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def funnel_steps(
    events: DataFrame,
    steps: Sequence[str],
    within_minutes: int = 60,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    max_events_per_user: int = 10_000,
) -> DataFrame:
    """Per-user funnel progress: ``(user_col, max_step, step_1_epoch_s ..
    step_k_epoch_s)`` where ``max_step`` is the deepest step reached
    (0 = none) and ``step_i_epoch_s`` the matched event's epoch second
    (NULL beyond ``max_step``)."""
    k = len(steps)
    if k == 0:
        raise ValueError("steps must be non-empty")
    within_s = int(within_minutes) * 60

    relevant = events.filter(F.col(type_col).isin(*steps))
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    capped = (
        relevant.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= max_events_per_user)
        .drop("__rn")
    )
    per_user = capped.groupBy(user_col).agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col(ts_col).cast("long").alias("t"),
                    F.col(id_col).alias("i"),
                    F.col(type_col).alias("y"),
                )
            )
        ).alias("evs")
    )

    # fold state: k matched epoch seconds, NULL = step unmatched yet.
    zero = F.array(*[F.lit(None).cast("long") for _ in range(k)])

    def advance(acc, e):
        """Match event e against the first unmatched step whose
        predecessor is matched (strictly later than it) and whose time
        sits within the window of step 1's match."""
        out = acc
        for i, step in enumerate(steps):
            prev_ok = (
                F.lit(True)
                if i == 0
                else (
                    F.get(out, i - 1).isNotNull()
                    & (e["t"] > F.get(out, i - 1))
                )
            )
            window_ok = (
                F.lit(True)
                if i == 0
                else (e["t"] <= F.get(out, 0) + F.lit(within_s))
            )
            cond = (
                F.get(out, i).isNull()
                & (e["y"] == F.lit(step))
                & prev_ok
                & window_ok
            )
            out = F.when(
                cond,
                F.concat(
                    F.slice(out, 1, i),
                    F.array(e["t"]),
                    F.slice(out, i + 2, k - i - 1)
                    if i < k - 1
                    else F.array().cast("array<long>"),
                ),
            ).otherwise(out)
        return out

    matched = per_user.select(
        user_col,
        F.aggregate(F.col("evs"), zero, advance).alias("m"),
    )
    # matched steps always form a prefix (step i requires i-1), so
    # max_step = non-null prefix length of the state vector.
    prefix_len = F.aggregate(
        F.sequence(F.lit(0), F.lit(k - 1)),
        F.lit(0),
        lambda acc, i: F.when(
            (acc == i) & F.get(F.col("m"), i).isNotNull(), acc + 1
        ).otherwise(acc),
    )
    cols = [
        F.get(F.col("m"), i).alias(f"step_{i + 1}_epoch_s") for i in range(k)
    ]
    return matched.select(
        user_col, prefix_len.alias("max_step"), *cols
    )
