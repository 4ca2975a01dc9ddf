"""Incremental aggregate maintenance — keep a keyed aggregate table
current under appends by combining it with the DELTA's partial
aggregates, never rescanning history. This is the materialized-view
form of the reference's incremental design (resume-safe append-only
ingest, SURVEY.md §2.10): the sink the reference rewrites wholesale is
instead maintained at O(Δ) per batch.

Only decomposable aggregates qualify — exactly those Spark itself
computes as partial+final (sum, count, min, max, and anything derived
from them like avg = sum/count). Distinct counts are non-decomposable
EXACTLY but decomposable approximately: the ``approx_distinct`` kind
keeps a Datasketches HLL sketch per key (binary state column, delta =
``hll_sketch_agg``, combine = ``hll_union_agg``) and serves the count
via ``hll_sketch_estimate`` — union of sketches IS the sketch of the
union, so maintenance stays O(Δ) with ~±2% error at high cardinality.
Other non-decomposable measures (exact median, exact distinct) still
need a rescan, and this module refuses rather than approximates
silently.

Semantics contract: deltas are assumed exactly-once (pair with the
insert-if-absent merge or streaming checkpoints from this repo —
replaying a delta double-counts sums, a property the tests pin rather
than hide; ``approx_distinct`` alone is replay-IDEMPOTENT, set
semantics — also pinned).

Shape: one hash aggregate over the delta, one by-name union with the
(already aggregated, keys-sized) state, one final combine aggregate —
all map-side combinable, shuffle bounded by the KEY cardinality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "aggregate_delta",
    "merge_aggregate_state",
    "AGG_COMBINERS",
]

#: measure kind -> (delta aggregator, state combiner). The combiner re-
#: aggregates the unioned partials; sum/count combine by sum, min/max
#: by min/max (idempotent under re-combination of disjoint partials);
#: approx_distinct carries an HLL sketch and combines by sketch union;
#: quantile_sketch carries a bottom-k entry sample (source column must
#: be a struct<h, v> built with operators.quantiles.qsketch_entry) and
#: combines by bottom-k of the union — serve it at read time with
#: qsketch_quantile. Like approx_distinct it is replay-IDEMPOTENT: a
#: replayed delta re-offers the same (h, v) entries, which the
#: set-semantic bottom-k keeps once.
AGG_COMBINERS = {
    "sum": (F.sum, F.sum),
    "count": (F.count, F.sum),
    "min": (F.min, F.min),
    "max": (F.max, F.max),
    "approx_distinct": (F.hll_sketch_agg, F.hll_union_agg),
}


def _register_quantile_kind() -> None:
    from .quantiles import qsketch_agg, qsketch_combine

    AGG_COMBINERS["quantile_sketch"] = (qsketch_agg, qsketch_combine)


_register_quantile_kind()


def aggregate_delta(
    delta: DataFrame, keys: list[str], measures: dict[str, tuple[str, str]]
) -> DataFrame:
    """Partial-aggregate a delta batch: ``measures`` maps output column
    -> (kind, source column), kind in AGG_COMBINERS."""
    aggs = []
    for out, (kind, col) in measures.items():
        if kind not in AGG_COMBINERS:
            raise ValueError(
                f"measure {out!r}: {kind!r} is not decomposable — "
                f"supported: {sorted(AGG_COMBINERS)}"
            )
        aggs.append(AGG_COMBINERS[kind][0](col).alias(out))
    return delta.groupBy(*keys).agg(*aggs)


def merge_aggregate_state(
    state: DataFrame | None,
    delta: DataFrame,
    keys: list[str],
    measures: dict[str, tuple[str, str]],
) -> DataFrame:
    """New state = combine(state, partial(delta)). ``state`` None means
    first batch. Output schema: keys + measure columns — feed it back
    in as ``state`` for the next batch (or stage/promote it to parquet
    via operators.sinks for crash safety)."""
    part = aggregate_delta(delta, keys, measures)
    if state is None:
        return part
    combined = state.unionByName(part)
    aggs = [
        AGG_COMBINERS[kind][1](out).alias(out)
        for out, (kind, _) in measures.items()
    ]
    return combined.groupBy(*keys).agg(*aggs)
