"""Heavy hitters (frequent values) at scale — per-partition Misra-Gries
summaries, candidate union, exact recount.

The problem: find every value whose frequency exceeds a threshold
fraction of a column, when the distinct-value universe is far too large
to want a full groupBy-count shuffle (user ids, URLs, n-grams at
100 TB). The two-pass sketch-then-verify design bounds the shuffle at
``capacity`` rows PER PARTITION regardless of the tail:

1. **Summary pass** — each input partition runs a weighted Misra-Gries
   stream summary of capacity ``k`` (mapInPandas; per Arrow batch the
   values are pre-aggregated with ``value_counts`` so the Python loop
   touches distinct values, not rows; compaction subtracts the
   (k+1)-th largest counter from all and drops the non-positive —
   every unit of decrement is matched by >= k+1 counters losing that
   unit, so a partition with n_i rows decrements at most n_i/(k+1)
   total). Guarantee (averaging argument): an item with GLOBAL
   frequency f > n/(k+1) has f_i > n_i/(k+1) in at least one
   partition — otherwise f = Σf_i <= Σ n_i/(k+1) = n/(k+1) — so it
   survives that partition's summary. The union of summary keys is
   therefore a SUPERSET of every true heavy hitter.
2. **Exact pass** — broadcast-semi-join the candidate set back onto
   the column, exact groupBy count, filter ``n * threshold_denom >
   total`` in integer arithmetic. Sketch noise cannot reach the
   output: false candidates are discarded by their exact counts, true
   hitters are guaranteed present. The result is EXACT at any scale
   and any partitioning (partition-invariance pinned in
   tests/test_heavyhitters.py), which is what lets the driver hash it
   against a plain SQL ``HAVING`` oracle.

Candidate-set size is <= capacity × partitions (k=199 × 1000 tasks ≈
2×10⁵ strings — a few MB broadcast). Two scans of the input is the
batch-standard trade; the one-pass alternative (count-min + heap)
gives approximate counts, which a training-data pipeline then can't
use for exact quota/skew decisions.

Used for: hot-key detection feeding operators/skewjoin.py salting
decisions, domain/user dominance checks in the data_quality_report
driver slot, frequent-shingle mining (the repetition/boilerplate
modules solve the bounded-universe version with plain aggregation).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _mg_update(
    counters: dict[str, int], values: np.ndarray, counts: np.ndarray,
    capacity: int,
) -> None:
    """Weighted Misra-Gries update with batched compaction."""
    for v, c in zip(values.tolist(), counts.tolist()):
        counters[v] = counters.get(v, 0) + int(c)
    if len(counters) > capacity:
        # subtract the (capacity+1)-th largest counter from everything;
        # drops at least len - capacity entries, keeps the MG invariant
        vals = np.fromiter(counters.values(), dtype=np.int64)
        d = int(np.partition(vals, -(capacity + 1))[-(capacity + 1)])
        for k in [k for k, c in counters.items() if c - d <= 0]:
            del counters[k]
        for k in counters:
            counters[k] -= d


def partition_summaries(
    df: DataFrame, col: str, capacity: int
) -> DataFrame:
    """Per-partition Misra-Gries summaries: DataFrame[value, weight]
    with <= ``capacity`` + 1 rows per input partition. ``col`` is cast
    to string (the summary key type; NULLs are dropped — a NULL
    frequency check belongs to expectations.not_null).

    Each partition additionally emits ONE ``value IS NULL`` marker row
    whose weight is the partition's row count — NULL values were
    filtered from the stream, so the marker is unambiguous, and
    summing marker weights gives the grand total WITHOUT a separate
    counting scan of the input (the two-scan contract)."""
    src = df.select(F.col(col).cast("string").alias("value")).filter(
        F.col("value").isNotNull()
    )

    def summarize(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict[str, int] = {}
        n_rows = 0
        for pdf in it:
            n_rows += len(pdf)
            vc = pdf["value"].value_counts()
            _mg_update(
                counters,
                vc.index.to_numpy(),
                vc.to_numpy(),
                capacity,
            )
        yield pd.DataFrame(
            {
                "value": [*counters.keys(), None],
                "weight": np.fromiter(
                    [*counters.values(), n_rows],
                    dtype=np.int64,
                    count=len(counters) + 1,
                ),
            }
        )

    return src.mapInPandas(summarize, "value string, weight long")


def heavy_hitters(
    df: DataFrame,
    col: str,
    threshold_denom: int,
    capacity: int | None = None,
) -> DataFrame:
    """Exact heavy hitters: every value of ``col`` occurring STRICTLY
    more than ``1/threshold_denom`` of the non-null rows, as
    DataFrame[value, n, total, freq_bp] (freq_bp = basis points,
    floor(10000·n/total) in integer arithmetic).

    ``capacity`` defaults to ``2 * threshold_denom`` — anything
    >= threshold_denom preserves the superset guarantee; the slack
    keeps per-partition counters farther from the decrement boundary
    (fewer false candidates for the exact pass to discard).
    """
    if threshold_denom < 2:
        raise ValueError(
            f"threshold_denom must be >= 2, got {threshold_denom}"
        )
    cap = 2 * threshold_denom if capacity is None else capacity
    if cap < threshold_denom:
        raise ValueError(
            f"capacity {cap} < threshold_denom {threshold_denom} "
            "breaks the superset guarantee"
        )
    src = df.select(F.col(col).cast("string").alias("value")).filter(
        F.col("value").isNotNull()
    )
    # ONE summary relation feeds both the candidate set and the total
    # (via the per-partition NULL marker rows), so the operator costs
    # exactly two scans of the input — summary pass + exact recount —
    # not three. The summary is tiny (<= (capacity+1) × partitions
    # rows) and consumed twice, so it is collected EAGERLY here — it
    # was headed for a broadcast anyway, and an internal persist()
    # would pin an orphaned cache entry per call for the application
    # lifetime (no handle to unpersist).
    spark = df.sparkSession
    summ = partition_summaries(df, col, cap).collect()
    total = sum(r["weight"] for r in summ if r["value"] is None)
    cands = sorted({r["value"] for r in summ if r["value"] is not None})
    empty = spark.createDataFrame(
        [], "value string, n long, total long, freq_bp long"
    )
    if total == 0 or not cands:
        return empty
    # pandas-backed (Arrow) relation, not a Python tuple list: the
    # list path is a Python-RDD-backed relation that re-pays a
    # Python-worker round per slice on every evaluation (and this one
    # is re-evaluated per broadcast build); the Arrow path evaluates
    # JVM-side (round-12 streaming-sentinel finding applied here).
    cand_df = spark.createDataFrame(
        pd.DataFrame({"value": cands}), "value string"
    )
    exact = (
        src.join(F.broadcast(cand_df), "value", "left_semi")
        .groupBy("value")
        .agg(F.count("*").alias("n"))
    )
    return (
        exact.filter(F.col("n") * threshold_denom > F.lit(total))
        .select(
            "value",
            "n",
            F.lit(total).alias("total"),
            # integer floor division end-to-end: the double path
            # (floor(10000*n / total)) can round across an integer
            # boundary once 10000*n exceeds 2^53 and flip vs the
            # oracle's `10000 * n // total`
            F.expr(f"(10000 * n) div {total}").alias("freq_bp"),
        )
    )
