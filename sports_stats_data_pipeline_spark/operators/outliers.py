"""Robust outlier detection: median / MAD (modified z-score) per group.

The anomaly gate a production pipeline runs beside its expectations
(operators.expectations): means and stddevs are themselves dragged by
the outliers they're supposed to find, so the robust version uses the
median and the Median Absolute Deviation — the Iglewicz-Hoban modified
z-score ``0.6745 * |x - median| / MAD > 3.5``.

Determinism conventions (plans/__init__.py): values are INTEGER units
(cents, micros — caller converts); the median is the LOWER median
(element at position (n+1)//2 of the sorted run — an actual data value,
no interpolation, identical in any engine); the threshold test is the
exact integer cross-multiplication ``6745 * dev > 35000 * mad`` —
nothing floats, so results are bit-identical across engines and
partitionings and a DuckDB twin hash-matches.

Degenerate runs: MAD = 0 (more than half the group identical) makes any
nonzero deviation infinitely many MADs out, so every ``dev > 0`` row is
flagged — the documented standard behavior; pre-filter or widen groups
if that's too eager.

Scale shape: one hash partition by the group key serves the median
chain — the value-order window, the median aggregate, the join to the
deviation-order window, and the MAD aggregate all cluster on the same
key (group-key skew bounds partition size, not table size); the
one-row-per-group med/mad relations then join BACK onto the unshuffled
input (broadcast for any sane group cardinality — a group universe too
large to broadcast falls back to a shuffle join on the key, the same
exchange the old union shape paid through its repartition). No UDF, no
driver state, and the input is scanned exactly once.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["mad_outliers"]

#: 0.6745 * dev > 3.5 * mad, cross-multiplied into integers
_Z_NUM = 6745  # 0.6745 * 10^4
_Z_DEN = 35000  # 3.5 * 10^4


def _lower_median(df: DataFrame, keys: list, val: str, out: str) -> DataFrame:
    """Per-key lower median of an integer column: the value at sorted
    position (n+1)//2. groupBy on the window's own partition key — one
    exchange serves both."""
    w = Window.partitionBy(*keys).orderBy(val)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(Window.partitionBy(*keys)))
        .filter(F.col("__rn") == F.expr("(__n + 1) div 2"))
        .groupBy(*keys)
        .agg(F.min(val).alias(out))
    )


def mad_outliers(
    df: DataFrame,
    value: str,
    *,
    group_by: Sequence[str] = (),
    z_num: int = _Z_NUM,
    z_den: int = _Z_DEN,
) -> DataFrame:
    """All input columns plus (med, dev, mad, is_outlier INT 0/1).

    ``value`` must be an integral column (LongType/IntegerType — floats
    are rejected: the whole point is exact cross-engine decisions).
    NULL values pass through with NULL med/dev/mad and is_outlier = 0
    (no evidence is not an anomaly). ``z_num/z_den`` override the
    modified-z threshold as the exact fraction dev/mad > z_den/z_num.
    """
    t = dict(df.dtypes)[value]
    if t not in ("int", "bigint", "smallint", "tinyint"):
        raise ValueError(
            f"value column {value!r} must be integral, got {t}; convert "
            "to integer units (cents/micros) first"
        )
    clash = {"med", "dev", "mad", "is_outlier"} & set(df.columns)
    if clash:
        # the join-back would otherwise raise AMBIGUOUS_REFERENCE (or
        # silently shadow) — fail with a nameable cause instead
        raise ValueError(
            f"mad_outliers output columns collide with input: {sorted(clash)}"
        )
    keys = list(group_by)
    if not keys:
        df = df.withColumn("__g", F.lit(1))
        keys = ["__g"]
        drop_g = True
    else:
        drop_g = False

    # one explicit exchange up front: the window/agg chain below
    # clusters on the same key, so EnsureRequirements adds nothing.
    # (Ungrouped mode degenerates to a single partition — inherent to an
    # exact global median; use group_by for the scale path.)
    vals = df.filter(F.col(value).isNotNull()).repartition(*keys)
    # med is consumed TWICE (the deviation chain and the output join):
    # without the persist each reference re-ran the whole value-order
    # window chain — at small group-parallelism that chain is a SERIAL
    # leg, and re-evaluating it dominated the operator (round-13 A/B on
    # orders×priority: 1.23 s -> 0.35 s from the persist alone). The
    # cached relation is one row per group (group-cardinality-bounded,
    # MEMORY_AND_DISK, LRU-evicted); callers looping in a long-lived
    # session release it with clearCache like every tiny-relation
    # persist in this codebase (operators/drift.py `joined`).
    med = _lower_median(vals, keys, value, "med").persist()
    with_med = vals.join(med, keys).withColumn(
        "dev", F.abs(F.col(value) - F.col("med"))
    )
    # mad persisted for the same reason AND so the join-back planner
    # sees accurate (tiny) runtime stats: an uncached mad lineage made
    # AQE keep a sort-merge join — an extra exchange of the whole input
    mad = _lower_median(with_med, keys, "dev", "mad").persist()
    # output = the INPUT joined back to the per-group med/mad relations
    # (broadcast at any sane group cardinality — AQE demotes to a
    # shuffle join if a huge group universe outgrows the threshold),
    # replacing the former flagged ∪ nulls shape: that shape scanned the
    # input a second time for the NULL-value rows and re-evaluated the
    # with_med join once per DAG reference (round-13 A/B: 0.35 s ->
    # 0.25 s on top of the persist). Row-retention semantics are
    # unchanged: non-NULL values always find their group in med (built
    # from exactly those rows), NULL-keyed non-NULL-value rows fail the
    # equi-join in BOTH shapes (filter below mirrors the old inner
    # join's drop), and NULL values pass through with NULL med/dev/mad
    # and is_outlier = 0.
    vnull = F.col(value).isNull()
    out = (
        df.join(med, keys, "left")
        .join(mad, keys, "left")
        .filter(vnull | F.col("med").isNotNull())
        .select(
            *df.columns,
            F.when(vnull, F.lit(None))
            .otherwise(F.col("med"))
            .cast("long")
            .alias("med"),
            F.when(vnull, F.lit(None))
            .otherwise(F.abs(F.col(value) - F.col("med")))
            .cast("long")
            .alias("dev"),
            F.when(vnull, F.lit(None))
            .otherwise(F.col("mad"))
            .cast("long")
            .alias("mad"),
            F.when(vnull, F.lit(0))
            .otherwise(
                (
                    F.abs(F.col(value) - F.col("med")).cast("long") * z_num
                    > F.col("mad").cast("long") * z_den
                ).cast("int")
            )
            .alias("is_outlier"),
        )
    )
    return out.drop("__g") if drop_g else out
