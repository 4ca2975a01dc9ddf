"""Distribution-drift monitoring: compare a column's distribution in a
new batch against a reference snapshot — the input-data drift gate a
production pipeline runs alongside the row-level quality gate
(operators.expectations): expectations catch BROKEN data, drift catches
data that is valid but DIFFERENT (upstream mix change, new locale,
sensor recalibration) before it silently skews models downstream.

Metric: Population Stability Index over fixed bins derived from the
REFERENCE distribution —

    PSI = Σ_bins (p_cur − p_ref) · ln(p_cur / p_ref)

with the usual epsilon floor on empty bins. Conventional reading:
< 0.1 stable, 0.1–0.25 moderate shift, > 0.25 drifted.

Scale shape: binning is a pure expression (floor over the reference's
[min, max] span — the bounds travel as plain numbers with the reference
snapshot, no join needed), each side takes ONE map-side-combinable
groupBy over its bins, and the PSI combine joins two bin-count
relations of ``n_bins (+2 under/overflow)`` rows — driver-light,
shuffle bounded by the bin count, never the data. Persist the
reference's (bounds, bin counts) with the model/snapshot and each new
batch costs one aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: bin ids for values outside the reference span (they carry drift
#: signal — a new batch spilling past the reference max IS a shift).
UNDERFLOW, OVERFLOW = -1, -2


def bin_counts(
    df: DataFrame,
    col: str,
    lo: float,
    hi: float,
    n_bins: int = 10,
) -> DataFrame:
    """Per-bin row counts of ``col`` over fixed bounds: bin i covers
    ``[lo + i·w, lo + (i+1)·w)`` with ``w = (hi−lo)/n_bins`` (the last
    bin closed on ``hi``); values outside land in UNDERFLOW/OVERFLOW,
    NULLs are excluded (gate them with expectations.not_null)."""
    if not hi > lo:
        raise ValueError(f"need hi > lo, got [{lo}, {hi}]")
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1, got {n_bins}")
    return _bin_counts_expr(
        df, col, F.lit(float(lo)), F.lit(float(hi)), n_bins
    )


def _bin_counts_expr(
    df: DataFrame, col: str, lo, hi, n_bins: int
) -> DataFrame:
    """:func:`bin_counts` over COLUMN bounds (literals or columns from
    an attached bounds relation). The floor arithmetic is IEEE-identical
    either way: ``(hi - lo) / n_bins`` is the same double division
    whether Python or codegen performs it."""
    c = F.col(col).cast("double")
    w = (hi - lo) / F.lit(n_bins).cast("double")
    raw = F.floor((c - lo) / w).cast("int")
    bin_id = (
        F.when(c.isNull(), None)
        .when(c < lo, F.lit(UNDERFLOW))
        .when(c > hi, F.lit(OVERFLOW))
        .when(raw >= n_bins, F.lit(n_bins - 1))  # c == hi closes the top
        .otherwise(raw)
    )
    return (
        df.select(bin_id.alias("bin"))
        .filter(F.col("bin").isNotNull())
        .groupBy("bin")
        .agg(F.count("*").alias("n"))
    )


def psi_report(
    reference: DataFrame,
    current: DataFrame,
    col: str,
    n_bins: int = 10,
    bounds: tuple[float, float] | None = None,
    epsilon: float = 1e-4,
) -> DataFrame:
    """Per-bin PSI detail: (bin, ref_n, cur_n, ref_p, cur_p,
    psi_term). ``bounds`` defaults to the reference's min/max (one tiny
    aggregate; pass the persisted bounds to skip it). Sum ``psi_term``
    for the scalar."""
    if bounds is not None:
        lo, hi = bounds
        ref = bin_counts(reference, col, lo, hi, n_bins).withColumnRenamed(
            "n", "ref_n"
        )
        cur = bin_counts(current, col, lo, hi, n_bins).withColumnRenamed(
            "n", "cur_n"
        )
    else:
        # default bounds ride the plan LAZILY as a broadcast 1-row
        # relation instead of a .first() at build time: the eager form
        # ran a full reference scan as a serial, driver-blocking job on
        # EVERY plan build (the round-12 diff_summary finding — this
        # was the quality slot's second build-time job). The span
        # contract keeps firing BY NAME (drift_reference_span) from
        # inside the plan, per the in-plan-assert convention
        # (plans/contracts.py). The bin arithmetic is bit-identical:
        # same doubles, same floor, whether the bounds arrive as Python
        # floats or as columns of this aggregate.
        raw_lo = F.min(F.col(col).cast("double"))
        raw_hi = F.max(F.col(col).cast("double"))
        guard_msg = F.concat(
            F.lit(
                f"drift_reference_span: reference column {col!r} has "
                "no usable span: ["
            ),
            F.coalesce(F.col("__lo").cast("string"), F.lit("None")),
            F.lit(", "),
            F.coalesce(F.col("__hi").cast("string"), F.lit("None")),
            F.lit("]"),
        )
        bdf = (
            reference.agg(raw_lo.alias("__lo"), raw_hi.alias("__hi"))
            .select(
                F.when(
                    F.col("__lo").isNull() | ~(F.col("__hi") > F.col("__lo")),
                    F.raise_error(guard_msg).cast("double"),
                )
                .otherwise(F.col("__lo"))
                .alias("__lo"),
                F.col("__hi"),
            )
            # both bin sides consume this 1-row aggregate; persist so
            # the reference-bounds scan runs once, not once per side
            # (same tiny-relation persist rationale as `joined` below)
            .persist()
        )
        ref = _bin_counts_expr(
            reference.crossJoin(F.broadcast(bdf)),
            col,
            F.col("__lo"),
            F.col("__hi"),
            n_bins,
        ).withColumnRenamed("n", "ref_n")
        cur = _bin_counts_expr(
            current.crossJoin(F.broadcast(bdf)),
            col,
            F.col("__lo"),
            F.col("__hi"),
            n_bins,
        ).withColumnRenamed("n", "cur_n")
    # materialization boundary: ``totals`` and the output both consume
    # ``joined`` — without it each consumer re-executes BOTH bin scans
    # (Spark has no common-subplan elimination across these shapes;
    # verified 2 redundant full re-bins in the executed plan). The
    # relation is <= n_bins + 2 rows. persist() (lazy, recomputable
    # lineage) rather than localCheckpoint(): a checkpoint truncates
    # lineage into unreplicated executor block storage, so losing the
    # hosting executor mid-job would FAIL the query instead of
    # recomputing — the wrong durability trade for a module positioned
    # for long-running 100 TB scans. persist gives the same
    # compute-once sharing with graceful recompute on block loss. The
    # few-KB cached block outlives the call (the returned DF still
    # references it); Spark evicts LRU, so repeated calls don't leak.
    joined = (
        ref.join(cur, "bin", "full_outer")
        .select(
            "bin",
            F.coalesce(F.col("ref_n"), F.lit(0)).alias("ref_n"),
            F.coalesce(F.col("cur_n"), F.lit(0)).alias("cur_n"),
        )
        .persist()
    )
    totals = joined.agg(
        F.sum("ref_n").alias("rt"), F.sum("cur_n").alias("ct")
    )
    eps = F.lit(float(epsilon))
    ref_p = F.greatest(F.col("ref_n") / F.col("rt"), eps)
    cur_p = F.greatest(F.col("cur_n") / F.col("ct"), eps)
    return joined.crossJoin(F.broadcast(totals)).select(
        "bin",
        "ref_n",
        "cur_n",
        ref_p.alias("ref_p"),
        cur_p.alias("cur_p"),
        ((cur_p - ref_p) * (F.log(cur_p) - F.log(ref_p))).alias("psi_term"),
    )
