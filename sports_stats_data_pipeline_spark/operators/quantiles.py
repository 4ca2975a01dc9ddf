"""Mergeable quantile-sketch columns: the O(Δ) percentile leg of the
incremental mart (distinct = HLL, operators/incremental.py; frequency =
CMS, operators/cms.py; this module completes the trio).

Design: a bottom-k sample by deterministic per-row hash (the KMV /
bottom-k sketch idea applied to rank statistics). Each row contributes
an entry ``struct<h: long, v: long>`` where ``h`` is the md5-derived
hash of the row's IDENTITY (not its value — a hot value must not
monopolize the sample) and ``v`` the measured value; the sketch is the
``k`` smallest entries under (h, v) order. Quantiles are served by rank
over the sample's values.

Why this shape instead of KLL/t-digest:

- **Deterministic.** md5 is the only "randomness", so the sketch is a
  pure function of the data — replay-stable and cross-engine
  reproducible (DuckDB builds the identical sketch; the driver oracle
  relies on it).
- **Bit-exact mergeable at ANY split.** merge = distinct ∘ sort ∘
  concat then take the first k — associative, commutative,
  split-invariant, AND replay-idempotent (set semantics over entries),
  so sketch(A) ⊕ sketch(B) == sketch(A ∪ B) BIT-EXACTLY (KLL/t-digest
  merges are history-dependent; their split equality is approximate
  only). This is the same contract the HLL leg gives the mart, and
  stronger than the CMS leg's (which double-counts replays).
- **Exact regime.** A group with ≤ k rows keeps ALL its rows, so every
  quantile is exact — the oracle strategy (mirror HLL's exact-regime
  precedent) and a practical fact: most mart keys are small; only the
  heavy ones degrade, gracefully, to a uniform sample with rank error
  O(n/sqrt(k)) w.h.p.

Scale shape: per-batch partials are one hash aggregate clustered on the
mart keys; state per key is ≤ k entries (~16 bytes each, 16 KiB at
k=1024); maintenance is O(Δ log k). The naive single-stage build
(``collect_list`` then slice) holds a whole group per aggregation
buffer; pre-sharding each group by an entry hash and combining the
shard sketches with :func:`qsketch_combine` bounds any single buffer by
group/shards without changing the result (merge associativity).

Quantile convention: the LOWER-interpolation rank statistic — for
quantile num/den over n sampled values, the value at sorted index
``(num * (n-1)) // den`` (0-based). The rank is computed in INTEGER
arithmetic so Spark and a SQL oracle select the identical element (a
float ``q*(n-1)`` would hit decimal-vs-binary floor disagreements at
boundary ranks).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "qsketch_entry",
    "qsketch_agg",
    "qsketch_combine",
    "qsketch_quantile",
    "QSKETCH_K",
]

#: default sample size: exact through 1024-row groups, ~3% rank error
#: at any size beyond, 16 KiB state per key.
QSKETCH_K = 1024


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def qsketch_entry(id_col: Column | str, value: Column | str) -> Column:
    """Sketch entry for one row: ``struct<h, v>`` with ``h`` the
    md5-derived 60-bit hash of the row's unique identity (cross-engine:
    DuckDB ``('0x' || substr(md5(id), 1, 15))::BIGINT``). Hashing the
    IDENTITY, not the value, keeps duplicate-heavy values from
    monopolizing the bottom-k (each copy draws independently)."""
    h = F.conv(
        F.substring(F.md5(_c(id_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    return F.struct(h.alias("h"), _c(value).cast("long").alias("v"))


def qsketch_agg(entry: Column | str, k: int = QSKETCH_K) -> Column:
    """Aggregate expression: bottom-k DISTINCT-entry sample of a group
    (set semantics — with unique row ids the distinct is a no-op, and
    it makes the sketch replay-idempotent: a re-offered entry is kept
    once, the HLL precedent). The aggregation buffer holds the group's
    rows before the slice — fine for delta batches; pre-shard unbounded
    groups (module docstring)."""
    return F.slice(
        F.array_sort(F.array_distinct(F.collect_list(_c(entry)))), 1, k
    )


def qsketch_combine(sketch: Column | str, k: int = QSKETCH_K) -> Column:
    """Aggregate expression combining sketches: bottom-k of the entry
    UNION (set semantics). Associative, split-invariant, and
    replay-idempotent: an entry below the sketch's k-th order statistic
    is already in it, one above can never re-enter — so re-merging a
    replayed delta's partial is a no-op."""
    return F.slice(
        F.array_sort(
            F.array_distinct(F.flatten(F.collect_list(_c(sketch))))
        ),
        1,
        k,
    )


def qsketch_quantile(
    sketch: Column | str, num: int, den: int
) -> Column:
    """Quantile num/den of a sketch column: the sampled value at sorted
    0-based index ``(num * (n-1)) // den`` (lower interpolation,
    integer rank arithmetic — see module docstring). NULL on an empty
    sketch."""
    if not 0 <= num <= den or den <= 0:
        raise ValueError(f"need 0 <= num/den <= 1, got {num}/{den}")
    vs = F.array_sort(F.transform(_c(sketch), lambda x: x["v"]))
    n = F.size(vs)
    # integer floor-division: (q - q % den) / den with q = num*(n-1) —
    # the division is of an exact multiple, so no float rounding exists
    q = F.lit(num) * (n - F.lit(1)).cast("long")
    idx = ((q - q % F.lit(den)) / F.lit(den)).cast("int") + F.lit(1)
    return F.when(n > 0, F.element_at(vs, idx))
