"""Vector math over ``array<float>`` embedding columns — pure built-in
higher-order functions (zip_with / aggregate), JVM-side, no Python UDF.

Floats are widened to double *before* any arithmetic so results match the
DuckDB oracle's ``embedding::DOUBLE[]`` computation; the fold order of
``F.aggregate`` is the array's element order (left-to-right), same as the
oracle's loop.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """dot(a,b) / (|a| * |b|) — formula shaped to match DuckDB's
    list_cosine_similarity (norms multiplied *after* their square roots).

    Cross-engine boundary contract (measured, round 7): on an EXACT
    clone pair the kernels differ by ~1 ulp around |cos| = 1 — this
    fold yields 0.9999999999999999, DuckDB clamps to exactly 1.0, a
    plain Python left fold yields 1.0000000000000002. Rank-safe: no
    representable double lies strictly between 1.0 and either
    neighbor, so no third pair's sim can interleave and flip an
    ordering against an oracle; value-safe through the operators'
    ROUND(·,4) / micro-score outputs. Oracles must therefore never
    emit a RAW cosine column (always round) and never threshold at a
    value an exact-duplicate pair could sit on (1.0 itself) — every
    registered query follows both rules."""
    return dot(a, b) / (norm(a) * norm(b))
