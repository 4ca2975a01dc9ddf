"""Persisted Bloom filter — shuffle-pruning primitive for incremental
merge at scale.

The reference's resume path re-reads its entire sink and anti-joins every
incoming key against it (fighters_scraper.py:163-211 via
``operators.merge.insert_if_absent``). At 100 TB that anti-join shuffles
the full incoming relation against the full sink key set every run, even
when almost every incoming key is genuinely new. A Bloom filter of the
sink's keys inverts the cost: probe is a join against a tiny bitmap
relation, *"definitely new"* rows skip the exact join entirely, and only
the *"maybe present"* sliver (true duplicates + the controlled
false-positive fraction) pays the exact anti-join.

Spark's AQE injects runtime bloom filters *within* one query
(``spark.sql.optimizer.runtime.bloomFilter.enabled``); this operator is
the *cross-job* variant — the filter outlives the query, is saved as a
tiny parquet next to the sink, and is loaded by the next incremental run
(the same lifecycle as the reference's resume CSV, at ~10 bits/key
instead of the full key column).

Representation — SHARDED for 100-TB key cardinalities: the bitmap is
split across ``shards`` rows, each ``(__bloom_shard, __bloom_m,
__bloom_k, __bloom_shards, __bloom_words, __bloom_bits array<bigint>)``
(dunder-prefixed so a probe's join never collides with user columns).
``__bloom_m`` is the *per-shard* bit width; a key's shard is
``pmod(xxhash64(-1, key), shards)`` and its k bit positions live inside
that shard's bitmap. A single-row filter (``shards=1``) caps out around
10⁹ keys at 1% FP (~1.2 GB — near Spark's 2 GB array-row ceiling and
past sane broadcast sizes); sharding bounds every row to
``m_bits/shards/8`` bytes, so 10¹⁰–10¹¹ keys are reachable with
``shards`` in the hundreds while each row stays a few MB.

Build is one explode + ``bit_or`` hash aggregate keyed on
``(shard, word)``; probe equi-joins on the shard id (broadcast by
default — the whole filter is ~10 bits/key; pass ``broadcast=False``
when the filter itself is huge and a shuffle join is the right plan)
and evaluates ``k`` AND-ed bit tests, all whole-stage-codegen
expressions (``xxhash64``/``pmod``/``shiftleft`` — no Python, no UDF).
Empty shards materialise no row; the probe's left join turns the miss
into "certainly absent".

No false negatives, ever (guaranteed by construction; pinned in
tests/test_bloom.py). False-positive rate ≈ ``(1 - e^{-k·n/m})^k``:
size ``m_bits ≈ 10·n`` with ``k = 7`` for ~1%. Engine-specific hashing
(``xxhash64``) means no DuckDB twin — correctness is pinned by the
membership/FP-rate/round-trip property tests instead.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "build_bloom",
    "probe_bloom",
    "insert_if_absent_bloom",
    "optimal_params",
]

_META = ["__bloom_shard", "__bloom_m", "__bloom_k", "__bloom_shards"]
_COLS = [*_META, "__bloom_words", "__bloom_bits"]


def optimal_params(n_keys: int, fp_rate: float = 0.01) -> tuple[int, int]:
    """Classic sizing: ``m = -n·ln(p)/ln(2)²`` bits, ``k = (m/n)·ln(2)``
    hashes. Returns ``(m_bits, k)`` with ``m`` rounded up to a whole
    64-bit word."""
    n = max(1, n_keys)
    m = math.ceil(-n * math.log(fp_rate) / (math.log(2) ** 2))
    m = ((m + 63) // 64) * 64
    k = max(1, round((m / n) * math.log(2)))
    return m, k


def _shard_of(key: Column, shards: Column) -> Column:
    """Which shard a key's bits live in. Seed -1 keeps the shard hash
    independent of every position hash (seeds 0..k-1)."""
    return F.pmod(F.xxhash64(F.lit(-1), key), shards).cast("int")


def _positions(key: Column, m_bits: Column, k: int) -> list[Column]:
    """The k bit positions of a key *within its shard*:
    ``pmod(xxhash64(seed_i, key), m_shard)``.

    The seed rides along as a literal hash input (PySpark's ``xxhash64``
    has no seed parameter); positions are in ``[0, m)`` so downstream
    word/bit indexing never leaves the shard's bitmap.
    """
    return [
        F.pmod(F.xxhash64(F.lit(i), key), m_bits) for i in range(k)
    ]


def build_bloom(
    df: DataFrame, key_col: str, m_bits: int, k: int, shards: int = 1
) -> DataFrame:
    """Aggregate the keys of ``df`` into a ``shards``-row Bloom bitmap.

    ``m_bits`` is the TOTAL width; each shard holds ``m_bits/shards``
    bits. One narrow projection (shard + k positions per key, explode),
    one ``bit_or`` hash aggregate by ``(shard, word)`` (map-side
    combinable — network traffic is bounded by distinct words, not key
    count), then a per-shard dense-array assembly of the sparse words.
    Scale shape: the only shuffle moves at most ``n_words`` rows per map
    partition, and no single output row exceeds ``m_bits/shards/8``
    bytes regardless of key count.
    """
    if shards <= 0 or m_bits % shards != 0:
        raise ValueError("m_bits must divide evenly into shards")
    m_shard = m_bits // shards
    if m_shard % 64 != 0 or m_shard <= 0:
        raise ValueError("per-shard bits must be a positive multiple of 64")
    n_words = m_shard // 64
    key = F.col(key_col)
    pos = F.explode(
        F.array(*_positions(key, F.lit(m_shard), k))
    ).alias("pos")
    words = (
        df.select(_shard_of(key, F.lit(shards)).alias("shard"), pos)
        .select(
            "shard",
            (F.col("pos") / 64).cast("long").alias("word"),
            # F.shiftleft only takes a literal shift; call_function routes
            # to the SQL builtin, which accepts a column
            F.call_function(
                "shiftleft",
                F.lit(1).cast("long"),
                (F.col("pos") % 64).cast("int"),
            ).alias("mask"),
        )
        .groupBy("shard", "word")
        .agg(F.bit_or("mask").alias("bits"))
    )
    sparse = words.groupBy("shard").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("word"), F.col("bits")))
        ).alias("sparse")
    )
    return sparse.select(
        F.col("shard").alias("__bloom_shard"),
        F.lit(m_shard).alias("__bloom_m"),
        F.lit(k).alias("__bloom_k"),
        F.lit(shards).alias("__bloom_shards"),
        F.lit(n_words).alias("__bloom_words"),
        F.transform(
            F.sequence(F.lit(0), F.lit(n_words - 1)),
            lambda w: F.coalesce(
                F.try_element_at("sparse", w.cast("long")), F.lit(0).cast("long")
            ),
        ).alias("__bloom_bits"),
    )


def _params(bloom: DataFrame) -> tuple[int, int]:
    """(k, shards) from the self-describing filter (any row — every row
    carries the same metadata)."""
    row = bloom.select("__bloom_k", "__bloom_shards").first()
    if row is None:
        raise ValueError("probe_bloom: empty bloom relation")
    return row["__bloom_k"], row["__bloom_shards"]


def probe_bloom(
    df: DataFrame,
    key_col: str,
    bloom: DataFrame,
    flag_col: str = "maybe_present",
    broadcast: bool = True,
) -> DataFrame:
    """Flag each row of ``df`` with whether its key *might* be in the
    filter (false ⇒ certainly absent).

    The key's shard id is computed map-side, then equi-joined against
    the sharded bitmap (broadcast by default: the filter is ~10
    bits/key total, so even 10¹⁰ keys is ~12 GB — pass
    ``broadcast=False`` there and let a shuffle join place each shard
    row next to its probes). A key whose shard has no row missed every
    insert — the left join's NULL bitmap coalesces to "certainly
    absent". The k bit tests are pure codegen expressions over the
    joined ``bits`` array; ``m``/``k``/``shards`` come from the bloom
    rows themselves so a persisted filter is self-describing.
    """
    k, shards = _params(bloom)
    keyed = df.withColumn(
        "__bloom_shard", _shard_of(F.col(key_col), F.lit(shards))
    )
    right = F.broadcast(bloom) if broadcast else bloom
    probed = keyed.join(right, "__bloom_shard", "left")
    checks = []
    for p in _positions(F.col(key_col), F.col("__bloom_m"), k):
        word = (p / 64).cast("int")
        mask = F.call_function(
            "shiftleft", F.lit(1).cast("long"), (p % 64).cast("int")
        )
        checks.append(
            F.coalesce(
                F.try_element_at("__bloom_bits", word + 1).bitwiseAND(mask) != 0,
                F.lit(False),
            )
        )
    hit = checks[0]
    for c in checks[1:]:
        hit = hit & c
    return probed.withColumn(flag_col, hit).drop(*_COLS)


def insert_if_absent_bloom(
    existing: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    bloom: DataFrame,
) -> DataFrame:
    """Two-phase :func:`operators.merge.insert_if_absent` using a filter
    built over ``existing``'s keys.

    Phase 1 (map-side probe + shard join, no wide shuffle): rows whose
    key the bloom rules out are *certainly* new — they bypass the exact
    join. Phase 2: only the "maybe present" sliver anti-joins against
    the sink. Result is row-for-row identical to the plain operator (no
    false negatives ⇒ no duplicate can slip through; false positives
    merely take the slow path). Single-column keys only — the bitmap is
    keyed on one hash input; concatenate upstream for compound keys.
    """
    from .merge import insert_if_absent

    if len(keys) != 1:
        raise ValueError("insert_if_absent_bloom: single-column key only")
    key = keys[0]
    # both branches share the dedup shuffle + probe subtree; within the
    # consumer's single action Spark's ReuseExchange evaluates it once
    probed = probe_bloom(
        new.dropDuplicates([key]), key, bloom, flag_col="__maybe"
    )
    definite_new = probed.filter(~F.col("__maybe")).drop("__maybe")
    suspects = probed.filter(F.col("__maybe")).drop("__maybe")
    merged = insert_if_absent(existing, suspects, [key])
    return merged.unionByName(definite_new, allowMissingColumns=True)
