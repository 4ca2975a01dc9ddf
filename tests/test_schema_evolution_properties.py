"""Hypothesis properties for operators.schema_evolution — the operator
became driver-load-bearing in round 8 (the mart slot's delta batch runs
through evolve_to_schema inside the value gate), so its contract gets
the property treatment: over random schema pairs, conform must succeed
EXACTLY when every source column reaches its target type by identity or
safe widening (and no unexpected extras), the output schema must equal
the target verbatim.

All properties run on empty DataFrames — conform is a pure projection,
so the schema is the whole contract and no Spark job is triggered.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from sports_stats_data_pipeline_spark.operators.schema_evolution import (
    _SAFE_WIDENINGS,
    evolve_to_schema,
)

#: type pool spanning every widening chain plus never-widenable types
_TYPES = [
    T.ByteType(),
    T.ShortType(),
    T.IntegerType(),
    T.LongType(),
    T.FloatType(),
    T.DoubleType(),
    T.DateType(),
    T.TimestampType(),
    T.StringType(),
    T.BooleanType(),
]

_names = st.lists(
    st.sampled_from([f"c{i}" for i in range(8)]),
    min_size=1,
    max_size=6,
    unique=True,
)


@st.composite
def _schema_pair(draw):
    """(source schema, target schema) over a shared name pool: targets
    may add columns the source lacks; sources may carry extras."""
    src_names = draw(_names)
    tgt_names = draw(_names)
    src_types = {n: draw(st.sampled_from(_TYPES)) for n in src_names}
    tgt_types = {n: draw(st.sampled_from(_TYPES)) for n in tgt_names}
    src = T.StructType(
        [T.StructField(n, src_types[n], True) for n in src_names]
    )
    tgt = T.StructType(
        [T.StructField(n, tgt_types[n], True) for n in tgt_names]
    )
    return src, tgt


def _legal(src: T.StructType, tgt: T.StructType) -> bool:
    """The documented accept condition (recomputed independently)."""
    tgt_names = {f.name for f in tgt.fields}
    have = {f.name: f.dataType for f in src.fields}
    if any(n not in tgt_names for n in have):
        return False
    for f in tgt.fields:
        if f.name not in have:
            continue  # added as typed NULL — always legal
        s = have[f.name]
        if s != f.dataType and (s, f.dataType) not in _SAFE_WIDENINGS:
            return False
    return True


@settings(max_examples=60, deadline=None)
@given(pair=_schema_pair())
def test_conform_succeeds_iff_legal_and_yields_target(spark, pair):
    import pytest

    src, tgt = pair
    batch = spark.createDataFrame([], src)
    if _legal(src, tgt):
        out = evolve_to_schema(batch, tgt)
        # output schema is the target verbatim: names, types, ORDER
        assert [(f.name, f.dataType) for f in out.schema.fields] == [
            (f.name, f.dataType) for f in tgt.fields
        ]
        # idempotence: a conformed frame re-conforms as identity
        again = evolve_to_schema(out, tgt)
        assert again.schema == out.schema
    else:
        with pytest.raises(ValueError, match="schema evolution rejected"):
            evolve_to_schema(batch, tgt)
