"""Property-based tests (hypothesis): parser totality and merge
resume-safety — the reference's core guarantee under arbitrary batch
splits (SURVEY.md §5.2)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from sports_stats_data_pipeline_spark.functions.parsing import (
    parse_height_cm,
    parse_mmss_seconds,
    parse_of_pair,
    parse_pct,
    parse_record,
    parse_ref_date,
)
from sports_stats_data_pipeline_spark.operators.merge import insert_if_absent

# printable junk incl. near-miss shapes the parsers must never throw on
junk = st.one_of(
    st.text(
        alphabet="0123456789-:%\"' oflbs.JanFebDec,N/A",
        min_size=0,
        max_size=24,
    ),
    st.sampled_from(
        ["28-1-0", "15-3", "N/A", "", "5' 11\"", "1:2", "99:99", "0 of",
         "of 9", "Jan. 1, 2020", "Jan 1 2020", "-1--2--3", "%", "' \""]
    ),
)


@settings(max_examples=10, deadline=None)
@given(st.lists(junk, min_size=1, max_size=25))
def test_parsers_are_total_never_throw(spark, values):
    df = spark.createDataFrame([(v,) for v in values], schema="v string")
    w, l, d = parse_record(F.col("v"))
    landed, att = parse_of_pair(F.col("v"))
    out = df.select(
        w.alias("w"), l.alias("l"), d.alias("d"),
        parse_height_cm(F.col("v")).alias("h"),
        parse_pct(F.col("v")).alias("p"),
        parse_ref_date(F.col("v")).alias("dt"),
        landed.alias("lo"), att.alias("ao"),
        parse_mmss_seconds(F.col("v")).alias("s"),
    ).collect()
    assert len(out) == len(values)  # every row survives, NULLs allowed
    for r in out:
        if r["p"] is not None:
            assert 0.0 <= r["p"]
        if r["s"] is not None:
            assert r["s"] >= 0


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 99)),
        min_size=1,
        max_size=30,
    ),
    st.integers(1, 4),
)
def test_merge_resume_safety_any_batch_split(spark, rows, n_batches):
    """Applying row batches in any split through insert-if-absent yields
    the same key set as one big batch, and first occurrence wins."""
    data = [(f"u{k}", i, f"payload{i}") for i, (k, _) in enumerate(rows)]
    empty = spark.createDataFrame([], schema="url string, seq int, v string")

    # split into n roughly-equal sequential batches
    size = max(1, len(data) // n_batches)
    batches = [data[i : i + size] for i in range(0, len(data), size)]

    sink = empty
    for b in batches:
        bdf = spark.createDataFrame(b, schema="url string, seq int, v string")
        # within-batch dups: keep the earliest seq deterministically
        from sports_stats_data_pipeline_spark.operators.merge import (
            first_wins_dedup,
        )
        sink = insert_if_absent(sink, first_wins_dedup(bdf, ["url"], ["seq"]), ["url"])

    full = spark.createDataFrame(data, schema="url string, seq int, v string")
    from sports_stats_data_pipeline_spark.operators.merge import (
        first_wins_dedup,
    )
    expected = first_wins_dedup(full, ["url"], ["seq"])

    got = sorted(map(tuple, sink.collect()))
    want = sorted(map(tuple, expected.collect()))
    assert got == want

