"""Per-slot Spark-JOB budgets — the regression gate for scheduling
fixed cost.

Round 12 cut neardup_doc_clusters from 158 jobs to 67 (triangles
und-checkpoint, components edge-checkpoint + fused probe, small-graph
fast paths) and corpus_quality_filter from 22 to 11; job count is the
quantity those fixes moved and the quantity bench's netted ratios are
built on — but nothing PINNED it, so a regression (an un-checkpointed
multi-consumer subtree, a lost fast path, AQE bookkeeping creep) would
only surface as a slow drift in BENCH records. This suite runs every
extended-tier slot once at sf0.01 inside a job group and asserts its
job count stays under budget.

Budgets are measured-count x ~1.5, rounded up (measured twice at
sf0.01 on round-12 HEAD — identical counts both passes, so the counts
are deterministic for a fixed plan + SF; the headroom absorbs minor
AQE re-planning, not structural regressions: the pre-fix doc_clusters
at 158 would trip its budget of 100 by 58%). A legitimate plan change
that raises a count should update the budget IN THE SAME COMMIT with
the measured number — this file is a ledger, not a suggestion.
"""

from __future__ import annotations

import pytest

from sports_stats_data_pipeline_spark.plans import all_registries

SF = "/root/testdata/sf0.01"

#: slot -> (measured, budget). Measured column refreshed by the
#: round-12 continuation session (semdedup single-projection
#: assignment, lazy diff_summary, shared corpus_mix max-id, load_table
#: schema memo) — every changed count moved DOWN, so the original
#: budgets remain valid upper bounds and stay as committed.
JOB_BUDGETS = {
    "neardup_doc_clusters": (65, 100),
    "data_quality_report": (36, 60),
    "incremental_mart_maintenance": (20, 33),
    "corpus_mix_split_shards": (21, 32),
    "events_props_pivot": (11, 18),
    "asof_join_purchase_click": (10, 15),
    "lexical_search_bm25": (9, 15),
    "rollup_cube_grouping": (8, 15),
    "set_ops_semi_anti": (8, 15),
    "orders_by_period_rangejoin": (8, 14),
    "outer_join_family": (6, 14),
    "corpus_quality_filter": (7, 12),
    "customers_above_nation_avg": (7, 12),
    "scd2_dimension_history": (8, 12),
    "doc_text_profile": (6, 11),
    "events_resample_ffill": (5, 9),
    "span_redaction_stats": (4, 8),
    "url_domain_curation": (2, 5),
}


def test_budget_table_covers_the_bench_extended_tier():
    import bench

    assert set(JOB_BUDGETS) == set(bench.EXTENDED), (
        "extended tier changed — re-measure and extend JOB_BUDGETS "
        "(module docstring)"
    )


def test_extended_slots_within_job_budgets(spark):
    reg = all_registries()
    tracker = spark.sparkContext.statusTracker()
    over: list[str] = []
    for name, (_, budget) in JOB_BUDGETS.items():
        grp = f"job_budget_{name}"
        spark.sparkContext.setJobGroup(grp, name)
        try:
            reg.queries[name](spark, SF).write.format("noop").mode(
                "overwrite"
            ).save()
        finally:
            spark.sparkContext.setJobGroup("job_budget_idle", "idle")
        n = len(tracker.getJobIdsForGroup(grp))
        spark.catalog.clearCache()
        if n > budget:
            over.append(f"{name}: {n} jobs > budget {budget}")
    assert not over, "; ".join(over)


#: one resumed ``ingest()`` round — a sink exists, 12 URLs are offered,
#: 6 of them new — as (measured, budget), same ledger rule as above.
#: The former merge-and-rewrite round ran 7 jobs on the same input;
#: the append-only round runs the staging write's stages only.
INGEST_RESUME_JOBS = (3, 5)


def test_resumed_ingest_round_within_job_budget(spark, tmp_path):
    from sports_stats_data_pipeline_spark.sources.fetch import FetchConfig
    from sports_stats_data_pipeline_spark.sources.scrape_pipeline import (
        ingest,
    )

    from . import fixtures_html as fx

    urls = [f"http://example.com/fighter-details/f{i}" for i in range(12)]
    pages = {u: fx.fighter_page(f"Fighter {i}") for i, u in enumerate(urls)}
    cfg = FetchConfig(sleep=lambda s: None)
    sink = str(tmp_path / "fighters")

    def transport(url):
        return 200, pages[url]

    ingest(spark, urls[:6], transport, sink, cfg=cfg, concurrency=2)

    grp = "job_budget_ingest_resume"
    spark.sparkContext.setJobGroup(grp, "resumed ingest round")
    try:
        ingest(spark, urls, transport, sink, cfg=cfg, concurrency=2)
    finally:
        spark.sparkContext.setJobGroup("job_budget_idle", "idle")
    n = len(spark.sparkContext.statusTracker().getJobIdsForGroup(grp))
    assert n <= INGEST_RESUME_JOBS[1], (
        f"resumed ingest round: {n} jobs > budget {INGEST_RESUME_JOBS[1]}"
    )
