"""Metric names and units the benchmark reports. ``BENCHMARK.json`` lists
the same names; a test keeps the two in step."""

from __future__ import annotations

#: Registry slots with per-slot layer metrics: the slots that run the most
#: Spark jobs while their plan is built, the similarity-search slots, and
#: the executor's heaviest slot.
NAMED_SLOTS = (
    "ann_ivf_label_topk",
    "ann_quantized_ivf",
    "bpe_train_merges",
    "neardup_doc_clusters",
    "incremental_mart_maintenance",
    "ngram_jaccard_pairs",
    "corpus_quality_filter",
    "corpus_mix_split_shards",
    "data_quality_report",
    "asof_join_purchase_click",
    "streaming_tumbling_hourly",
)

#: (name, unit) printed with --trace 0, all lower-is-better.
END_TO_END = (
    ("setup_s", "s"),
    ("pass_s", "s"),
    ("query_s.geomean", "s"),
)

#: (name, unit) printed with --trace 1.
PER_LAYER = (
    ("session.get_spark_s", "s"),
    ("session.first_action_s", "s"),
    ("sources.fetch_s", "s"),
    ("sources.transport_calls", "count"),
    ("sources.fetch_retries", "count"),
    ("sources.fetch_dropped", "count"),
    ("sources.fetch_useful_ratio", "ratio"),
    ("sources.parse_s", "s"),
    ("sources.parse_rows_ratio", "ratio"),
    ("sources.load_table_s", "s"),
    ("sources.ingest_round_s.p50", "s"),
    ("sources.ingest_pages_per_s", "1/s"),
    ("operators.merge.s", "s"),
    ("operators.merge.rows_offered", "count"),
    ("operators.merge.rows_added", "count"),
    ("operators.merge.added_ratio", "ratio"),
    ("operators.sinks.write_s", "s"),
    ("operators.sinks.promote_s", "s"),
    ("operators.sinks.recover_s", "s"),
    ("operators.sinks.bytes_written", "B"),
    ("operators.sinks.write_amplification", "ratio"),
    ("transforms.silver.fights_s", "s"),
    ("transforms.silver.fighters_s", "s"),
    ("plans.build_s", "s"),
    ("plans.build_jobs", "count"),
    ("plans.execute_s", "s"),
    ("plans.execute_jobs", "count"),
    ("plans.execute_stages", "count"),
    ("plans.analytics.query_s.geomean", "s"),
    ("plans.llm_data.query_s.geomean", "s"),
    *(
        pair
        for slot in NAMED_SLOTS
        for pair in (
            (f"plans.build_s.{slot}", "s"),
            (f"plans.build_jobs.{slot}", "count"),
            (f"plans.execute_s.{slot}", "s"),
        )
    ),
    ("streaming.batches", "count"),
    ("streaming.batch_s.p50", "s"),
    ("streaming.input_rows", "count"),
    ("streaming.state_rows", "count"),
    ("streaming.state_commit_s", "s"),
    ("streaming.rows_per_s", "1/s"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.per_job_s", "s"),
    ("spark.max_active_tasks", "count"),
    ("spark.executor_run_s", "s"),
    ("spark.shuffle_write_bytes", "B"),
    ("spark.spill_bytes", "B"),
    *((f"{layer}.self_s", "s") for layer in ("session", "sources", "operators", "transforms", "plans", "streaming", "bench")),
    ("trace.pass_s", "s"),
    ("trace.untraced_pass_s", "s"),
    ("trace.overhead_s", "s"),
    ("trace.parts_sum_s", "s"),
    ("trace.parts_over_untraced", "ratio"),
)
