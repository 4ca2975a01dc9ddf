"""The benchmark's two workloads, each run as one closed-loop client.

``ingest_incremental`` is the paper's dataflow and the only workload that
writes: rounds of ``sources.scrape_pipeline.ingest`` over a seeded crawl
(fetch -> parse -> first-wins merge -> sink), the silver transforms over
the final sinks, and the streaming upsert of a seeded event stream. It
never touches the ``plans`` registry.

``registry_sf0.01`` is read-only: ``plans`` registry slots over the
committed sf0.01 corpus, two executor-bound (no Spark jobs at plan
build) and one plan-build-bound (Spark jobs run while the plan is
built). It never touches the ingest path.

Each workload has untimed warm-up passes, the first of them checked
against independently derived answers, then timed passes until the time
budget is spent. A traced run adds one traced pass whose spans
give the per-layer metrics, and the registry's traced run adds
single-shot probes of the slots too slow to repeat in every run.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field

from . import crawl as crawl_mod
from .metrics import NAMED_SLOTS
from .oracle import OracleCache, frame_hash, rows_hash
from .trace import ProgressListener, per_job_floor

AS_OF = "2026-08-13"

#: registry slots timed in every pass, by group. The "analytics" slots run
#: no Spark job while their plan is built; the "llm_data" slot runs 33
#: (the quantized IVF index).
ANALYTICS = ("q5_local_supplier_volume", "events_fixed_windows")
LLM_DATA = ("ann_quantized_ivf",)

#: untimed registry passes between the gate pass and the timed ones
WARM_PASSES = 2

#: slots measured once, in traced runs only: repeating them in every run
#: would leave too few timed passes in the run's time budget
#: (ann_ivf_label_topk ~13 s and streaming_tumbling_hourly ~16 s of plan
#: build, incremental_mart_maintenance ~3.6 s and 18 plan-build jobs).
PROBES = (
    "incremental_mart_maintenance",
    "asof_join_purchase_click",
    "ngram_jaccard_pairs",
    "ann_ivf_label_topk",
    "bpe_train_merges",
    "neardup_doc_clusters",
    "corpus_quality_filter",
    "corpus_mix_split_shards",
    "data_quality_report",
    "streaming_tumbling_hourly",
)


def _no_sleep(_seconds: float) -> None:
    """Fetch politeness delays are deployment policy, not program cost."""


@dataclass
class Run:
    """State of one benchmark run: the session, the tracer, the timed
    samples and the correctness tally."""

    spark: object
    tracer: object
    work: str
    cache: str
    data: str
    seed: int
    seconds: float
    traced: bool
    concurrency: int
    ops: dict = field(default_factory=lambda: defaultdict(list))
    passes: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    layer: dict = field(default_factory=dict)
    report: dict = field(default_factory=dict)
    phases: dict = field(default_factory=dict)

    def phase(self, name: str, fn, *args):
        """Run one phase of the workload, recording its wall seconds."""
        t0 = time.perf_counter()
        try:
            return fn(*args)
        finally:
            self.phases[name] = time.perf_counter() - t0

    def tally(self, name: str, attempted: int, failed: int, detail: str = "") -> None:
        self.attempted += attempted
        self.failed += failed
        if failed:
            self.failures.append(f"{name}: {detail}"[:500])

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.tally(name, 1, 0 if ok else 1, detail)

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    def timed_passes(self, one_pass) -> None:
        """Closed loop: passes back to back while the next one, taken to
        last as long as the median pass so far, still ends within
        ``seconds``; at least two."""
        t_start = time.perf_counter()
        i = 0
        while i < 2 or (
            time.perf_counter() - t_start + statistics.median(self.passes) <= self.seconds
        ):
            t0 = time.perf_counter()
            one_pass(i)
            self.passes.append(time.perf_counter() - t0)
            i += 1

    def medians(self, names) -> list[float]:
        return [statistics.median(self.ops[n]) for n in names if self.ops[n]]

    def pass_s(self, names) -> float:
        """One pass as the sum of each operation's median latency: with
        a few passes a run, steadier than the median pass."""
        return sum(self.medians(names))

    def geomean(self, names) -> float:
        """Geometric mean of each operation's median latency."""
        return geomean(self.medians(names))


def geomean(values) -> float:
    return math.exp(sum(map(math.log, values)) / len(values)) if values else 0.0


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
        if not f.startswith(".")
    )


def _job_count(spark, group: str) -> tuple[int, int]:
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    infos = [tracker.getJobInfo(j) for j in jobs]
    return len(jobs), sum(len(i.stageIds) for i in infos if i is not None)


# --------------------------------------------------------------------------
# ingest_incremental
# --------------------------------------------------------------------------
class IngestWorkload:
    def __init__(self, run: Run):
        from sports_stats_data_pipeline_spark.sources.fetch import FetchConfig

        self.run = run
        self.crawl = crawl_mod.make_crawl(run.seed)
        run.check(
            "generator.deterministic",
            crawl_mod.make_crawl(run.seed).schedule_bytes() == self.crawl.schedule_bytes(),
            "same seed gave a different URL set or failure schedule",
        )
        self.events_dir = run.fresh_dir("events")
        self.distinct_events = crawl_mod.write_events(
            run.seed, os.path.join(self.events_dir, "events.parquet")
        )
        self.stream_rows = crawl_mod.STREAM_EVENTS + crawl_mod.STREAM_REDELIVERED
        self.cfg = FetchConfig(
            delay_s=0.0, jitter_s=(0.0, 0.0), rate_limit_s=(0.0, 0.0), sleep=_no_sleep
        )
        self.transport = crawl_mod.CrawlTransport(run.seed)
        self.round_pages = [
            sum(self.crawl.landed(k, r) - self.crawl.landed(k, r - 1) for k in ("fight", "fighter"))
            for r in range(1, self.crawl.rounds + 1)
        ]

    def op_names(self):
        return [f"round{r}" for r in range(1, self.crawl.rounds + 1)] + [
            "silver_fights", "silver_fighters", "stream_upsert",
        ]

    def _sinks(self, ep: str) -> dict[str, str]:
        return {k: os.path.join(ep, k) for k in ("fight", "fighter", "stream")}

    def _ingest(self, urls, sink, kind, traced):
        from sports_stats_data_pipeline_spark.sources.scrape_pipeline import ingest

        if traced:
            self._traced_ingest(urls, sink, kind)
        else:
            ingest(self.run.spark, urls, self.transport, sink, kind=kind,
                   cfg=self.cfg, concurrency=self.run.concurrency)

    def episode(self, name: str, timed: bool, traced: bool = False, rounds=None) -> dict[str, str]:
        """One pass: every round, then silver, then the streaming upsert.
        ``rounds`` replaces the crawl's per-round URL lists."""
        from sports_stats_data_pipeline_spark.streaming.pipeline import run_streaming_upsert
        from sports_stats_data_pipeline_spark.transforms.silver import (
            fighters_silver,
            fights_silver,
        )

        run, spark, tr, c = self.run, self.run.spark, self.run.tracer, self.crawl
        rounds = rounds or [
            {kind: c.offered(kind, r) for kind in ("fight", "fighter")}
            for r in range(1, c.rounds + 1)
        ]
        sinks = self._sinks(run.fresh_dir(name))
        samples = {}
        for r, offered in enumerate(rounds, 1):
            t0 = time.perf_counter()
            for kind, urls in offered.items():
                with tr.span("sources.ingest", kind=kind, round=r):
                    self._ingest(urls, sinks[kind], kind, traced)
            samples[f"round{r}"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        with tr.span("transforms.silver.fights"):
            _noop(fights_silver(spark.read.parquet(sinks["fight"])))
        samples["silver_fights"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        with tr.span("transforms.silver.fighters"):
            _noop(fighters_silver(spark.read.parquet(sinks["fighter"]), AS_OF))
        samples["silver_fighters"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        with tr.span("streaming.upsert"):
            run_streaming_upsert(spark, self.events_dir, sinks["stream"])
        samples["stream_upsert"] = time.perf_counter() - t0
        if timed:
            for k, v in samples.items():
                run.ops[k].append(v)
        return sinks

    def warmup(self) -> None:
        """Untimed full pass: starts the Python workers and compiles every
        stage a pass runs, the merge into an existing sink included. The
        cold start dominates its cost, so it costs little more than a
        small pass, and the passes after it are level."""
        self.episode("warmup", timed=False)

    def _traced_ingest(self, urls, sink, kind) -> None:
        """``ingest()`` rebuilt from the public pieces it composes, each
        lazy piece materialized on its own over cached inputs."""
        from sports_stats_data_pipeline_spark.operators.merge import insert_if_absent
        from sports_stats_data_pipeline_spark.operators.sinks import (
            promote_staging,
            recover_sink,
        )
        from sports_stats_data_pipeline_spark.schemas import (
            FIGHTERS_RAW,
            FIGHTS_RAW,
            fighters_raw_ddl,
            fights_raw_ddl,
        )
        from sports_stats_data_pipeline_spark.sources.fetch import fetch_urls
        from sports_stats_data_pipeline_spark.sources.html_source import parse_pages

        run, spark, tr, lay = self.run, self.run.spark, self.run.tracer, self.run.layer
        if kind == "fight":
            ddl, struct, key = fights_raw_ddl(), FIGHTS_RAW, "fight_url"
        else:
            ddl, struct, key = fighters_raw_ddl(), FIGHTERS_RAW, "URL"
        field_names = [f.name for f in struct if f.name != key]
        sc = spark.sparkContext
        counters = (sc.accumulator(0), sc.accumulator(0), sc.accumulator(0))
        transport = crawl_mod.CrawlTransport(run.seed, counters)

        with tr.span("operators.sinks.recover"):
            recover_sink(sink)
        if os.path.exists(sink):
            existing = spark.read.parquet(sink)
        else:
            existing = spark.createDataFrame([], schema=ddl)
        with tr.span("bench.count_existing"):
            n_existing = existing.count()
        with tr.span("sources.discover"):
            # J1: the anti-join against the sink that ingest() runs before
            # the fetch
            todo = (
                spark.createDataFrame([(u,) for u in urls], schema="url string")
                .dropDuplicates(["url"])
                .join(existing.select("url"), on="url", how="left_anti")
                .cache()
            )
            n_todo = todo.count()
        with tr.span("sources.fetch"):
            pages = fetch_urls(todo, transport, self.cfg, concurrency=run.concurrency).cache()
            n_pages = pages.count()
        with tr.span("sources.parse"):
            parsed = parse_pages(pages, kind=kind, schema=ddl, field_names=field_names).cache()
            n_parsed = parsed.count()
        with tr.span("operators.merge"):
            merged = insert_if_absent(existing, parsed, keys=["url"]).cache()
            n_merged = merged.count()
        with tr.span("operators.sinks.write"):
            merged.write.mode("overwrite").parquet(sink + ".staging")
        written = _dir_bytes(sink + ".staging")
        with tr.span("operators.sinks.promote"):
            promote_staging(sink)
        with tr.span("bench.new_rows_size"):
            probe = os.path.join(run.work, "new_rows")
            parsed.write.mode("overwrite").parquet(probe)
            new_bytes = _dir_bytes(probe)
        for df in (todo, pages, parsed, merged):
            df.unpersist()

        def add(name, value):
            lay[name] = lay.get(name, 0) + value

        add("sources.transport_calls", counters[0].value)
        add("sources.fetch_retries", counters[1].value)
        add("bench.pages_returned", counters[2].value)
        add("sources.fetch_dropped", n_todo - n_pages)
        add("bench.pages_in", n_pages)
        add("operators.merge.rows_offered", n_parsed)
        add("operators.merge.rows_added", n_merged - n_existing)
        add("operators.sinks.bytes_written", written)
        add("bench.new_row_bytes", new_bytes)

    # -- correctness -------------------------------------------------------
    def check_sinks(self, sinks: dict[str, str], tag: str) -> None:
        from sports_stats_data_pipeline_spark.transforms.silver import (
            fighters_silver,
            fights_silver,
        )

        run, spark, c = self.run, self.run.spark, self.crawl
        for kind, silver, cols, expected in (
            ("fight", fights_silver, crawl_mod.FIGHT_COLUMNS, crawl_mod.expected_fight_rows(c)),
            ("fighter", lambda d: fighters_silver(d, AS_OF), crawl_mod.FIGHTER_COLUMNS, crawl_mod.expected_fighter_rows(c)),
        ):
            pdf = silver(spark.read.parquet(sinks[kind])).select(*cols).toPandas()
            got, want = frame_hash(pdf), rows_hash(list(cols), expected)
            run.check(f"{tag}.{kind}_rows", got == want, f"sink {got} != expected {want}")
            landed = set(spark.read.parquet(sinks[kind]).select("url").toPandas()["url"])
            offered = c.offered(kind, c.rounds)
            bad = c.drop_violations(kind, landed)
            # one operation per offered URL: a URL dropped outside the
            # seeded permanent-failure set, or one of that set landing,
            # fails it
            run.tally(f"{tag}.{kind}_drops", len(offered), len(bad),
                      f"{len(bad)} URLs outside the seeded drop set, e.g. {sorted(bad)[:3]}")

    def gate(self, sinks: dict[str, str]) -> None:
        """Untimed checks on the sinks of a pass."""
        from sports_stats_data_pipeline_spark.streaming.pipeline import run_streaming_upsert

        run, spark, c = self.run, self.run.spark, self.crawl
        self.check_sinks(sinks, "gate")
        # resume: the fighter sink goes through the same ingest() code
        before = spark.read.parquet(sinks["fight"]).count()
        self._ingest(c.offered("fight", c.rounds), sinks["fight"], "fight", traced=False)
        after = spark.read.parquet(sinks["fight"]).count()
        run.check("gate.fight_resume_adds_nothing", after == before, f"{before} -> {after} rows")
        stream = spark.read.parquet(sinks["stream"])
        n, ids = stream.count(), stream.select("event_id").distinct().count()
        run.check("gate.stream_distinct_events", n == ids == self.distinct_events,
                  f"{n} rows, {ids} ids, {self.distinct_events} expected")
        shutil.rmtree(sinks["stream"] + ".checkpoint")
        run_streaming_upsert(spark, self.events_dir, sinks["stream"])
        replayed = spark.read.parquet(sinks["stream"]).count()
        run.check("gate.stream_replay_adds_nothing", replayed == n, f"{n} -> {replayed} rows")

    # -- phases ------------------------------------------------------------
    def execute(self) -> None:
        run = self.run
        run.phase("warmup", self.warmup)
        if run.traced:
            run.phase("traced", self.traced_pass)
            run.phase("gate", self.gate, self._sinks(os.path.join(run.work, "untraced")))
            return
        run.phase("timed", run.timed_passes, lambda i: self.episode(f"pass{i}", timed=True))
        run.phase("gate", self.gate, self._sinks(os.path.join(run.work, "pass0")))
        rounds = [v for k in self.op_names() if k.startswith("round") for v in run.ops[k]]
        n_passes = len(run.passes)
        silver = [a + b for a, b in zip(run.ops["silver_fights"], run.ops["silver_fighters"])]
        run.report.update({
            "ingest_round_s.p50": (statistics.median(rounds), "s"),
            "ingest_pages_per_s": (sum(self.round_pages) * n_passes / sum(rounds), "1/s"),
            "silver_s": (statistics.median(silver), "s"),
            "stream_rows_per_s": (self.stream_rows / statistics.median(run.ops["stream_upsert"]), "1/s"),
        })

    def traced_pass(self) -> None:
        run, tr, lay = self.run, self.run.tracer, self.run.layer
        listener = ProgressListener()
        run.spark.streams.addListener(listener)
        tr.enabled = True
        t0 = time.perf_counter()
        with tr.span("bench.pass"):
            sinks = self.episode("traced", timed=False, traced=True)
        lay["trace.pass_s"] = time.perf_counter() - t0
        tr.enabled = False
        listener.drain()
        run.spark.streams.removeListener(listener)
        # the untraced pass the overhead is measured against runs after the
        # traced one, so that warm-up does not count as tracing overhead
        t0 = time.perf_counter()
        self.episode("untraced", timed=False)
        lay["trace.untraced_pass_s"] = time.perf_counter() - t0
        self.check_sinks(sinks, "traced")
        rounds = [s["end"] - s["start"] for s in _rounds(tr)]
        lay.update(listener.summary())
        lay["streaming.rows_per_s"] = self.stream_rows / tr.total("streaming.upsert")
        lay["sources.fetch_s"] = tr.total("sources.fetch")
        lay["sources.parse_s"] = tr.total("sources.parse")
        lay["operators.merge.s"] = tr.total("operators.merge")
        lay["operators.sinks.write_s"] = tr.total("operators.sinks.write")
        lay["operators.sinks.promote_s"] = tr.total("operators.sinks.promote")
        lay["operators.sinks.recover_s"] = tr.total("operators.sinks.recover")
        lay["transforms.silver.fights_s"] = tr.total("transforms.silver.fights")
        lay["transforms.silver.fighters_s"] = tr.total("transforms.silver.fighters")
        lay["sources.ingest_round_s.p50"] = statistics.median(rounds)
        lay["sources.ingest_pages_per_s"] = sum(self.round_pages) / sum(rounds)
        calls = lay.get("sources.transport_calls", 0)
        lay["sources.fetch_useful_ratio"] = lay.get("bench.pages_returned", 0) / calls if calls else 0.0
        pages = lay.get("bench.pages_in", 0)
        lay["sources.parse_rows_ratio"] = lay["operators.merge.rows_offered"] / pages if pages else 0.0
        offered = lay["operators.merge.rows_offered"]
        lay["operators.merge.added_ratio"] = lay["operators.merge.rows_added"] / offered if offered else 0.0
        new = lay.get("bench.new_row_bytes", 0)
        lay["operators.sinks.write_amplification"] = lay["operators.sinks.bytes_written"] / new if new else 0.0


def _rounds(tr):
    """Per-round spans: the two ``sources.ingest`` spans of each round."""
    by_round = defaultdict(list)
    for s in tr.spans:
        if s["name"] == "sources.ingest" and s["attrs"].get("round"):
            by_round[s["attrs"]["round"]].append(s)
    return [
        {"start": min(x["start"] for x in v), "end": max(x["end"] for x in v)}
        for _, v in sorted(by_round.items())
    ]


# --------------------------------------------------------------------------
# registry_sf0.01
# --------------------------------------------------------------------------
class RegistryWorkload:
    def __init__(self, run: Run):
        from sports_stats_data_pipeline_spark.plans import all_registries

        self.run = run
        self.reg = all_registries()
        self.slots = ANALYTICS + LLM_DATA
        self.oracle = OracleCache(run.data, os.path.join(run.cache, "oracle"), run.fresh_dir("duckdb"))

    def op_names(self):
        return list(self.slots)

    def build(self, slot: str):
        return self.reg.queries[slot](self.run.spark, self.run.data)

    def check_slot(self, slot: str, df) -> None:
        """Compare the slot's value hash with the DuckDB oracle's."""
        got = frame_hash(df.toPandas())
        want = self.oracle.expected(slot, self.reg.oracles[slot])
        self.run.check(f"oracle.{slot}", got == want, f"spark {got} != duckdb {want}")

    def gate(self) -> None:
        """Untimed warm-up pass: every slot built and checked once. Also
        fills the oracle cache for the traced-only probes, so a traced run
        does not pay for DuckDB."""
        for slot in PROBES:
            self.oracle.expected(slot, self.reg.oracles[slot])
        for slot in self.slots:
            t0 = time.perf_counter()
            try:
                self.check_slot(slot, self.build(slot))
            except Exception as e:  # a slot that raises is a failed operation
                self.run.check(f"oracle.{slot}", False, repr(e))
            self.run.spark.catalog.clearCache()
            self.run.phases[f"gate.{slot}"] = time.perf_counter() - t0

    def timed_pass(self, _i: int, record: bool = True) -> None:
        run = self.run
        for slot in self.slots:
            t0 = time.perf_counter()
            _noop(self.build(slot))
            if record:
                run.ops[slot].append(time.perf_counter() - t0)
                run.attempted += 1
            run.spark.catalog.clearCache()

    def warm(self) -> None:
        """Untimed passes after the gate pass: after it alone the session
        is far from steady, and the next two passes run up to 1.5x slower
        than later ones."""
        for i in range(WARM_PASSES):
            self.timed_pass(i, record=False)

    def execute(self) -> None:
        run = self.run
        run.phase("gate", self.gate)
        run.phase("warm_passes", self.warm)
        if run.traced:
            run.phase("traced", self.traced_pass)
            run.tracer.enabled = True
            run.phase("probes", self.probes)
            run.tracer.enabled = False
        else:
            run.phase("timed", run.timed_passes, self.timed_pass)
            run.report.update({
                "plans.analytics.query_s.geomean": (run.geomean(ANALYTICS), "s"),
                "plans.llm_data.query_s.geomean": (run.geomean(LLM_DATA), "s"),
            })
        self.oracle.close()

    def _traced_slot(self, slot: str, tag: str):
        """Build and execute one slot under spans, counting the Spark jobs
        of each phase by job group."""
        spark, tr, lay = self.run.spark, self.run.tracer, self.run.layer
        sc = spark.sparkContext
        sc.setJobGroup(f"{tag}.build.{slot}", slot)
        with tr.span("plans.build", slot=slot):
            t0 = time.perf_counter()
            df = self.build(slot)
            build_s = time.perf_counter() - t0
        sc.setJobGroup(f"{tag}.execute.{slot}", slot)
        with tr.span("plans.execute", slot=slot):
            t0 = time.perf_counter()
            _noop(df)
            execute_s = time.perf_counter() - t0
        sc.setJobGroup("bench", "benchmark")
        build_jobs, _ = _job_count(spark, f"{tag}.build.{slot}")
        execute_jobs, execute_stages = _job_count(spark, f"{tag}.execute.{slot}")
        if slot in NAMED_SLOTS:
            lay[f"plans.build_s.{slot}"] = build_s
            lay[f"plans.build_jobs.{slot}"] = build_jobs
            lay[f"plans.execute_s.{slot}"] = execute_s
        return df, {
            "build_s": build_s, "build_jobs": build_jobs, "execute_s": execute_s,
            "execute_jobs": execute_jobs, "execute_stages": execute_stages,
        }

    def traced_pass(self) -> None:
        run, tr, lay = self.run, self.run.tracer, self.run.layer
        totals, walls = defaultdict(float), {}
        tr.enabled = True
        t0 = time.perf_counter()
        with tr.span("bench.pass"):
            for slot in self.slots:
                _, m = self._traced_slot(slot, "pass")
                for k, v in m.items():
                    totals[k] += v
                walls[slot] = m["build_s"] + m["execute_s"]
                run.spark.catalog.clearCache()
        lay["trace.pass_s"] = time.perf_counter() - t0
        tr.enabled = False
        # the untraced pass the overhead is measured against runs after the
        # traced one, so that warm-up does not count as tracing overhead
        t0 = time.perf_counter()
        self.timed_pass(0, record=False)
        lay["trace.untraced_pass_s"] = time.perf_counter() - t0
        for k, v in totals.items():
            lay[f"plans.{k}"] = v
        lay["plans.analytics.query_s.geomean"] = geomean([walls[s] for s in ANALYTICS])
        lay["plans.llm_data.query_s.geomean"] = geomean([walls[s] for s in LLM_DATA])

    def probes(self) -> None:
        """Traced-only: each table scanned through
        ``sources.tables.load_table``, then one checked execution of each
        probe slot."""
        from sports_stats_data_pipeline_spark.sources.tables import TABLE_NAMES, load_table

        run, spark, tr = self.run, self.run.spark, self.run.tracer
        t0 = time.perf_counter()
        for table in TABLE_NAMES:
            with tr.span("sources.load_table", table=table):
                _noop(load_table(spark, run.data, table))
        run.layer["sources.load_table_s"] = time.perf_counter() - t0
        listener = ProgressListener()
        spark.streams.addListener(listener)
        for slot in PROBES:
            try:
                df, _ = self._traced_slot(slot, "probe")
                self.check_slot(slot, df)
            except Exception as e:  # a slot that raises is a failed operation
                run.check(f"oracle.{slot}", False, repr(e))
            spark.catalog.clearCache()
        listener.drain()
        spark.streams.removeListener(listener)
        run.layer.update(listener.summary())
        # the tumbling slot runs its streaming queries inside its build
        build = run.layer.get("plans.build_s.streaming_tumbling_hourly")
        run.layer["streaming.rows_per_s"] = run.layer["streaming.input_rows"] / build if build else 0.0


def finish_traced(run: Run) -> tuple[float, float]:
    """Layer self times and tracing overhead of the traced pass; returns
    the pass's (start, end) epoch window for the event-log totals."""
    tr, lay = run.tracer, run.layer
    root = next(s for s in tr.spans if s["name"] == "bench.pass")
    selfs = tr.self_times(root["id"])
    for layer, v in selfs.items():
        lay[f"{layer}.self_s"] = v
    program = sum(v for k, v in selfs.items() if k != "bench")
    lay["trace.parts_sum_s"] = program
    lay["trace.parts_over_untraced"] = program / lay["trace.untraced_pass_s"]
    lay["trace.overhead_s"] = lay["trace.pass_s"] - lay["trace.untraced_pass_s"]
    lay["spark.per_job_s"] = per_job_floor(run.spark)
    return root["start"], root["end"]
