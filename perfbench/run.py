"""Benchmark entry point: one workload, one fresh process, one closed-loop
client.

    python3 perfbench/run.py --workload ingest_incremental --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). The line before it is a ``report`` object with the
workload's own metrics, the run context and any failures.

Everything the run writes stays under the checkout: ``.perfbench_work``
(deleted at exit), ``.perfbench_cache`` (DuckDB oracle hashes) and
``.perfbench_out`` (span files of traced runs).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("ingest_incremental", "registry_sf0.01")


def _args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _cpus() -> int:
    """Session size: half the cores. The program runs a Python worker
    next to each task thread, plus the JVM's compiler and GC threads, so
    ``local[nproc]`` oversubscribes the cores and its times measure the
    scheduler and the host's other tenants; on 4 cores ``local[2]`` is
    as fast and much steadier."""
    return max(1, _nproc() // 2)


def _configure_env(work: str) -> None:
    """Pin the session size and keep every temporary file in ``work``."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
    os.environ["PYTHONPATH"] = ROOT
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # the JVM's perf-data file would go to /tmp/hsperfdata_<user>
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def _spark_conf(work: str, event_log: str | None) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.hadoop.hadoop.tmp.dir": tmp,
        "spark.sql.streaming.checkpointLocation": os.path.join(work, "checkpoints"),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _setup(work: str, event_log: str | None):
    """Factory session up to its first Spark job and first Python worker.
    Returns (spark, get_spark seconds, first-action seconds)."""
    t0 = time.perf_counter()
    from sports_stats_data_pipeline_spark.session import get_spark
    from sports_stats_data_pipeline_spark.sources import tables

    # The package zip the session ships to Python workers goes to the
    # work dir, not the system temp dir.
    pkg = os.path.join(ROOT, "sports_stats_data_pipeline_spark")
    tables._ZIP_PATH_CACHE.setdefault(pkg, os.path.join(work, "tmp", "program.zip"))
    spark = get_spark("perfbench", extra_conf=_spark_conf(work, event_log))
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    spark.range(1000).selectExpr("sum(id)").collect()
    n = _cpus()
    spark.sparkContext.parallelize(range(n), n).map(abs).sum()
    return spark, t1 - t0, time.perf_counter() - t1


def _stop(spark) -> None:
    """Stop the session and wait for its JVM (and so its Python workers)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def _cpu_ticks() -> list[int] | None:
    """Aggregate CPU tick counters from /proc/stat (Linux)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None


def _context(run, observed: int, ticks_at_start) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    requested = _cpus()
    ctx = {
        "nproc": _nproc(),
        "requested_task_concurrency": requested,
        "observed_task_concurrency": observed,
        "load_avg_1m": os.getloadavg()[0],
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "passes_timed": len(run.passes),
    }
    ticks = _cpu_ticks()
    if ticks and ticks_at_start:
        delta = [b - a for a, b in zip(ticks_at_start, ticks)]
        # share of CPU time the hypervisor gave to other guests: host
        # interference that inflates every wall time of the run
        ctx["cpu_steal_share"] = delta[7] / sum(delta) if len(delta) > 7 and sum(delta) else 0.0
    if observed < requested:
        ctx["warning"] = (
            f"observed task concurrency {observed} is below the requested "
            f"{requested}: the host gave the session fewer cores than it asked for"
        )
    return ctx


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "sports_stats_data_pipeline_spark", "__init__.py")):
        print("perfbench: the program package is not in this checkout", file=sys.stderr)
        return 2
    data = os.path.join(ROOT, "perfbench", "data", "sf0.01")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _configure_env(work)
    try:
        return _main(args, work, data)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _main(args, work: str, data: str) -> int:
    ticks_at_start = _cpu_ticks()
    event_log = os.path.join(work, "eventlog") if args.trace else None
    spark, get_spark_s, first_action_s = _setup(work, event_log)
    setup_s = time.perf_counter() - T_START

    from perfbench.trace import Tracer, observed_concurrency, parse_event_log
    from perfbench.workloads import IngestWorkload, RegistryWorkload, Run, finish_traced

    observed = observed_concurrency(spark, _cpus())
    run = Run(
        spark=spark, tracer=Tracer(f"{args.workload}-{args.seed}-{os.getpid()}"),
        work=work, cache=os.path.join(ROOT, ".perfbench_cache"), data=data,
        seed=args.seed, seconds=args.seconds, traced=bool(args.trace),
        concurrency=_cpus(),
    )
    window = workload = None
    try:
        workload = (IngestWorkload if args.workload == "ingest_incremental" else RegistryWorkload)(run)
        workload.execute()
        if run.traced:
            window = finish_traced(run)
    except Exception as e:  # the program failed: report it, do not crash
        import traceback

        run.check("run", False, f"{e!r}\n{traceback.format_exc()[-1500:]}")
    t_stop = time.perf_counter()
    _stop(spark)
    run.phases["stop"] = time.perf_counter() - t_stop
    run.phases["setup"] = get_spark_s + first_action_s

    if run.traced and window is not None:
        run.layer.update(parse_event_log(event_log, window))
        run.layer["session.get_spark_s"] = get_spark_s
        run.layer["session.first_action_s"] = first_action_s
        run.tracer.write(os.path.join(ROOT, ".perfbench_out", f"trace-{args.workload}-{args.seed}.json"))

    from perfbench.metrics import END_TO_END, PER_LAYER

    ops = workload.op_names() if workload is not None else []
    e2e = {
        "setup_s": setup_s,
        "pass_s": run.pass_s(ops),
        "query_s.geomean": run.geomean(ops),
    }
    ctx = _context(run, observed, ticks_at_start)
    if run.traced:
        ctx["spark.max_active_tasks"] = run.layer.get("spark.max_active_tasks")
        metrics = {n: {"value": run.layer.get(n, 0), "unit": u} for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        # a traced run times no passes, so it has no pass figures
        "end_to_end": {
            n: {"value": e2e[n], "unit": u} for n, u in END_TO_END if not run.traced or n == "setup_s"
        },
        "workload_metrics": {
            **{n: {"value": v, "unit": u} for n, (v, u) in run.report.items()},
            "ops_failed_ratio": {"value": run.failed / max(run.attempted, 1), "unit": "ratio"},
        },
        "phase_s": run.phases,
        "per_op_samples_s": {n: run.ops[n] for n in ops},
        "context": ctx,
        "failures": run.failures,
    }
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": max(run.attempted, 1),
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
