"""Tracing for the benchmark's traced runs: in-memory spans around calls
into the program's layers, Spark's event log for the scheduler and
executor layer, and a streaming-query listener for micro-batch progress.

Spans are recorded by the benchmark around public calls, never inside the
program. A span's layer is the first dotted component of its name, and
its self time is its duration minus the time its child spans cover.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

LAYERS = ("session", "sources", "operators", "transforms", "plans", "streaming", "bench")


class Tracer:
    """Spans kept in memory and written once at the end of the run. With
    ``enabled`` false every span is a no-op."""

    def __init__(self, run_id: str, enabled: bool = False):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        sp = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run": self.run_id,
            "start": time.time(),
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield attrs
        finally:
            sp["end"] = time.time()
            self._stack.pop()

    def self_times(self, root: int) -> dict[str, float]:
        """Seconds of self time per layer over span ``root`` and its
        descendants."""
        inside = [False] * len(self.spans)
        child = [0.0] * len(self.spans)
        for sp in self.spans:  # a parent always precedes its children
            p = sp["parent"]
            inside[sp["id"]] = sp["id"] == root or (p is not None and inside[p])
            if p is not None:
                child[p] += sp["end"] - sp["start"]
        out = {layer: 0.0 for layer in LAYERS}
        for sp in self.spans:
            if inside[sp["id"]]:
                layer = sp["name"].split(".", 1)[0]
                out[layer] += (sp["end"] - sp["start"]) - child[sp["id"]]
        return out

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def parse_event_log(log_dir: str, window: tuple[float, float]) -> dict:
    """Totals from the Spark event log of the one application that wrote
    to ``log_dir``, over the epoch-second ``window``: jobs submitted,
    stages and tasks finished, executor run time, shuffle bytes written,
    bytes spilled, and the most tasks that ran at once."""
    files = [f for f in os.listdir(log_dir) if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    lo, hi = window[0] * 1000, window[1] * 1000
    jobs = stages = tasks = 0
    run_ms = shuffle = spill = 0
    edges: list[tuple[int, int]] = []
    with open(os.path.join(log_dir, files[0])) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jobs += lo <= ev["Submission Time"] <= hi
            elif kind == "SparkListenerStageCompleted":
                stages += lo <= ev["Stage Info"].get("Completion Time", 0) <= hi
            elif kind == "SparkListenerTaskEnd":
                info = ev["Task Info"]
                if not lo <= info["Finish Time"] <= hi:
                    continue
                tasks += 1
                m = ev.get("Task Metrics") or {}
                # time the task held its executor slot; the driver stamps
                # "Finish Time" only when it handles the status update
                busy = (m.get("Executor Deserialize Time", 0) + m.get("Executor Run Time", 0)
                        + m.get("Result Serialization Time", 0))
                edges.append((info["Launch Time"], 1))
                edges.append((info["Launch Time"] + busy, -1))
                run_ms += m.get("Executor Run Time", 0)
                shuffle += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return {
        "spark.jobs": jobs,
        "spark.stages": stages,
        "spark.tasks": tasks,
        "spark.executor_run_s": run_ms / 1000,
        "spark.shuffle_write_bytes": shuffle,
        "spark.spill_bytes": spill,
        "spark.max_active_tasks": _peak(edges),
    }


def _peak(edges) -> int:
    """Most intervals open at once, from (time, +1/-1) edges."""
    active = peak = 0
    for _, step in sorted(edges):
        active += step
        peak = max(peak, active)
    return peak


def observed_concurrency(spark, slots: int) -> int:
    """Most tasks seen running at once in one job of ``slots`` tasks that
    each hold a core briefly: the task concurrency the session really
    gets."""

    def hold(_):
        t0 = time.time()
        time.sleep(0.3)
        yield (t0, time.time())

    spans = spark.sparkContext.parallelize(range(slots), slots).mapPartitions(hold).collect()
    return _peak([(a, 1) for a, _ in spans] + [(b, -1) for _, b in spans])


def per_job_floor(spark, n: int = 7) -> float:
    """Median wall of a one-row noop action: the per-job scheduling floor."""
    walls = []
    for _ in range(n):
        t0 = time.perf_counter()
        spark.range(1).write.format("noop").mode("overwrite").save()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


class ProgressListener(StreamingQueryListener):
    """Keeps every streaming progress report of the queries it sees."""

    def __init__(self):
        self.progress: list = []
        self.started = 0
        self.terminated = 0

    def onQueryStarted(self, event):
        self.started += 1

    def onQueryProgress(self, event):
        self.progress.append(event.progress)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.terminated += 1

    def drain(self, timeout_s: float = 10.0) -> None:
        """Wait until every started query's termination was delivered
        (listener events arrive asynchronously)."""
        deadline = time.time() + timeout_s
        while self.terminated < self.started and time.time() < deadline:
            time.sleep(0.05)

    def summary(self) -> dict:
        batches = self.progress
        durations = [p.batchDuration / 1000 for p in batches]
        last = {p.runId: p for p in batches}
        return {
            "streaming.batches": len(batches),
            "streaming.batch_s.p50": statistics.median(durations) if durations else 0.0,
            "streaming.input_rows": sum(p.numInputRows for p in batches),
            # rows held in state when each query finished
            "streaming.state_rows": sum(
                op.numRowsTotal for p in last.values() for op in p.stateOperators
            ),
            "streaming.state_commit_s": sum(
                op.commitTimeMs for p in batches for op in p.stateOperators
            ) / 1000,
        }
