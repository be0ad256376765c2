"""Spans around the benchmark's calls into each layer, and the per-layer
metrics they get from Spark's event log.

A span is ``(name, layer, start, end, parent, run)`` in epoch seconds,
recorded by the benchmark's own code around each call into a layer's
public function. Spans stay in memory; the run writes them once, at the
end. Jobs and tasks from the event log are attributed to the span whose
time window holds the job's submission time or the task's launch time.
Job groups would not do: the runner's ``ThreadPoolExecutor`` threads do
not carry the caller's job group, so only time windows see every job.
Spans that carry a layer never overlap, because the benchmark makes one
call at a time.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
import uuid
from collections import defaultdict

#: layers that get the full set of event-log metrics, by module name
QUERY_LAYERS = [
    "queries.relational",
    "queries.shapes",
    "queries.olap",
    "queries.text",
    "queries.dedup",
    "queries.similarity",
    "queries.curation",
    "queries.timeseries",
]
LAYERS = ["pipeline.derive", "pipeline.etl", "pipeline.transforms", *QUERY_LAYERS]

#: metric -> (unit, better) for every layer in LAYERS
BASE_METRICS = {
    "wall_s": ("s", "lower"),
    "driver_s": ("s", "lower"),
    "jobs": ("count", "lower"),
    "tasks": ("count", "lower"),
    "executor_cpu_s": ("s", "lower"),
    "gc_s": ("s", "lower"),
    "shuffle_write_bytes": ("bytes", "lower"),
    "failed_tasks": ("count", "lower"),
    "core_util": ("ratio", "higher"),
}
SPILL_LAYERS = ["queries.olap", "queries.dedup", "pipeline.transforms"]
#: counters the benchmark reads around calls (file sizes, load results)
COUNTERS = {
    "pipeline.etl.rows_loaded": ("count", "higher"),
    "pipeline.etl.tables_skipped": ("count", "lower"),
    "pipeline.etl.landing_bytes": ("bytes", "lower"),
    "pipeline.transforms.files_written": ("count", "lower"),
    "pipeline.transforms.warehouse_bytes": ("bytes", "lower"),
}


def metric_specs() -> dict[str, tuple[str, str]]:
    """Every per-layer metric name -> (unit, better), in report order."""
    specs = {"session.start_s": ("s", "lower")}
    for layer in LAYERS:
        for m, spec in BASE_METRICS.items():
            specs[f"{layer}.{m}"] = spec
        if layer in QUERY_LAYERS:
            specs[f"{layer}.persisted_rdds_delta"] = ("count", "lower")
        if layer in SPILL_LAYERS:
            specs[f"{layer}.spill_bytes"] = ("bytes", "lower")
    specs.update(COUNTERS)
    return specs


class Tracer:
    """In-memory span and counter recorder; a no-op when disabled."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str | None = None):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def add(self, name: str, value: float) -> None:
        self.counts[name] += value

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run": self.run, "spans": self.spans, **extra}, f)


def read_event_log(path: str) -> tuple[list[tuple[float, float]], list[dict]]:
    """Jobs as ``(submitted, completed)`` epoch seconds, and one dict of
    metrics per finished task, from an uncompressed, non-rolling log."""
    submitted: dict[int, float] = {}
    completed: dict[int, float] = {}
    tasks = []
    with open(path) as f:
        for line in f:
            # skip the large SQL-plan events without parsing them
            if '"SparkListenerJob' not in line[:40] and '"SparkListenerTaskEnd"' not in line[:40]:
                continue
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                submitted[ev["Job ID"]] = ev["Submission Time"] / 1000
            elif kind == "SparkListenerJobEnd":
                completed[ev["Job ID"]] = ev["Completion Time"] / 1000
            elif kind == "SparkListenerTaskEnd":
                info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                tasks.append(
                    {
                        "launch": info["Launch Time"] / 1000,
                        "failed": bool(info.get("Failed")),
                        "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": tm.get("JVM GC Time", 0) / 1000,
                        "shuffle_write_bytes": (tm.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0
                        ),
                        "spill_bytes": tm.get("Disk Bytes Spilled", 0),
                    }
                )
    jobs = [(s, completed.get(j, s)) for j, s in submitted.items()]
    return jobs, tasks


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def layer_metrics(tracer: Tracer, event_log: str, cores: int, passes: int) -> dict[str, float]:
    """Sum each layer's spans into the metrics of :func:`metric_specs`;
    a layer with no call in this workload reads 0. ``session`` and
    ``pipeline.derive`` run once, in set-up; every other layer is reported
    per timed pass, so a run that fits two passes reads like one that fits
    one."""
    jobs, tasks = read_event_log(event_log)
    acc: dict[str, float] = defaultdict(float)
    for sp in tracer.spans:
        layer = sp["layer"]
        if layer is None:
            continue
        s, e = sp["start"], sp["end"]
        wall = e - s
        if layer == "session":
            acc["session.start_s"] += wall
            continue
        in_span = [(max(js, s), min(je, e)) for js, je in jobs if s <= js <= e]
        acc[f"{layer}.wall_s"] += wall
        acc[f"{layer}.driver_s"] += wall - _union_length(in_span)
        acc[f"{layer}.jobs"] += len(in_span)
        for t in tasks:
            if s <= t["launch"] <= e:
                acc[f"{layer}.tasks"] += 1
                acc[f"{layer}.failed_tasks"] += t["failed"]
                acc[f"{layer}.executor_cpu_s"] += t["cpu_s"]
                acc[f"{layer}.gc_s"] += t["gc_s"]
                acc[f"{layer}.shuffle_write_bytes"] += t["shuffle_write_bytes"]
                acc[f"{layer}.spill_bytes"] += t["spill_bytes"]
    acc.update(tracer.counts)
    for name in acc:
        if not name.startswith(("session.", "pipeline.derive.")):
            acc[name] /= passes
    for layer in LAYERS:
        wall = acc[f"{layer}.wall_s"]
        acc[f"{layer}.core_util"] = (
            acc[f"{layer}.executor_cpu_s"] / (wall * cores) if wall > 0 else 0.0
        )
    return {name: acc[name] for name in metric_specs()}
