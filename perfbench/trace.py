"""Spans around the benchmark's calls into each layer, and the per-layer
table built from Spark's event log.

Every call the benchmark makes into a layer's public functions runs inside
``Tracer.span(layer, op)``. Spans are kept in memory (name, start, end,
parent, op id). In a traced run each span also tags its Spark jobs with
``setJobGroup(span_id)``; micro-batch jobs of a streaming query do not
inherit the caller's job group, so they are attributed by the
``sql.streaming.queryId`` job property instead. After the run
``EventLog`` reads Spark's uncompressed, non-rolling event log and sums
task metrics per span.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

# Python worker accumulators Spark 4 attaches to applyInPandas* stages.
PY_START = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"


def event_log_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": Path(log_dir).as_uri(),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Tracer:
    def __init__(self, spark, *, tag_jobs: bool):
        self._sc = spark.sparkContext
        self._tag = tag_jobs
        self._stack: list[dict] = []
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str, op: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"pb-{len(self.spans)}",
            "name": name,
            "op": op,
            "parent": parent["id"] if parent else None,
            "start_ms": time.time() * 1000.0,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if self._tag:
            self._sc.setJobGroup(rec["id"], name)
        try:
            yield rec
        finally:
            rec["end_ms"] = time.time() * 1000.0
            self._stack.pop()
            if self._tag:
                if parent:
                    self._sc.setJobGroup(parent["id"], parent["name"])
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
                    self._sc.setLocalProperty("spark.job.description", None)

    def walls(self, name: str, ops: set[str]) -> list[float]:
        return [
            (s["end_ms"] - s["start_ms"]) / 1000.0
            for s in self.spans
            if s["name"] == name and s["op"] in ops
        ]


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


class EventLog:
    """Jobs, stages and task sums from one application's event log."""

    def __init__(self, log_dir: str):
        files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
        self.jobs: list[dict] = []
        self._job_by_id: dict[int, dict] = {}
        self._stage_owner: dict[int, int] = {}
        # stage id -> summed task metrics, and its tasks' run times (ms)
        self.stages: dict[int, dict] = defaultdict(lambda: defaultdict(float))
        self.stage_task_runs: dict[int, list[float]] = defaultdict(list)
        with open(files[0]) as f:
            for line in f:
                self._event(json.loads(line))
        for j in self.jobs:
            j["stages"] = [s for s in j["stage_ids"] if self._stage_owner.get(s) == j["id"]]

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = {
                "id": ev["Job ID"],
                "start": ev["Submission Time"],
                "end": None,
                "group": props.get("spark.jobGroup.id"),
                "query": props.get("sql.streaming.queryId"),
                "stage_ids": ev.get("Stage IDs") or [],
            }
            self.jobs.append(job)
            self._job_by_id[job["id"]] = job
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in self._job_by_id:
                self._job_by_id[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            # a stage listed by several jobs runs under the first submitter
            sid = ev["Stage Info"]["Stage ID"]
            for j in reversed(self.jobs):
                if sid in j["stage_ids"]:
                    self._stage_owner.setdefault(sid, j["id"])
                    break
        elif kind == "SparkListenerTaskEnd":
            self._task(ev)

    def _task(self, ev: dict) -> None:
        sid = ev["Stage ID"]
        info = ev.get("Task Info") or {}
        m = ev.get("Task Metrics") or {}
        st = self.stages[sid]
        st["tasks"] += 1
        st["failed_tasks"] += 1 if info.get("Failed") else 0
        run_ms = _num(m.get("Executor Run Time"))
        st["run_s"] += run_ms / 1000.0
        st["cpu_s"] += _num(m.get("Executor CPU Time")) / 1e9
        st["gc_s"] += _num(m.get("JVM GC Time")) / 1000.0
        st["spill_bytes"] += _num(m.get("Memory Bytes Spilled")) + _num(m.get("Disk Bytes Spilled"))
        sw = m.get("Shuffle Write Metrics") or {}
        st["shuffle_bytes"] += _num(sw.get("Shuffle Bytes Written"))
        st["input_bytes"] += _num((m.get("Input Metrics") or {}).get("Bytes Read"))
        st["output_bytes"] += _num((m.get("Output Metrics") or {}).get("Bytes Written"))
        for acc in info.get("Accumulables") or []:
            name = acc.get("Name")
            if name in (PY_START, PY_INIT, PY_RUN, PY_SENT):
                st[name] += _num(acc.get("Update"))
        self.stage_task_runs[sid].append(run_ms)

    def span_jobs(self, span: dict, query: str | None = None) -> list[dict]:
        """Jobs tagged with the span's job group; with ``query``, also that
        streaming query's micro-batch jobs submitted while the span ran."""
        return [
            j
            for j in self.jobs
            if j["group"] == span["id"]
            or (
                query is not None
                and j["query"] == query
                and span["start_ms"] <= j["start"] <= span["end_ms"]
            )
        ]

    @staticmethod
    def stages_of(jobs: list[dict]) -> list[int]:
        return [s for j in jobs for s in j["stages"]]

    def total(self, stage_ids, key: str) -> float:
        return sum(self.stages[s][key] for s in stage_ids if s in self.stages)


def covered_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def layer_stages(
    tracer: Tracer, log: EventLog, layer: str, timed_ops: set[str], query: str | None = None
) -> list[int]:
    spans = [s for s in tracer.spans if s["name"] == layer and s["op"] in timed_ops]
    return sorted({st for s in spans for st in log.stages_of(log.span_jobs(s, query))})


def layer_table(
    tracer: Tracer,
    log: EventLog,
    layer: str,
    timed_ops: set[str],
    query: str | None = None,
) -> dict[str, float]:
    """Generic counts of one layer, averaged per timed op: tasks, failed
    tasks, executor run / CPU / GC seconds, and driver self time (span wall
    not covered by any of the span's Spark jobs)."""
    n_ops = max(len(timed_ops), 1)
    spans = [s for s in tracer.spans if s["name"] == layer and s["op"] in timed_ops]
    stages = layer_stages(tracer, log, layer, timed_ops, query)
    driver_ms = 0.0
    for s in spans:
        iv = [(j["start"], j["end"] or s["end_ms"]) for j in log.span_jobs(s, query)]
        driver_ms += (s["end_ms"] - s["start_ms"]) - covered_ms(iv, s["start_ms"], s["end_ms"])
    return {
        f"{layer}.tasks": log.total(stages, "tasks") / n_ops,
        f"{layer}.failed_tasks": log.total(stages, "failed_tasks") / n_ops,
        f"{layer}.executor_run_s": log.total(stages, "run_s") / n_ops,
        f"{layer}.executor_cpu_s": log.total(stages, "cpu_s") / n_ops,
        f"{layer}.gc_s": log.total(stages, "gc_s") / n_ops,
        f"{layer}.driver_s": driver_ms / 1000.0 / n_ops,
    }
