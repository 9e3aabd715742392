"""Spans recorded around calls into the engine, and the Spark event log
aggregated per span.

A span is (id, name, parent, start, end, attrs). While a span is open its
id is set as the Spark local property ``perfbench.span`` on the calling
thread, so every job the call submits carries it in the event log's
JobStart properties. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

SPAN_PROPERTY = "perfbench.span"

TASK_FIELDS = (
    "tasks", "executor_run_s", "executor_cpu_s", "gc_s", "scheduler_delay_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "result_bytes",
    "input_records", "bytes_written",
)


class Tracer:
    """Thread-aware span recorder; a no-op when ``enabled`` is False."""

    def __init__(self):
        self.sc = None  # the SparkContext whose local property is set
        self.enabled = False
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, parent: dict | None = None, **attrs):
        """Open a span; ``parent`` links the first span of a worker thread
        to the span that handed it the work."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        if stack:
            parent = stack[-1]
        rec = {"id": next(self._ids), "name": name,
               "parent": parent["id"] if parent else None,
               "start": time.perf_counter(), "end": None, "attrs": attrs}
        with self._lock:
            self.spans.append(rec)
        stack.append(rec)
        self.sc.setLocalProperty(SPAN_PROPERTY, str(rec["id"]))
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(
                SPAN_PROPERTY, str(stack[-1]["id"]) if stack else None)

    def current(self) -> dict | None:
        stack = self._stack()
        return stack[-1] if stack else None


def _task_row(ev: dict) -> dict:
    info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
    run_ms = m.get("Executor Run Time", 0)
    dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    overhead = (m.get("Executor Deserialize Time", 0)
                + m.get("Result Serialization Time", 0))
    sr = m.get("Shuffle Read Metrics", {})
    return {
        "tasks": 1,
        "executor_run_s": run_ms / 1e3,
        "executor_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "scheduler_delay_s": max(dur - run_ms - overhead, 0) / 1e3,
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write_bytes": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
        "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "result_bytes": m.get("Result Size", 0),
        "input_records": m.get("Input Metrics", {}).get("Records Read", 0),
        "bytes_written": m.get("Output Metrics", {}).get("Bytes Written", 0),
    }


def read_event_log(log_dir: str) -> dict[int | None, dict]:
    """Aggregate an uncompressed event log by span id: job, stage and task
    counts plus summed task metrics. Jobs submitted outside any span are
    keyed None."""
    files = sorted(p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
                   if os.path.isfile(p))
    job_span: dict[int, int | None] = {}
    stage_job: dict[int, int] = {}
    per_stage: dict[int, dict] = {}
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    sid = props.get(SPAN_PROPERTY)
                    job_span[ev["Job ID"]] = int(sid) if sid else None
                    for st in ev.get("Stage IDs", []):
                        stage_job.setdefault(st, ev["Job ID"])
                elif kind == "SparkListenerTaskEnd":
                    row = _task_row(ev)
                    acc = per_stage.setdefault(ev["Stage ID"], dict.fromkeys(TASK_FIELDS, 0))
                    for k, v in row.items():
                        acc[k] += v
    out: dict[int | None, dict] = {}

    def bucket(span):
        return out.setdefault(span, {"jobs": 0, "stages": 0, **dict.fromkeys(TASK_FIELDS, 0)})

    for job, span in job_span.items():
        bucket(span)["jobs"] += 1
    for stage, acc in per_stage.items():
        b = bucket(job_span.get(stage_job.get(stage)))
        b["stages"] += 1
        for k, v in acc.items():
            b[k] += v
    return out


def children_index(spans: list[dict]) -> dict[int, list[dict]]:
    idx: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            idx.setdefault(s["parent"], []).append(s)
    return idx


def subtree_ids(span: dict, kids: dict[int, list[dict]]) -> list[int]:
    out, todo = [], [span]
    while todo:
        s = todo.pop()
        out.append(s["id"])
        todo.extend(kids.get(s["id"], ()))
    return out


def self_time(span: dict, kids: dict[int, list[dict]]) -> float:
    """Span duration minus the part of its interval covered by children."""
    ivs = sorted((max(c["start"], span["start"]), min(c["end"], span["end"]))
                 for c in kids.get(span["id"], ()))
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span["end"] - span["start"]) - covered


class SpanStats:
    """Queries over the recorded spans joined with the event log."""

    def __init__(self, spans: list[dict], spark_by_span: dict):
        self.spans = spans
        self.kids = children_index(spans)
        self.spark = spark_by_span

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def spark_total(self, spans: list[dict], field: str) -> float:
        """A Spark total over the given spans and everything under them."""
        ids: set[int] = set()
        for s in spans:
            ids.update(subtree_ids(s, self.kids))
        return sum(self.spark.get(i, {}).get(field, 0) for i in ids)

    def jobs(self, span: dict) -> int:
        return int(self.spark_total([span], "jobs"))

    def self_s(self, span: dict) -> float:
        return self_time(span, self.kids)


def duration(span: dict) -> float:
    return span["end"] - span["start"]


def p50(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def write_spans(path: str, spans: list[dict], spark_by_span: dict) -> None:
    with open(path, "w") as fh:
        for s in spans:
            fh.write(json.dumps({**s, "spark": spark_by_span.get(s["id"], {})},
                                default=str) + "\n")
