"""Traced-run support: spans, memo-call wrappers and event-log stage rows.

Spans are recorded from the benchmark's own code around its calls into
the engine: one ``query`` span per invocation with ``build``, ``plan`` and
``exec`` children, and one ``memo`` span per ``io.materialize_once`` call,
parented to the span open when it was called.  They are kept in memory
and written once, when the run ends.

Each invocation phase runs under its own Spark job group
(``inv<N>.<phase>``, and ``inv<N>.<phase>.memo<M>`` inside a memo call), so
stage metrics read back from the event log join to the invocation and
phase that launched them.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    kind: str
    name: str
    parent: int | None
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of it covered by its
    children (overlapping children are counted once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = (s.end - s.start) - covered
    return out


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


class Tracer:
    """In-memory span store with the job-group bookkeeping."""

    def __init__(self):
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.sc = None  # SparkContext, once the session exists
        self._memo_calls = 0

    def open(self, kind: str, name: str, **attrs) -> Span:
        parent = self.stack[-1].id if self.stack else None
        span = Span(len(self.spans), kind, name, parent, time.perf_counter(), attrs=attrs)
        self.spans.append(span)
        self.stack.append(span)
        return span

    def close(self, span: Span, **attrs) -> None:
        span.end = time.perf_counter()
        span.attrs.update(attrs)
        popped = self.stack.pop()
        if popped is not span:
            raise RuntimeError(f"span {span.id} closed out of order")

    @contextmanager
    def phase(self, kind: str, name: str, group: str | None = None, **attrs):
        """A span around a block; ``group`` also becomes the Spark job group
        of the jobs the block launches."""
        span = self.open(kind, name, group=group, **attrs)
        if group:
            self.set_group(group)
        try:
            yield span
        finally:
            self.close(span)

    def set_group(self, group: str | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(JOB_GROUP, group)

    def wrap_materialize_once(self, io_module) -> None:
        """Replace ``io.materialize_once`` with a recording wrapper.  Must
        run before the query modules are imported: some bind the name at
        import time."""
        original = io_module.materialize_once

        def materialize_once(spark, out, write_fn, schema=None):
            hit = os.path.exists(os.path.join(out, "_SUCCESS"))
            prev = self.sc.getLocalProperty(JOB_GROUP) if self.sc else None
            self._memo_calls += 1
            group = f"{prev}.memo{self._memo_calls}" if prev else None
            span = self.open("memo", os.path.basename(out.rstrip("/")), hit=hit, group=group)
            self.set_group(group)
            try:
                return original(spark, out, write_fn, schema)
            finally:
                self.set_group(prev)
                self.close(span, bytes=0 if hit else dir_bytes(out))

        io_module.materialize_once = materialize_once

    def dump(self, path: str, stages_by_group: dict[str, list[dict]]) -> None:
        """Write spans (with self time and the stage rows of their job
        groups) as JSON lines."""
        selft = self_times(self.spans)
        with open(path, "w") as f:
            for s in self.spans:
                rec = {
                    "id": s.id, "kind": s.kind, "name": s.name, "parent": s.parent,
                    "start": s.start, "end": s.end, "self_s": selft[s.id], **s.attrs,
                }
                group = s.attrs.get("group")
                if group:
                    rec["stages"] = stages_by_group.get(group, [])
                f.write(json.dumps(rec) + "\n")


def read_event_log(log_dir: str) -> tuple[dict[str, list[dict]], dict[str, int]]:
    """Stage rows per job group, and job counts per job group, from the
    uncompressed event log(s) in ``log_dir``."""
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = {}
    tasks: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(JOB_GROUP) or ""
                    jobs[group] = jobs.get(group, 0) + 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    t = tasks.setdefault(ev["Stage ID"], {
                        "tasks": 0, "task_s": 0.0, "max_task_s": 0.0, "gc_s": 0.0,
                        "shuffle_bytes": 0, "spill_bytes": 0, "input_bytes": 0,
                    })
                    run_s = m.get("Executor Run Time", 0) / 1000.0
                    t["tasks"] += 1
                    t["task_s"] += run_s
                    t["max_task_s"] = max(t["max_task_s"], run_s)
                    t["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    t["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    t["spill_bytes"] += m.get("Memory Bytes Spilled", 0)
                    t["input_bytes"] += (m.get("Input Metrics") or {}).get(
                        "Bytes Read", 0
                    )
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    stages[info["Stage ID"]] = {
                        "stage": info["Stage ID"],
                        "wall_s": (info.get("Completion Time", 0)
                                   - info.get("Submission Time", 0)) / 1000.0,
                    }
    by_group: dict[str, list[dict]] = {}
    for sid, row in sorted(stages.items()):
        row.update(tasks.get(sid, {}))
        by_group.setdefault(stage_group.get(sid, ""), []).append(row)
    return by_group, jobs
