"""The closed loop and the arithmetic that turns a run into metrics.

Nothing here touches Spark, so the loop's accounting (failures, pass
times, the per-layer split) is testable with fake queries.
"""

from __future__ import annotations

import math
import random
import statistics
import time
from dataclasses import dataclass, field

MB = 1e6

# Printed in the result line.  failed_frac is printed too but travels in
# the line's own attempted/failed counts: it is 0 in every passing run.
END_TO_END_UNITS = {
    "setup_s": "s", "cold_pass_s": "s", "pass_s": "s", "geomean_query_s": "s",
    "peak_rss_mb": "MB", "memo_disk_mb": "MB",
}
MODULES = ("operators", "streaming", "pipeline", "llm.dedup", "llm.text",
           "llm.similarity", "llm.clustering", "llm.prep", "llm.multimodal")
LAYER_UNITS = {
    "session.get_spark_s": "s", "registry.load_all_s": "s",
    "build.s": "s", "build.jobs": "count", "build.task_s": "s",
    "plan.s": "s", "plan.lines": "count", "plan.scans": "count",
    "plan.exchanges": "count",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_s": "s", "exec.max_task_s": "s", "exec.core_util": "ratio",
    "exec.shuffle_mb": "MB", "exec.spill_mb": "MB", "exec.input_mb": "MB",
    "exec.gc_s": "s",
    "io.memo_builds": "count", "io.memo_hits": "count", "io.memo_build_s": "s",
    "io.memo_mb": "MB",
    "blocks.storage_mb": "MB", "blocks.storage_growth_mb": "MB",
    "blocks.persisted_rdds": "count",
    **{f"{m}.s": "s" for m in MODULES},
    "trace.pass_s": "s", "trace.overhead_s": "s",
}


@dataclass
class Invocation:
    name: str
    wall: float  # timed region only: build + plan + execute + collect
    error: str | None = None


@dataclass
class Pass:
    number: int
    traced: bool
    invocations: list[Invocation] = field(default_factory=list)

    @property
    def wall(self) -> float:
        return sum(i.wall for i in self.invocations)


def invocation(name: str, timed, check) -> Invocation:
    """One invocation: ``timed()`` returns (wall seconds, result) and
    ``check(result)`` a mismatch reason or None.  An exception in the
    timed call (a failing builder, plan or action) or a mismatch makes it
    a failed invocation; the run goes on."""
    t = time.perf_counter()
    try:
        wall, result = timed()
    except Exception as exc:  # counted in failed_frac, never fatal
        first = (str(exc).strip().splitlines() or [""])[0][:300]
        return Invocation(name, time.perf_counter() - t, f"{type(exc).__name__}: {first}")
    return Invocation(name, wall, check(result))


def warm_passes(seconds: float, per_10s: int = 1) -> int:
    """Warm passes in a run: ``per_10s`` per 10 s of ``--seconds``, at
    least three.  The count depends on the arguments only, never on
    elapsed time, so a faster or slower engine runs the same passes and
    every metric (the pass median, peak RSS, the disk left behind) covers
    the same work."""
    return max(3, int(seconds // 10) * per_10s)


def traced_pass(number: int, warm: int) -> bool:
    """Which passes a traced run traces: the cold pass, and every second
    warm pass that has a plain pass on both sides.  Plain passes around
    each traced one let the run measure its own tracing overhead with a
    steady warm-up trend cancelled out."""
    return number == 0 or (number % 2 == 0 and number < warm)


def closed_loop(names, seed: int, warm: int, invoke, traced_pass=lambda n: False,
                end_pass=lambda p: None) -> list[Pass]:
    """Pass 0 (cold) and then ``warm`` warm passes over ``names``, one
    invocation at a time, each pass in a seed-chosen order.
    ``invoke(name, pass)`` returns an Invocation; any untimed checking
    happens inside it.  ``traced_pass(number)`` says whether a pass is
    traced."""
    rng = random.Random(seed)
    passes: list[Pass] = []
    for number in range(1 + warm):
        order = list(names)
        rng.shuffle(order)
        p = Pass(number, traced_pass(number))
        for name in order:
            p.invocations.append(invoke(name, p))
        passes.append(p)
        end_pass(p)
    return passes


def geomean(values) -> float:
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values))


def end_to_end(passes: list[Pass], setup_s: float,
               peak_rss_bytes: int, memo_disk_bytes: int) -> dict[str, float]:
    """The user-visible metrics of one run (warm = every pass after the
    first that ran untraced)."""
    warm = [p for p in passes[1:] if not p.traced]
    per_query: dict[str, list[float]] = {}
    for p in warm:
        for inv in p.invocations:
            per_query.setdefault(inv.name, []).append(inv.wall)
    invs = [i for p in passes for i in p.invocations]
    return {
        "setup_s": setup_s,
        "cold_pass_s": passes[0].wall,
        "pass_s": statistics.median(p.wall for p in warm),
        "geomean_query_s": geomean(statistics.median(v) for v in per_query.values()),
        "failed_frac": sum(1 for i in invs if i.error) / len(invs),
        "peak_rss_mb": peak_rss_bytes / MB,
        "memo_disk_mb": memo_disk_bytes / MB,
    }


def failures(passes: list[Pass]) -> dict[str, dict]:
    """Failed invocations by query: count and the first reason."""
    out: dict[str, dict] = {}
    for p in passes:
        for inv in p.invocations:
            if inv.error:
                row = out.setdefault(inv.name, {"count": 0, "first": inv.error})
                row["count"] += 1
    return out


def module_of(fn_module: str) -> str:
    """Registering module of a query, as a layer name: 'operators',
    'streaming', 'pipeline' or 'llm.<name>'."""
    parts = fn_module.split(".")[1:]  # drop the package name
    if parts and parts[0] == "llm":
        return ".".join(parts[:2])
    return parts[0] if parts else fn_module


def layer_metrics(spans, stages_by_group: dict[str, list[dict]],
                  jobs_by_group: dict[str, int], passes: list[Pass],
                  blocks: list[tuple[float, int]], cores: int,
                  setup: dict[str, float], modules: dict[str, str]) -> dict[str, float]:
    """Per-layer metrics of a traced run.  Per-pass figures are medians
    over the traced warm passes; memo figures cover the whole run;
    ``blocks`` holds (storage bytes, persisted RDDs) after each pass."""
    children: dict[int, dict[str, object]] = {}
    for s in spans:
        if s.parent is not None and s.kind in ("build", "plan", "exec"):
            children.setdefault(s.parent, {})[s.kind] = s

    def stage_rows(prefix: str) -> list[dict]:
        return [row for g, rows in stages_by_group.items()
                if g == prefix or g.startswith(prefix + ".") for row in rows]

    def jobs(prefix: str) -> int:
        return sum(n for g, n in jobs_by_group.items()
                   if g == prefix or g.startswith(prefix + "."))

    per_pass: list[dict[str, float]] = []
    traced_warm = {p.number for p in passes[1:] if p.traced}
    for number in sorted(traced_warm):
        acc: dict[str, float] = {}

        def add(key, v):
            acc[key] = acc.get(key, 0.0) + v

        for s in spans:
            if s.kind != "query" or s.attrs.get("pass_no") != number:
                continue
            add(f"{modules[s.name]}.s", s.end - s.start)
            inv = s.attrs["inv"]
            ph = children.get(s.id, {})
            for kind in ("build", "plan", "exec"):
                if kind in ph:
                    add(f"{kind}.s", ph[kind].end - ph[kind].start)
            if "plan" in ph:
                for k in ("lines", "scans", "exchanges"):
                    add(f"plan.{k}", ph["plan"].attrs.get(k, 0))
            add("build.jobs", jobs(f"inv{inv}.build"))
            add("build.task_s", sum(r.get("task_s", 0.0) for r in stage_rows(f"inv{inv}.build")))
            add("exec.jobs", jobs(f"inv{inv}.exec"))
            rows = stage_rows(f"inv{inv}.exec")
            add("exec.stages", len(rows))
            for k in ("tasks", "task_s", "gc_s"):
                add(f"exec.{k}", sum(r.get(k, 0) for r in rows))
            acc["exec.max_task_s"] = max(
                [acc.get("exec.max_task_s", 0.0)] + [r.get("max_task_s", 0.0) for r in rows]
            )
            for k in ("shuffle", "spill", "input"):
                add(f"exec.{k}_mb", sum(r.get(f"{k}_bytes", 0) for r in rows) / MB)
        acc["exec.core_util"] = (
            acc.get("exec.task_s", 0.0) / (acc["exec.s"] * cores) if acc.get("exec.s") else 0.0
        )
        per_pass.append(acc)

    keys = {k for acc in per_pass for k in acc} | {f"{m}.s" for m in MODULES}
    out = {k: statistics.median(acc.get(k, 0.0) for acc in per_pass) for k in sorted(keys)}
    memo = [s for s in spans if s.kind == "memo"]
    built = [s for s in memo if not s.attrs.get("hit")]
    out.update({
        "io.memo_builds": len(built),
        "io.memo_hits": len(memo) - len(built),
        "io.memo_build_s": sum(s.end - s.start for s in built),
        "io.memo_mb": sum(s.attrs.get("bytes", 0) for s in built) / MB,
        "blocks.storage_mb": blocks[-1][0] / MB,
        "blocks.storage_growth_mb": (blocks[-1][0] - blocks[0][0]) / MB,
        "blocks.persisted_rdds": blocks[-1][1],
    })
    # each traced warm pass against the mean of the plain passes beside it
    overhead = []
    for p in passes[1:]:
        if p.traced:
            side = [q.wall for q in passes[p.number - 1:p.number + 2:2] if not q.traced]
            overhead.append(p.wall - statistics.mean(side))
    out["trace.pass_s"] = statistics.median(p.wall for p in passes[1:] if p.traced)
    out["trace.overhead_s"] = statistics.median(overhead)
    out.update(setup)
    return out
