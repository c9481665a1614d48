#!/usr/bin/env python3
"""The repository benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 30 --trace 0

Run from the root of a checkout.  It reads the workload's fixture (the
committed sf0.01 fixture, or its 10x derivation, built once under
``.perfbench/``), computes the DuckDB oracle results, then
starts one fresh engine process with a private TMPDIR and SPARK_LOCAL_DIRS:

- with ``--trace 0`` the end-to-end metrics are printed one per line with
  their units, failed invocations are itemized by query, and the last
  line is one JSON object with ``correct``, ``attempted``, ``failed`` and
  the metrics declared in BENCHMARK.json;
- with ``--trace 1`` the run is traced, and its spans, stage rows and
  memo calls yield the per-layer metrics instead.

A record of every run (metrics, failures, load average, steal, session
settings, fixture sizes) is kept under ``.perfbench/results/``.  Nothing
is left in /tmp: every engine directory resolves inside the run directory,
which is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path[:0] = [HERE, ROOT]

import fixture  # noqa: E402
import metrics  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# The engine's default driver heap (24g) is larger than a small box's RAM.
DRIVER_MEMORY = "2g"
RUN_LIMIT_S = 175.0


def load_1m() -> float | None:
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except (OSError, ValueError, IndexError):
        return None


def cpu_jiffies() -> tuple[int, int] | None:
    """(steal, total) jiffies; total counts user..steal only, since guest
    time is already folded into user."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])
    except (OSError, ValueError, IndexError):
        return None


def steal_pct(a, b) -> float | None:
    if a is None or b is None or b[1] <= a[1]:
        return None
    return 100.0 * (b[0] - a[0]) / (b[1] - a[1])


def cores() -> int:
    return len(os.sched_getaffinity(0))


def engine_env(run_dir: str) -> dict[str, str]:
    """Environment of an engine process: every temp, memo, checkpoint,
    warehouse and shuffle directory lands inside ``run_dir``."""
    for sub in ("tmp", "local", "jvm", "eventlog"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    env = dict(os.environ)
    path = env.get("PYTHONPATH")
    env.update({
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "SPARK_GRAFT_CPUS": str(cores()),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # the short-lived JVM that spark-submit starts to build its
        # command line: keep its scratch out of /tmp too
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'jvm')}",
    })
    return env


def _stop_group(pgid: int) -> None:
    """Kill what is left of a process group and wait until it is gone."""
    deadline = time.monotonic() + 10
    sig = signal.SIGTERM
    while time.monotonic() < deadline:
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        time.sleep(0.2)
        sig = signal.SIGKILL


def run_engine(args: list[str], run_dir: str, log_path: str, timeout: float) -> dict:
    """Run worker.py in a fresh process group; return its record."""
    out = os.path.join(run_dir, "record.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--root", ROOT,
           "--run-dir", run_dir, "--out", out, *args]
    with open(log_path, "ab") as log:
        proc = subprocess.Popen(cmd, env=engine_env(run_dir), cwd=run_dir,
                                stdout=log, stderr=log, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            _stop_group(proc.pid)
            proc.wait()
            raise RuntimeError(f"engine process timed out after {timeout:.0f}s")
        finally:
            _stop_group(proc.pid)
    if rc != 0:
        raise RuntimeError(f"engine process exited with {rc}; log: {log_path}")
    with open(out) as f:
        return json.load(f)


def expected_outputs(workload, fixture_dir: str) -> dict:
    """Oracle results for the workload's oracled queries; queries without
    an oracle are absent (rows-only contract)."""
    import check  # the comparison lives in the engine's test harness
    from eclypsium_etl_spark import registry

    queries, oracles = registry.load_all()
    missing = [q for q in workload.queries if q not in queries]
    if missing:
        raise SystemExit(f"perfbench: queries not registered: {missing}")
    stamp = fixture.stamp(fixture_dir)
    out = {}
    for name in workload.queries:
        if name not in oracles:
            continue
        try:
            out[name] = check.oracle_result(
                fixture_dir, stamp, oracles[name], os.path.join(WORK, "oracle")
            )
        except Exception as exc:  # recorded; every invocation then fails its check
            out[name] = {"error": f"{type(exc).__name__}: {exc}"[:300]}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "eclypsium_etl_spark", "registry.py")):
        print(f"perfbench: engine package not found under {ROOT}", file=sys.stderr)
        return 2
    started = time.monotonic()
    workload = WORKLOADS[args.workload]
    context = {"ambient_load_1m": load_1m(), "cores": cores(),
               "driver_memory": DRIVER_MEMORY}
    jiffies = cpu_jiffies()

    t = time.monotonic()
    fixture_dir = fixture.ensure(os.path.join(WORK, "fixtures"), workload.fixture, args.seed)
    expected = expected_outputs(workload, fixture_dir)
    context["prepare_s"] = time.monotonic() - t
    context["fixture"] = {"dir": os.path.relpath(fixture_dir, ROOT),
                          "stamp": fixture.stamp(fixture_dir),
                          "tables": fixture.table_sizes(fixture_dir)}

    tag = f"{workload.name}-s{args.seed}-t{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}"
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    log_path = os.path.join(results, f"{tag}.log")
    runs = os.path.join(WORK, "runs", str(os.getpid()))
    expected_path = os.path.join(runs, "expected.json")
    os.makedirs(runs, exist_ok=True)
    with open(expected_path, "w") as f:
        json.dump(expected, f)

    try:
        t = time.monotonic()
        rec = run_engine(
            ["--workload", workload.name, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--fixture", fixture_dir, "--expected", expected_path],
            os.path.join(runs, "main"), log_path,
            RUN_LIMIT_S - (time.monotonic() - started),
        )
        context["engine_process_s"] = time.monotonic() - t
        spans = os.path.join(runs, "main", "record.json.spans.jsonl")
        if os.path.exists(spans):
            shutil.move(spans, os.path.join(results, f"{tag}.spans.jsonl"))
    except RuntimeError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(runs, ignore_errors=True)

    passes = [
        metrics.Pass(p["number"], p["traced"],
                     [metrics.Invocation(**i) for i in p["invocations"]])
        for p in rec["passes"]
    ]
    context["run_s"] = time.monotonic() - started
    context.update({"load_1m_end": load_1m(), "steal_pct": steal_pct(jiffies, cpu_jiffies()),
                    "session_conf": rec.get("session_conf"), "loop_s": rec["loop_s"]})
    e2e = metrics.end_to_end(passes, sum(rec["setup"].values()), rec["peak_rss_bytes"],
                             rec["memo_disk_bytes"])
    fails = metrics.failures(passes)
    attempted = sum(len(p.invocations) for p in passes)
    failed = sum(f["count"] for f in fails.values())
    if args.trace:
        values = rec["layers"]
        reported = {k: values.get(k, 0.0) for k in metrics.LAYER_UNITS}
        units = metrics.LAYER_UNITS
    else:
        values = e2e
        reported = {k: e2e[k] for k in metrics.END_TO_END_UNITS}
        units = {**metrics.END_TO_END_UNITS, "failed_frac": "ratio"}
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump({"workload": workload.name, "seed": args.seed, "trace": args.trace,
                   "context": context, "setup": rec["setup"], "end_to_end": e2e,
                   "layers": rec.get("layers"), "failures": fails,
                   "peak_rss_parts": rec.get("peak_rss_parts"),
                   "passes": rec["passes"]}, f, indent=1)

    print(f"perfbench {workload.name} seed={args.seed} trace={args.trace}: "
          f"{len(workload.queries)} queries, 1 cold + {len(passes) - 1} warm passes, "
          f"{attempted} invocations, closed loop with 1 client on {cores()} cores; "
          f"load {context['ambient_load_1m']}, steal {context['steal_pct'] or 0:.1f}%")
    for k in units:
        print(f"  {k} = {values.get(k, 0.0):.6g} {units[k]}")
    for name, row in sorted(fails.items()):
        print(f"  FAILED {name}: {row['count']} invocation(s); first: {row['first']}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in reported.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
