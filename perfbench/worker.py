"""One benchmark run inside a fresh process.

Sets the engine up (``session.get_spark`` then ``registry.load_all``),
runs the workload's closed loop and writes a JSON record to ``--out``.
Started by run.py, which supplies a private TMPDIR and SPARK_LOCAL_DIRS;
not meant to be run by hand.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import metrics  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def session_conf(traced: bool, run_dir: str, heap: str) -> dict[str, str]:
    """Session settings the benchmark adds to the engine's own.  The event
    log is written (uncompressed, one file) only in a traced run."""
    conf = {
        # JVM scratch stays inside the run directory, apart from the
        # engine's TMPDIR (whose size is reported as memo_disk_mb).  The
        # heap is committed and touched at start: left to grow, its size
        # varied by a third between identical runs, and with it the
        # collector's work.  The heap is therefore a constant part of peak
        # RSS, which moves with off-heap and Python memory only.
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'jvm')} -XX:-UsePerfData "
            f"-Xms{heap} -XX:+AlwaysPreTouch",
        "spark.eventLog.enabled": "true" if traced else "false",
    }
    if traced:
        conf.update({
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _vm_hwm(pid) -> int:
    """Peak resident bytes of a process (VmHWM)."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024
    return 0


def _blocks(sc) -> tuple[float, int]:
    infos = sc._jsc.sc().getRDDStorageInfo()
    storage = sum(i.memSize() + i.diskSize() for i in infos)
    return float(storage), int(sc._jsc.getPersistentRDDs().size())


def _plan_stats(text: str) -> dict[str, int]:
    lines = text.splitlines()
    return {
        "lines": len(lines),
        "scans": sum("FileScan" in ln for ln in lines),
        "exchanges": sum("Exchange" in ln and "ReusedExchange" not in ln for ln in lines),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--fixture", required=True)
    ap.add_argument("--expected", required=True)
    args = ap.parse_args()
    sys.path.insert(0, args.root)
    clock = time.perf_counter

    tracer = tracing.Tracer() if args.trace else None
    if tracer is not None:
        from eclypsium_etl_spark import io as engine_io

        tracer.wrap_materialize_once(engine_io)  # before load_all imports
    from eclypsium_etl_spark import plans, registry, session

    t0 = clock()
    spark = session.get_spark(
        app_name="perfbench",
        extra_conf=session_conf(bool(args.trace), args.run_dir, os.environ["SPARK_DRIVER_MEMORY"]),
    )
    t1 = clock()
    queries, _ = registry.load_all()
    t2 = clock()
    setup = {"session.get_spark_s": t1 - t0, "registry.load_all_s": t2 - t1}
    record: dict = {"setup": setup}

    sc = spark.sparkContext
    workload = WORKLOADS[args.workload]
    with open(args.expected) as f:
        expected = json.load(f)
    modules = {n: metrics.module_of(queries[n].__module__) for n in workload.queries}
    blocks: list[tuple[float, int]] = []
    n_inv = 0
    if tracer is not None:
        tracer.sc = sc

    def timed(name: str, p: metrics.Pass):
        nonlocal n_inv
        fn = queries[name]
        if not p.traced:
            t = clock()
            pdf = fn(spark, args.fixture).toPandas()
            return clock() - t, pdf
        n_inv += 1
        g = f"inv{n_inv}"
        with tracer.phase("query", name, inv=n_inv, pass_no=p.number) as q:
            try:
                with tracer.phase("build", name, f"{g}.build"):
                    df = fn(spark, args.fixture)
                with tracer.phase("plan", name, f"{g}.plan") as span:
                    span.attrs.update(_plan_stats(plans.physical_plan(df)))
                with tracer.phase("exec", name, f"{g}.exec"):
                    pdf = df.toPandas()
            finally:
                tracer.set_group(None)
        return q.end - q.start, pdf

    verdicts: dict[tuple, str | None] = {}

    def verify(name: str, pdf) -> str | None:
        want = expected.get(name)
        if isinstance(want, dict) and "error" in want:
            return f"oracle failed: {want['error']}"
        key = check.digest(pdf)
        if key is None:
            return check.mismatch(want, pdf)
        if (name, key) not in verdicts:
            verdicts[name, key] = check.mismatch(want, pdf)
        return verdicts[name, key]

    def invoke(name: str, p: metrics.Pass) -> metrics.Invocation:
        return metrics.invocation(name, lambda: timed(name, p), lambda pdf: verify(name, pdf))

    def end_pass(p: metrics.Pass) -> None:
        if tracer is not None:
            blocks.append(_blocks(sc))

    loop_start = clock()
    warm = metrics.warm_passes(args.seconds, workload.warm_per_10s)
    passes = metrics.closed_loop(
        workload.queries, args.seed, warm, invoke,
        traced_pass=lambda n: tracer is not None and metrics.traced_pass(n, warm),
        end_pass=end_pass,
    )
    record["loop_s"] = clock() - loop_start
    memo_disk = tracing.dir_bytes(os.environ["TMPDIR"])
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    rss = {"python": _vm_hwm("self"), "jvm": _vm_hwm(jvm_pid)}
    record.update({
        "session_conf": dict(sc.getConf().getAll()),
        "passes": [
            {"number": p.number, "traced": p.traced,
             "invocations": [vars(i) for i in p.invocations]}
            for p in passes
        ],
        "peak_rss_bytes": sum(rss.values()),
        "peak_rss_parts": rss,
        "memo_disk_bytes": memo_disk,
    })
    if tracer is not None:
        spark.stop()  # flushes the event log
        stages, jobs = tracing.read_event_log(os.path.join(args.run_dir, "eventlog"))
        record["layers"] = metrics.layer_metrics(
            tracer.spans, stages, jobs, passes, blocks, session.cpu_count(), setup, modules
        )
        tracer.dump(args.out + ".spans.jsonl", stages)
    with open(args.out, "w") as f:
        json.dump(record, f)
    # An untraced run skips spark.stop(): the JVM exits when its gateway's
    # stdin closes, and the launcher reaps the process group.
    os._exit(0)


if __name__ == "__main__":
    main()
