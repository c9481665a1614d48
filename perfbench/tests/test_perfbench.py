"""Fast checks of the benchmark's own logic; none of them starts Spark.

Run from the checkout root with ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import re

import pyarrow.compute as pc
import pytest

import fixture
import metrics
import tracing
import worker

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_and_units_match_the_declaration():
    spec = _declared()
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == metrics.END_TO_END_UNITS
    assert layers == metrics.LAYER_UNITS
    for name in [*e2e, *layers, *(w["name"] for w in spec["workloads"])]:
        assert NAME.fullmatch(name) and len(name) <= 64, name


def test_declared_workloads_exist():
    import workloads

    for w in _declared()["workloads"]:
        assert w["name"] in workloads.WORKLOADS


@pytest.fixture(scope="module")
def base():
    return fixture.read_tables(fixture.BASE_DIR)


def test_base_fixture_is_the_engine_sf001_fixture():
    sizes = fixture.table_sizes(fixture.BASE_DIR)
    assert sizes["lineitem"]["rows"] == 60_000 and sizes["orders"]["rows"] == 15_000
    assert sizes["documents"]["rows"] == 500 and sizes["embeddings"]["rows"] == 500
    assert fixture.stamp(fixture.BASE_DIR) == fixture.base_stamp()


def test_generator_is_deterministic(base):
    assert fixture.scale10_tables(base, 7)["documents"].equals(
        fixture.scale10_tables(base, 7)["documents"]
    )
    assert fixture.scale10_tables(base, 7)["embeddings"].equals(
        fixture.scale10_tables(base, 7)["embeddings"]
    )
    assert not fixture.scale10_tables(base, 7)["lineitem"].equals(
        fixture.scale10_tables(base, 8)["lineitem"]
    )


def test_scale10_keeps_one_shared_order_key_span(base):
    # make the two maxima differ: with separate spans the shards would
    # stop joining
    orders = base["orders"].slice(0, base["orders"].num_rows - 7)
    tables = dict(base, orders=orders)
    span = fixture.order_key_span(tables["lineitem"], orders)
    assert span == max(pc.max(tables["lineitem"]["l_orderkey"]).as_py(),
                       pc.max(orders["o_orderkey"]).as_py()) + 1
    big = fixture.scale10_tables(tables, 3)
    assert big["lineitem"].num_rows == 10 * base["lineitem"].num_rows
    shard = pc.divide(big["lineitem"]["l_orderkey"], span)
    oshard = pc.divide(big["orders"]["o_orderkey"], span)
    assert set(shard.to_pylist()) == set(oshard.to_pylist()) == set(range(10))
    # every lineitem still finds its order exactly as often as in the base
    base_hits = pc.sum(pc.is_in(tables["lineitem"]["l_orderkey"], orders["o_orderkey"]))
    hits = pc.sum(pc.is_in(big["lineitem"]["l_orderkey"], big["orders"]["o_orderkey"]))
    assert hits.as_py() == 10 * base_hits.as_py()
    for name in fixture.DIMENSIONS:
        assert big[name].equals(base[name])


def test_self_time_subtracts_the_union_of_children():
    S = tracing.Span
    spans = [
        S(0, "query", "q", None, 0.0, 10.0),
        S(1, "build", "q", 0, 0.0, 4.0),
        S(2, "memo", "m", 1, 1.0, 3.0),
        S(3, "memo", "m", 1, 2.0, 3.5),  # overlaps span 2
        S(4, "exec", "q", 0, 6.0, 12.0),  # runs past its parent: clipped
    ]
    got = tracing.self_times(spans)
    assert got[0] == pytest.approx(10.0 - 4.0 - 4.0)
    assert got[1] == pytest.approx(4.0 - 2.5)
    assert got[2] == pytest.approx(2.0)
    assert got[4] == pytest.approx(6.0)


def _loop(invoke, warm=3):
    return metrics.closed_loop(["a", "b", "boom"], seed=1, warm=warm, invoke=invoke)


def test_failing_builder_is_counted_in_failed_frac():
    def builder(name):
        if name == "boom":
            raise RuntimeError("builder failed")
        return [name]

    def invoke(name, p):
        return metrics.invocation(name, lambda: (1.0, builder(name)), lambda rows: None)

    passes = _loop(invoke)
    assert len(passes) == 4  # cold + three warm passes
    e2e = metrics.end_to_end(passes, 2.0, 10**9, 10**6)
    assert e2e["failed_frac"] == pytest.approx(1 / 3)
    assert metrics.failures(passes) == {
        "boom": {"count": 4, "first": "RuntimeError: builder failed"}
    }
    # the failed call's own (near-zero) time still counts in its pass
    assert e2e["pass_s"] == pytest.approx(2.0, abs=0.01)
    assert e2e["cold_pass_s"] == pytest.approx(2.0, abs=0.01)
    assert e2e["peak_rss_mb"] == 1000.0 and e2e["memo_disk_mb"] == 1.0


def test_mismatched_output_is_counted_with_its_reason():
    import check
    import pandas as pd

    want = check.canonical(pd.DataFrame({"k": [1, 2], "v": [0.5, None]}))
    assert check.mismatch(want, pd.DataFrame({"v": [None, 0.5], "k": [2, 1]})) is None
    assert "row count" in check.mismatch(want, pd.DataFrame({"k": [1], "v": [0.5]}))
    assert "values differ" in check.mismatch(
        want, pd.DataFrame({"k": [1, 2], "v": [0.5, 0.25]})
    )
    assert check.mismatch(None, pd.DataFrame({"x": []})) is None  # rows-only
    same = pd.DataFrame({"k": [2, 1], "v": [None, 0.5]})
    assert check.digest(same) == check.digest(same.iloc[::-1].reset_index(drop=True))
    assert check.digest(same) != check.digest(same.assign(v=[None, 0.25]))
    assert check.digest(pd.DataFrame({"a": [[1, 2]]})) is None  # unhashable: full check
    inv = metrics.invocation("q", lambda: (0.1, pd.DataFrame({"k": [3], "v": [1.0]})),
                             lambda pdf: check.mismatch(want, pdf))
    assert inv.error.startswith("row count")


def test_pass_count_depends_on_seconds_only_and_order_is_permuted():
    assert [metrics.warm_passes(s) for s in (1, 30, 39.9, 40, 60)] == [3, 3, 3, 4, 6]
    passes = _loop(lambda name, p: metrics.Invocation(name, 0.25), warm=7)
    assert [p.number for p in passes] == list(range(8))
    orders = {tuple(i.name for i in p.invocations) for p in passes}
    assert len(orders) > 1


def test_tracing_off_writes_no_event_log(tmp_path):
    conf = worker.session_conf(False, str(tmp_path), "2g")
    assert conf["spark.eventLog.enabled"] == "false"
    assert not any(k.startswith("spark.eventLog.dir") for k in conf)
    traced = worker.session_conf(True, str(tmp_path), "2g")
    assert traced["spark.eventLog.enabled"] == "true"
    assert traced["spark.eventLog.compress"] == "false"


def test_event_log_rows_join_to_job_groups(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "inv1.exec"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "inv1.build.memo1"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 1500, "JVM GC Time": 100,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 2_000_000},
            "Memory Bytes Spilled": 0, "Input Metrics": {"Bytes Read": 1_000_000}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 500}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Submission Time": 1000, "Completion Time": 3000}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 2, "Submission Time": 1000, "Completion Time": 1500}},
    ]
    (tmp_path / "local-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    stages, jobs = tracing.read_event_log(str(tmp_path))
    assert jobs == {"inv1.exec": 1, "inv1.build.memo1": 1}
    (row,) = stages["inv1.exec"]
    assert row["tasks"] == 2 and row["task_s"] == 2.0 and row["max_task_s"] == 1.5
    assert row["shuffle_bytes"] == 2_000_000 and row["wall_s"] == 2.0
    assert [r["stage"] for r in stages["inv1.build.memo1"]] == [2]


def test_layer_metrics_split_a_traced_pass():
    S = tracing.Span
    spans = [
        S(0, "query", "qa", None, 0.0, 3.0, {"inv": 1, "pass_no": 0}),
        S(1, "query", "qa", None, 10.0, 12.0, {"inv": 2, "pass_no": 2}),
        S(2, "build", "qa", 1, 10.0, 10.5, {"group": "inv2.build"}),
        S(3, "plan", "qa", 1, 10.5, 11.0, {"lines": 40, "scans": 2, "exchanges": 1}),
        S(4, "exec", "qa", 1, 11.0, 12.0, {"group": "inv2.exec"}),
        S(5, "memo", "m", 2, 10.1, 10.3, {"hit": True, "bytes": 0}),
        S(6, "memo", "m", None, 1.0, 2.0, {"hit": False, "bytes": 3_000_000}),
    ]
    passes = [metrics.Pass(0, True, [metrics.Invocation("qa", 3.0)]),
              metrics.Pass(1, False, [metrics.Invocation("qa", 1.5)]),
              metrics.Pass(2, True, [metrics.Invocation("qa", 2.0)])]
    stages = {"inv2.exec": [{"tasks": 4, "task_s": 2.0, "max_task_s": 1.0, "gc_s": 0.1,
                             "shuffle_bytes": 0, "spill_bytes": 0, "input_bytes": 0}]}
    out = metrics.layer_metrics(spans, stages, {"inv2.exec": 1, "inv2.build.memo3": 2},
                                passes, [(1e6, 1), (2e6, 2), (2e6, 2)], 4,
                                {"session.get_spark_s": 8.0, "registry.load_all_s": 0.2},
                                {"qa": "llm.similarity"})
    assert out["build.s"] == 0.5 and out["plan.s"] == 0.5 and out["exec.s"] == 1.0
    assert out["plan.lines"] == 40 and out["build.jobs"] == 2 and out["exec.jobs"] == 1
    assert out["exec.core_util"] == pytest.approx(2.0 / (1.0 * 4))
    assert out["llm.similarity.s"] == 2.0 and out["operators.s"] == 0.0
    assert out["io.memo_builds"] == 1 and out["io.memo_hits"] == 1
    assert out["io.memo_mb"] == 3.0 and out["blocks.storage_growth_mb"] == 1.0
    assert out["trace.overhead_s"] == pytest.approx(0.5)
    assert set(metrics.LAYER_UNITS) <= set(out)


def test_tracing_overhead_cancels_a_steady_warm_up_trend():
    assert [metrics.traced_pass(n, 3) for n in range(4)] == [True, False, True, False]
    assert [n for n in range(7) if metrics.traced_pass(n, 6)] == [0, 2, 4]
    # warm passes speed up by 1 s per pass; tracing adds 0.5 s
    passes = [metrics.Pass(n, metrics.traced_pass(n, 6),
                           [metrics.Invocation("qa", 20.0 - n + (0.5 if n % 2 == 0 else 0))])
              for n in range(7)]
    out = metrics.layer_metrics([], {}, {}, passes, [(0, 0)], 4, {}, {})
    assert out["trace.overhead_s"] == pytest.approx(0.5)
    assert out["trace.pass_s"] == pytest.approx(17.5)


def test_module_of_maps_registering_modules_to_layers():
    assert metrics.module_of("eclypsium_etl_spark.llm.similarity") == "llm.similarity"
    assert metrics.module_of("eclypsium_etl_spark.operators.windows") == "operators"
    assert metrics.module_of("eclypsium_etl_spark.streaming.queries") == "streaming"
    assert metrics.module_of("eclypsium_etl_spark.pipeline") == "pipeline"
