"""Self-tests of the benchmark harness.

    python3 -m pytest perfbench/tests -q

Run from the repository root. The Spark tests start one small local
session; the rest need no JVM.
"""

from __future__ import annotations

import json
import os
import pickle
import time

import pandas as pd
import pytest

from perfbench import gen, run, trace
from perfbench import workloads as W

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# --------------------------------------------------------------------------
# no JVM
# --------------------------------------------------------------------------


def _tree_bytes(d: str) -> dict[str, bytes]:
    out = {}
    for base, _, names in os.walk(d):
        for n in names:
            with open(os.path.join(base, n), "rb") as fh:
                out[os.path.relpath(os.path.join(base, n), d)] = fh.read()
    return out


def test_generator_is_seeded(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    for d, seed in ((a, 7), (b, 7), (c, 8)):
        gen.gen_tpch(os.path.join(d, "tpch"), 0.001, seed)
        gen.gen_co(os.path.join(d, "co"), 200, seed)
    assert _tree_bytes(a) == _tree_bytes(b)
    assert _tree_bytes(a) != _tree_bytes(c)


def test_benchmark_json_matches_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(W.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYER_UNITS


def test_event_log_attribution(tmp_path):
    """Jobs, stages and tasks land in the op whose window holds the job's
    submission; time outside every window is ignored."""
    log = tmp_path / "app" / "events_1_app"
    log.parent.mkdir()
    task = {
        "Event": "SparkListenerTaskEnd", "Stage ID": 0,
        "Task Info": {"Launch Time": 1100, "Finish Time": 1300,
                      "Accumulables": [{"Name": trace.PY_SENT,
                                        "Update": "64"}]},
        "Task Metrics": {"Executor Run Time": 200,
                         "Executor CPU Time": 150_000_000,
                         "Input Metrics": {"Records Read": 0}},
    }
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 1050, "Stage IDs": [0],
         "Properties": {"sql.streaming.queryId": "q",
                        "streaming.sql.batchId": "0"}},
        task,
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1400},
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": 5000, "Stage IDs": [1]},
    ]
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    windows = [trace.Window("a", 1000, 1060, 2000)]
    out = trace.parse_event_log(str(tmp_path), windows)
    assert set(out) == {"a"}
    t = out["a"]
    assert (t.jobs, t.stages, t.tasks, t.empty_tasks) == (1, 1, 1, 1)
    assert t.build_jobs == 1 and t.stream_jobs == 1 and len(t.triggers) == 1
    assert t.run_s == pytest.approx(0.2) and t.cpu_s == pytest.approx(0.15)
    assert t.py_sent == 64
    # job span 350 ms, one task busy 200 ms
    assert t.gap_s == pytest.approx(0.15)


# --------------------------------------------------------------------------
# Spark
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def spark():
    run.configure_env()
    from data_warehouse_co_healthy_spark.session import get_spark

    s = get_spark("perfbench-tests", cpus=2)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def tpch_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("tpch"))
    gen.gen_tpch(d, 0.001, 1)
    return d


def _last_plan(spark, before: int) -> str:
    """Physical plan text of the newest SQL execution after ``before``."""
    store = spark._jsparkSession.sharedState().statusStore()
    deadline = time.time() + 30
    while store.executionsCount() <= before:
        assert time.time() < deadline, "SQL execution never recorded"
        time.sleep(0.05)
    return store.executionsList().last().physicalPlanDescription()


def test_timed_action_keeps_full_output_schema(spark, tpch_dir):
    """The noop write computes every output column; count(), which the
    old bench timed, lets Catalyst prune the aggregates away."""
    import __spark_entry__ as entry

    q1 = entry.queries()["q1_pricing_summary"]
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    r = run.run_registry_op(spark, "q1_pricing_summary", q1, tpch_dir, False)
    assert r.error is None
    plan = _last_plan(spark, n)  # the timed action is the op's last query
    assert "noop" in plan.lower() or "OverwriteByExpression" in plan, plan
    assert all(c in plan for c in r.df.columns), plan
    n = store.executionsCount()
    q1(spark, tpch_dir).count()
    pruned = _last_plan(spark, n)
    assert not all(c in pruned for c in r.df.columns)


def test_raising_op_counts_as_failed_and_is_not_timed(spark, tmp_path):
    def ok(spark, _):
        return spark.range(3).toDF("x")

    def boom(spark, _):
        raise RuntimeError("op failed")

    p = run.registry_pass(spark, {"ok": ok, "boom": boom}, "unused", False,
                          names=["ok", "boom"])
    failed_op = p.ops[1]
    assert failed_op.error and "op failed" in failed_op.error
    assert failed_op.df is None  # never reaches the timed action
    assert run.count_failures([p], {}) == (2, 1)
    # a pass with a raised op is never timed: alone it gives no timing,
    # beside a clean pass only the clean one is timed
    assert run.e2e_times([p]) is None
    clean = run.registry_pass(spark, {"ok": ok}, "unused", False, names=["ok"])
    assert run.clean_passes([p, clean]) == [clean]
    assert run.e2e_times([p, clean])[0] == clean.wall

    # a wrong answer fails the check and is counted too
    oracle_dir = tmp_path / "oracle"
    oracle_dir.mkdir()
    with open(oracle_dir / "ok.pkl", "wb") as fh:
        pickle.dump(pd.DataFrame({"x": [0, 1, 5]}), fh)
    from perfbench import check

    problems = {"ok": check.check_op("ok", p.ops[0].df.toPandas(),
                                     str(oracle_dir))}
    assert problems["ok"]
    assert run.count_failures([p], problems) == (2, 2)
