"""Tests of the benchmark itself: seeded inputs, the job → layer
classifier, and failure accounting. None of them start Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
import time

import pandas as pd
import pytest

import child
import gen
import run
import tracing
import workloads

# job names as Spark's status store records them for this package
SCHEMA_JOB = "parquet at NativeMethodAccessorImpl.java:0"
PIN_JOB = "localCheckpoint at NativeMethodAccessorImpl.java:0"
# the same calls as the traced pass names them after the package line
NAMED_PIN_JOB = "localCheckpoint at /src/centimators_spark/text/dsir.py:96"
NAMED_SCHEMA_JOB = "parquet at /src/centimators_spark/io.py:38"
SAVE_JOB = "save at NativeMethodAccessorImpl.java:0"
MMR_JOB = "collect at /src/centimators_spark/similarity/mmr.py:91"
PLANS_JOB = "count at /src/centimators_spark/plans/datapipe_queries.py:312"
ENTRY_JOB = "collect at /src/__spark_entry__.py:1210"
USER_JOB = "toPandas at /src/perfbench/child.py:39"
AQE_JOB = "$anonfun$withThreadLocalCaptured$1 at CompletableFuture.java:1768"


def test_panel_is_a_function_of_the_seed():
    a = gen.make_panel(7, 12, 30, 4)
    pd.testing.assert_frame_equal(a, gen.make_panel(7, 12, 30, 4))
    assert not a.equals(gen.make_panel(8, 12, 30, 4))
    assert len(a) == 12 * 30
    assert not a[["era", "ticker"]].duplicated().any()
    # shuffled: rows are not stored in (era, ticker) order
    assert not a["era"].is_monotonic_increasing


def test_contract_tables_are_a_function_of_the_seed():
    a, b = gen.table_frames(3, 0.001), gen.table_frames(3, 0.001)
    assert set(a) == set(check_tables()) == set(b)
    for name in a:
        x, y = a[name], b[name]
        if not isinstance(x, pd.DataFrame):
            x, y = x.to_pandas(), y.to_pandas()
            x["embedding"] = x["embedding"].map(list)
            y["embedding"] = y["embedding"].map(list)
        pd.testing.assert_frame_equal(x, y)


def check_tables():
    import check

    return check.TABLES


@pytest.mark.parametrize(
    "name, phase, layer",
    [
        (SCHEMA_JOB, "build", "io.schema"),
        (PIN_JOB, "build", "pin"),
        (NAMED_PIN_JOB, "build", "pin"),
        (NAMED_SCHEMA_JOB, "build", "io.schema"),
        (SAVE_JOB, "build", "io.write"),
        (MMR_JOB, "build", "build"),
        (USER_JOB, "exec", "exec"),
        # a written sink's jobs run the whole pipeline: execution
        (SAVE_JOB, "exec", "exec"),
        (SCHEMA_JOB, "exec", "exec"),
        (AQE_JOB, "exec", "exec"),
    ],
)
def test_job_layer(name, phase, layer):
    assert tracing.job_layer(name, phase) == layer


def test_write_time_is_the_commit_not_the_pipeline():
    layers = tracing.op_layers(
        [{"name": "exec", "start": 0.0, "end": 4.0}], [], {}, {},
        {"io.write_s": 0.25},
    )
    assert layers["io.write_s"] == 0.25 and layers["exec.s"] == 4.0
    assert tracing.dominant_layer(layers) == "execution"


@pytest.mark.parametrize(
    "name, module",
    [
        (MMR_JOB, "similarity"),
        (PLANS_JOB, "plans"),
        (ENTRY_JOB, "other"),
        (USER_JOB, None),
        (SCHEMA_JOB, None),
        (PIN_JOB, None),
        (NAMED_PIN_JOB, "text"),
        (NAMED_SCHEMA_JOB, "other"),
    ],
)
def test_job_module(name, module):
    assert tracing.job_module(name) == module


def test_call_site_is_the_innermost_package_frame():
    here = os.path.dirname(os.path.abspath(__file__)) + os.sep
    frame = sys._getframe()
    assert tracing.package_frame(frame, here, here + "nothing" + os.sep) is frame
    # frames of the benchmark itself are skipped
    assert tracing.package_frame(frame, here, here) is None


def test_anonymous_aqe_jobs():
    assert tracing.is_anonymous(AQE_JOB)
    assert not tracing.is_anonymous(MMR_JOB)


def test_plan_shape():
    plan = "\n".join([
        "AdaptiveSparkPlan isFinalPlan=false",
        "+- Project [a#1]",
        "   +- BroadcastHashJoin [a#1], [b#2], Inner, BuildRight",
        "      :- Exchange hashpartitioning(a#1, 8), ENSURE_REQUIREMENTS, [plan_id=5]",
        "      :  +- FlatMapGroupsInPandas [a#1], f(a#1)",
        "      :     +- Scan ExistingRDD[a#1]",
        "      +- BroadcastExchange HashedRelationBroadcastMode, [plan_id=7]",
        "         +- *(1) FileScan parquet [b#2]",
    ])
    assert tracing.plan_shape(plan) == {
        "plan.exchanges": 2, "plan.python_nodes": 1, "plan.opaque_scans": 1,
    }


@pytest.mark.parametrize(
    "text, kind, value",
    [
        ("1,024", "count", 1024.0),
        ("20 ms", "time", 0.02),
        ("1.5 s", "time", 1.5),
        ("8.0 KiB", "size", 8192.0),
        ("total (min, med, max (stageId: taskId))\n2.0 s (0 ms, 1.0 s, 1.0 s (stage 1.0: task 3))",
         "time", 2.0),
    ],
)
def test_parse_metric(text, kind, value):
    assert tracing.parse_metric(text, kind) == pytest.approx(value)


def test_union_seconds_counts_overlap_once():
    assert tracing.union_seconds([(0, 2), (1, 3), (5, 6), (9, 20)], 0, 10) == 5


class _Frame:
    def __init__(self, rows):
        self.rows = rows

    def toPandas(self):
        return pd.DataFrame({"x": range(self.rows)})


def _boom():
    raise RuntimeError("deliberate failure")


def _ops():
    ok = lambda out: None if len(out) == 3 else "wrong rows"  # noqa: E731
    return [
        workloads.Op("good", lambda: _Frame(3), "collect", ok),
        workloads.Op("raises", _boom, "collect", ok),
        workloads.Op("wrong", lambda: _Frame(2), "collect", ok),
    ]


def test_failing_operations_are_recorded():
    ops = _ops()
    results, outputs = child.run_ops(ops)
    child.check_ops(ops, results, outputs)
    errors = {r["name"]: r["error"] for r in results}
    assert errors["good"] is None
    assert errors["raises"] == "RuntimeError: deliberate failure"
    assert errors["wrong"] == "wrong output: wrong rows"


def _fake_pass(results):
    return {
        "setup_s": 10.0, "import_s": 1.0, "start_s": 9.0, "wall_s": 2.0,
        "op_p50_s": 0.5, "peak_rss_mb": 900.0, "ops": results, "cores": 4,
    }


def _patch_run(monkeypatch, tmp_path, make_pass):
    monkeypatch.setattr(run, "WORK", str(tmp_path))
    monkeypatch.setattr(workloads, "prepare", lambda *a: None)
    monkeypatch.setattr(workloads, "op_count", lambda w: 3)

    def timed_pass(*a, **k):
        time.sleep(0.001)  # every process takes some time
        return make_pass(*a, **k)

    monkeypatch.setattr(run, "run_pass", timed_pass)


def test_failed_operation_fails_the_command(monkeypatch, tmp_path, capsys):
    ops = _ops()
    results, outputs = child.run_ops(ops)
    child.check_ops(ops, results, outputs)
    _patch_run(monkeypatch, tmp_path, lambda *a, **k: _fake_pass(results))
    code = run.main(["--workload", "queries", "--seed", "1", "--seconds", "0"])
    last = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert code != 0
    assert last["correct"] is False
    assert (last["attempted"], last["failed"]) == (3, 2)


def test_short_pass_counts_missing_operations(monkeypatch, tmp_path, capsys):
    results = [{"name": "good", "s": 0.1, "error": None}]
    _patch_run(monkeypatch, tmp_path, lambda *a, **k: _fake_pass(results))
    code = run.main(["--workload", "queries", "--seed", "1", "--seconds", "0"])
    last = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert code != 0
    assert (last["attempted"], last["failed"]) == (3, 2)


def test_crashed_pass_fails_without_a_result(monkeypatch, tmp_path, capsys):
    def crash(*a, **k):
        raise run.PassFailed("queries pass exited with 1")

    _patch_run(monkeypatch, tmp_path, crash)
    code = run.main(["--workload", "queries", "--seed", "1", "--seconds", "0"])
    assert code != 0
    assert "correct" not in capsys.readouterr().out


def test_clean_pass_reports_every_end_to_end_metric(monkeypatch, tmp_path, capsys):
    results = [{"name": n, "s": 0.1, "error": None} for n in ("a", "b", "c")]
    _patch_run(monkeypatch, tmp_path, lambda *a, **k: _fake_pass(results))
    code = run.main(["--workload", "queries", "--seed", "1", "--seconds", "0"])
    last = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert code == 0
    assert last["correct"] is True
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        names = {m["name"] for m in json.load(fh)["end_to_end"]}
    assert set(last["metrics"]) == names


def test_benchmark_json_lists_every_layer_metric():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        per_layer = json.load(fh)["per_layer"]
    assert [m["name"] for m in per_layer] == list(tracing.LAYER_METRICS)
    for m in per_layer:
        assert m["unit"] == tracing.metric_unit(m["name"])
        assert m["better"] == tracing.metric_better(m["name"])


def test_every_layer_metric_says_what_it_should_move():
    e2e = set(run.E2E_UNITS) | {"-"}
    places = set(run.WORKLOADS) | {"all", "-"}
    for name in tracing.LAYER_METRICS:
        moves, on, off = tracing.should_move(name)
        assert set(moves.split()) <= e2e, name
        for where in on.split() + off.split():
            workload, _, group = where.partition(":")
            assert workload in places and group in ("", "pinned", "lazy"), name
