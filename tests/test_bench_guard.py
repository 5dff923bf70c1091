"""The bench suite's host-load guard (r11 verdict item 3): outlier
selection, trailing-min history, and re-run chunk planning — pure
functions, no Spark session. A synthetic loaded-host reading
(panel_features 5 s → 49 s, the BENCH_r11 incident) must be selected
for re-run; noise-band flutter must not. A run that loses queries to
a crashed chunk must fail instead of reporting a smaller total."""

import json
import sys

import pytest

import bench


def test_pick_outliers_selects_loaded_host_reading():
    trailing = {"panel_features": 5.0, "session_ids": 0.35, "q1": 1.0}
    timings = {
        "panel_features": 49.0,  # the r11 incident: 9.8x trailing
        "session_ids": 1.2,  # 3.4x but only +0.85s — re-run (abs > 0.5)
        "q1": 1.4,  # 1.4x — fine
        "brand_new": 99.0,  # no history — never an outlier
    }
    out = set(bench.pick_outliers(timings, trailing))
    assert out == {"panel_features", "session_ids"}


def test_pick_outliers_catches_chunk_degradation_band():
    # the r12 live run's class: whole-chunk JVM degradation putting
    # queries at 2.4-2.8x trailing — must be re-run under factor 2.0
    trailing = {"kcore_dupgraph": 3.53, "naive_bayes": 1.63}
    timings = {"kcore_dupgraph": 9.79, "naive_bayes": 3.90}
    assert set(bench.pick_outliers(timings, trailing)) == set(timings)


def test_pick_outliers_ignores_subhalfsecond_flutter():
    # 4x trailing but the delta is 0.3 s — the documented noise band,
    # never worth a fresh JVM
    trailing = {"tiny": 0.1}
    assert bench.pick_outliers({"tiny": 0.4}, trailing) == []


def test_load_trailing_min_reads_history_then_detail(tmp_path, monkeypatch):
    monkeypatch.setattr(
        bench, "_repo_file", lambda name: str(tmp_path / name)
    )
    # no files at all -> empty
    assert bench.load_trailing_min() == {}
    # seed path: BENCH_DETAIL.json only
    (tmp_path / "BENCH_DETAIL.json").write_text(
        json.dumps({"queries": {"a": 2.0, "b": 1.0}})
    )
    assert bench.load_trailing_min() == {"a": 2.0, "b": 1.0}
    # history file takes over and the min spans its last HISTORY_RUNS
    lines = [{"queries": {"a": 9.0}}] + [
        {"queries": {"a": 3.0 + i, "b": 0.5}} for i in range(bench.HISTORY_RUNS)
    ]
    (tmp_path / "BENCH_HISTORY.jsonl").write_text(
        "\n".join(json.dumps(r) for r in lines) + "\n"
    )
    mins = bench.load_trailing_min()
    assert mins == {"a": 3.0, "b": 0.5}  # the 9.0 run aged out


def test_load_trailing_min_filters_by_sf(tmp_path, monkeypatch):
    """r12 advice item 1: a sf0.001 smoke run recorded into history
    must not poison the sf0.1 trailing-min (it would flag nearly every
    sf0.1 query as an outlier on the next suite)."""
    monkeypatch.setattr(
        bench, "_repo_file", lambda name: str(tmp_path / name)
    )
    lines = [
        {"sf": 0.1, "queries": {"a": 4.0, "b": 2.0}},
        {"sf": 0.001, "queries": {"a": 0.05, "b": 0.04}},  # smoke run
        {"sf": 0.1, "queries": {"a": 3.5}},
    ]
    (tmp_path / "BENCH_HISTORY.jsonl").write_text(
        "\n".join(json.dumps(r) for r in lines) + "\n"
    )
    assert bench.load_trailing_min(sf=0.1) == {"a": 3.5, "b": 2.0}
    assert bench.load_trailing_min(sf=0.001) == {"a": 0.05, "b": 0.04}
    # unfiltered keeps the old pooled behavior
    assert bench.load_trailing_min() == {"a": 0.05, "b": 0.04}
    # pre-sf-field rows are skipped under filtering
    (tmp_path / "BENCH_HISTORY.jsonl").write_text(
        json.dumps({"queries": {"a": 1.0}}) + "\n"
    )
    assert bench.load_trailing_min(sf=0.1) == {}
    # seed path (BENCH_DETAIL.json) honors the filter too
    (tmp_path / "BENCH_HISTORY.jsonl").unlink()
    (tmp_path / "BENCH_DETAIL.json").write_text(
        json.dumps({"sf": 0.001, "queries": {"a": 0.05}})
    )
    assert bench.load_trailing_min(sf=0.1) == {}
    assert bench.load_trailing_min(sf=0.001) == {"a": 0.05}


def test_plan_rerun_chunks_caps_and_isolates(monkeypatch):
    """r12 advice item 2: the re-run pass must respect both the CHUNK
    cap and the ISOLATED_CHUNK placement — a large outlier set must
    not re-run resampling queries in the same JVM as sketch queries."""
    monkeypatch.setattr(bench, "CHUNK", 4)
    outliers = [f"q{i}" for i in range(6)] + [
        "bootstrap_signed",
        "sign_permutation",
        "pca_kernel_contract",
    ]
    chunks = bench.plan_rerun_chunks(outliers)
    # resampling members re-run in their OWN final chunk, alone
    assert chunks[-1] == ["bootstrap_signed", "sign_permutation"]
    iso = set(bench.ISOLATED_CHUNK)
    for c in chunks[:-1]:
        assert not (set(c) & iso)
        assert len(c) <= 4
    # every outlier is covered exactly once across the plan
    flat = [n for c in chunks for n in c]
    assert sorted(flat) == sorted(outliers)


def test_isolated_chunk_names_are_declared_queries():
    """The resampling-family isolation list must stay in sync with
    queries() — a rename would silently drop the placement."""
    import __spark_entry__ as entrymod

    q = set(entrymod.queries())
    missing = [n for n in bench.ISOLATED_CHUNK if n not in q]
    assert missing == [], missing


def test_main_fails_loudly_on_lost_chunk(tmp_path, monkeypatch, capsys):
    """A chunk whose child process crashes loses its queries: main
    still prints both JSON lines, names the lost queries under
    "missing", and exits non-zero instead of reporting a smaller
    total. History and detail files land in tmp_path, never in the
    checkout."""
    import subprocess

    import __spark_entry__ as entrymod

    monkeypatch.setattr(
        bench, "_repo_file", lambda name: str(tmp_path / name)
    )
    monkeypatch.setattr(sys, "argv", ["bench.py"])
    crashed: list[str] = []

    def fake_run(cmd, **kwargs):
        names = cmd[cmd.index("--chunk-names") + 1].split(",")
        if not crashed:  # the first chunk dies without a result line
            crashed.extend(names)
            return subprocess.CompletedProcess(cmd, 1, "", "Traceback ...")
        line = bench._CHILD_MARK + json.dumps({n: 0.1 for n in names})
        return subprocess.CompletedProcess(cmd, 0, line + "\n", "")

    monkeypatch.setattr(bench.subprocess, "run", fake_run)
    with pytest.raises(SystemExit) as exc:
        bench.main()
    assert exc.value.code not in (None, 0)
    lines = capsys.readouterr().out.strip().splitlines()
    full, last = json.loads(lines[-2]), json.loads(lines[-1])
    n_all = len(entrymod.queries())
    assert crashed and full["missing"] == crashed == last["missing"]
    assert full["n_queries"] == n_all - len(crashed)
    assert json.loads((tmp_path / "BENCH_DETAIL.json").read_text()) == full


def test_prepass_failure_is_reported(spark, tmp_path, monkeypatch, capsys):
    """A query whose untimed pre-pass raises is still timed, and its
    name reaches both JSON lines under "prepass_failed" instead of
    being swallowed. The registry holds two trivial queries; the
    chunk child runs in-process through the real run_queries."""
    import subprocess

    import __spark_entry__ as entrymod

    calls = {"flaky": 0}

    def flaky(spark_, sf_dir):
        calls["flaky"] += 1
        if calls["flaky"] == 1:  # the pre-pass is the first build
            raise RuntimeError("pre-pass only")
        return spark_.range(2)

    registry = {"ok": lambda spark_, sf_dir: spark_.range(3), "flaky": flaky}
    monkeypatch.setattr(entrymod, "queries", lambda: registry)
    monkeypatch.setattr(
        bench, "_repo_file", lambda name: str(tmp_path / name)
    )
    monkeypatch.setattr(sys, "argv", ["bench.py"])

    def fake_run(cmd, **kwargs):
        names = cmd[cmd.index("--chunk-names") + 1].split(",")
        timings, failed = bench.run_queries(names)
        out = (
            bench._PREPASS_MARK + json.dumps(failed) + "\n"
            + bench._CHILD_MARK + json.dumps(timings) + "\n"
        )
        return subprocess.CompletedProcess(cmd, 0, out, "")

    monkeypatch.setattr(bench.subprocess, "run", fake_run)
    bench.main()
    lines = capsys.readouterr().out.strip().splitlines()
    full, last = json.loads(lines[-2]), json.loads(lines[-1])
    assert sorted(full["queries"]) == ["flaky", "ok"]
    assert full["missing"] == [] == last["missing"]
    assert full["prepass_failed"] == ["flaky"] == last["prepass_failed"]
