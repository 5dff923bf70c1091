"""Benchmark for centimators_spark: two seeded workloads, each pass
timed in a fresh process so that JVM start, session artifacts and
train-once caches are paid inside the run that uses them.

    python3 perfbench/run.py --workload panel_train --seed 1 --seconds 40 --trace 0

Workloads are defined in ``workloads.py``. With ``--trace 0`` the run
makes as many fresh-process passes as fit in ``--seconds`` (at least
one), then set-up-only processes (at least one), and reports the median
of each end-to-end metric. With ``--trace 1`` it makes one
untraced and one traced pass and reports the per-layer metrics of the
traced pass plus the tracing overhead; the spans and per-operation layer
figures go to ``.perfbench_work/trace-<workload>-<seed>.json`` for
``report.py``. Every output is checked after its pass; any failed
operation or crashed pass makes the command exit non-zero.

The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
RUN_LIMIT_S = 170.0  # a run, its set-up and every pass end within this
WORKLOADS = ("panel_train", "queries")
E2E_UNITS = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s", "peak_rss_mb": "MB"}


class PassFailed(RuntimeError):
    """A pass process crashed, timed out or wrote no result."""


def host_env() -> dict[str, str]:
    """Environment of a pass: local[nproc], a driver heap sized to the
    host (a quarter of RAM, 1–4 GB), the repo on the Python workers'
    path and every temporary directory inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY=f"{max(1, min(4, int(mem_gb // 4)))}g",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        TMPDIR=tmp,
    )
    return env


def _stop_group(pgid: int) -> None:
    """Kill whatever the pass left in its process group (the JVM and
    Python workers) and wait until it is gone."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.time() + 30.0
    while time.time() < deadline:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.02)


def run_pass(
    workload: str, data_dir: str, trace: bool, env: dict, timeout_s: float,
    repeat: int = 1,
) -> dict:
    """One pass in a fresh process (``repeat`` passes in the same one);
    returns its result record."""
    out = os.path.join(WORK, "pass.json")
    log = os.path.join(WORK, "pass.log")
    if os.path.exists(out):
        os.remove(out)
    with open(log, "w") as fh:
        cmd = [
            sys.executable, os.path.join(HERE, "child.py"),
            "--workload", workload, "--data", data_dir,
            "--trace", str(int(trace)), "--out", out, "--repeat", str(repeat), "--t0", repr(time.time()),
        ]
        proc = subprocess.Popen(
            cmd, stdout=fh, stderr=subprocess.STDOUT, env=env, cwd=WORK,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _stop_group(proc.pid)
            proc.wait()
            # a killed JVM leaves its block manager and temp files
            for d in ("spark-local", "tmp"):
                shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
            os.makedirs(env["TMPDIR"], exist_ok=True)
    if code != 0 or not os.path.exists(out):
        with open(log) as fh:
            tail = fh.read()[-3000:]
        why = "timed out" if code is None else f"exited with {code}"
        raise PassFailed(f"{workload} pass {why}\n{tail}")
    with open(out) as fh:
        return json.load(fh)


def timed_passes(
    workload: str, data_dir: str, env: dict, seconds: float, limit: float
) -> tuple[list[dict], list[float]]:
    """Fresh-process passes for ``seconds``: at least one, and another
    while one more fits. Then set-up-only processes: at least one, and
    another while one more fits, so ``setup_s`` is the median of at
    least two set-ups. No process runs past the time ``limit``.
    Returns the passes and every set-up time."""
    deadline = time.time() + seconds
    passes: list[dict] = []
    while True:
        t = time.time()
        passes.append(run_pass(workload, data_dir, False, env, limit - time.time()))
        if time.time() + (time.time() - t) > deadline:
            break
    setups = [p["setup_s"] for p in passes]
    while True:
        t = time.time()
        setups.append(run_pass("setup", data_dir, False, env, limit - time.time())["setup_s"])
        if time.time() + (time.time() - t) > deadline:
            break
    return passes, setups


def count_failures(passes: list[dict], n_ops: int) -> tuple[int, int, list[str]]:
    """(attempted, failed, reasons): every operation that raised or gave
    a wrong output, and every operation a pass did not report, fails."""
    attempted = failed = 0
    reasons = []
    for p in passes:
        attempted += n_ops
        bad = [r for r in p["ops"] if r["error"] is not None]
        failed += len(bad) + max(0, n_ops - len(p["ops"]))
        reasons += [f"{r['name']}: {r['error']}" for r in bad]
        if len(p["ops"]) < n_ops:
            reasons.append(f"pass reported {len(p['ops'])} of {n_ops} operations")
    return attempted, failed, reasons


def end_to_end(passes: list[dict]) -> dict:
    return {
        k: {"value": statistics.median(p[k] for p in passes), "unit": u}
        for k, u in E2E_UNITS.items()
    }


def per_layer(base: dict, traced: dict) -> dict:
    import tracing

    figures = tracing.run_layers(traced["trace"]["ops"], traced["cores"])
    figures["session.import_s"] = traced["import_s"]
    figures["session.start_s"] = traced["start_s"]
    figures["trace.overhead_s"] = traced["wall_s"] - base["wall_s"]
    return {
        k: {"value": figures.get(k, 0.0), "unit": tracing.metric_unit(k)}
        for k in tracing.LAYER_METRICS
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    limit = time.time() + RUN_LIMIT_S

    import workloads

    env = host_env()
    data_dir = os.path.join(WORK, f"{args.workload}-{args.seed}")
    shutil.rmtree(data_dir, ignore_errors=True)
    workloads.prepare(args.workload, args.seed, data_dir)
    n_ops = workloads.op_count(args.workload)
    try:
        if args.trace:
            passes = [
                run_pass(args.workload, data_dir, False, env, limit - time.time()),
                run_pass(args.workload, data_dir, True, env, limit - time.time()),
            ]
        else:
            passes, setups = timed_passes(args.workload, data_dir, env, args.seconds, limit)
    except PassFailed as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 2
    finally:
        shutil.rmtree(data_dir, ignore_errors=True)

    attempted, failed, reasons = count_failures(passes, n_ops)
    for r in reasons:
        print(f"perfbench: FAILED {r}", file=sys.stderr)
    if args.trace:
        metrics = per_layer(passes[0], passes[1])
        path = os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json")
        with open(path, "w") as fh:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "run": {k: v["value"] for k, v in metrics.items()},
                       **passes[1]["trace"]}, fh)
        print(f"perfbench: trace written to {os.path.relpath(path, ROOT)}")
    else:
        metrics = end_to_end(passes)
        metrics["setup_s"]["value"] = statistics.median(setups)
        print(f"perfbench {args.workload} seed={args.seed} passes={len(passes)} setups={len(setups)}")
        for k, v in metrics.items():
            print(f"  {k:<12} {v['value']:.4f} {v['unit']}")
        print(f"  {'failed_frac':<12} {failed / attempted:.4f} ratio")
        for r in passes[0]["ops"]:
            print(f"    {r['name']:<32} {r['s']:.3f} s")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": metrics,
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
