"""One benchmark pass in a fresh process.

Started by ``run.py`` with the process start time; times set-up (imports,
``get_spark``, one trivial Python-worker job), then one pass over the
workload's operations, then checks every output outside the timed
window. With ``--trace 1`` the pass is tagged and the status stores are
read after it. The result is written as JSON to ``--out``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import statistics
import sys
import time
from typing import NoReturn


def _identity(batches):
    yield from batches


def _vm_hwm_mb(pid: int) -> float:
    """Peak resident set of a process, from /proc."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _finish(out: str, result: dict) -> NoReturn:
    """Write the result and leave at once: ``run.py`` kills the JVM and
    the Python workers, so no pass pays for an orderly shutdown."""
    with open(out, "w") as fh:
        json.dump(result, fh)
    sys.stdout.flush()
    os._exit(0)


def _sink(op, df):
    if op.sink == "write":
        df.write.mode("overwrite").parquet(op.path)
        return op.path
    return df.toPandas()


def _run_op(op, tracer):
    if tracer is None:
        return _sink(op, op.build())
    with tracer.span("op", op.name, op.name):
        with tracer.phase(op.name, "build"):
            df = op.build()
        tracer.force_plan(op.name, df)
        with tracer.phase(op.name, "exec"):
            return _sink(op, df)


def run_ops(ops, tracer=None) -> tuple[list[dict], dict]:
    """Run every operation once, in order; an operation that raises is
    recorded with its error and the pass goes on."""
    results, outputs = [], {}
    for op in ops:
        t = time.perf_counter()
        try:
            outputs[op.name] = _run_op(op, tracer)
            error = None
        except Exception as exc:  # noqa: BLE001 — counted as a failed operation
            error = f"{type(exc).__name__}: {str(exc)[:300]}"
        results.append({"name": op.name, "s": time.perf_counter() - t, "error": error})
    return results, outputs


def check_ops(ops, results: list[dict], outputs: dict) -> None:
    """Check each output that was produced; a wrong output, or a check
    that cannot run, marks the operation failed."""
    for op, res in zip(ops, results):
        if res["error"] is not None:
            continue
        try:
            reason = op.check(outputs[op.name])
        except Exception as exc:  # noqa: BLE001 — a check that cannot run fails the op
            reason = f"check raised {type(exc).__name__}: {exc}"
        if reason:
            res["error"] = f"wrong output: {reason}"


def main(argv: list[str]) -> NoReturn:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    ap.add_argument("--repeat", type=int, default=1)
    args = ap.parse_args(argv)

    import __spark_entry__  # noqa: F401 — part of the measured import
    import centimators_spark  # noqa: F401
    from centimators_spark.session import get_spark

    import tracing
    import workloads

    import_s = time.time() - args.t0
    tmp = os.environ["TMPDIR"]
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            # keep every job, stage and SQL execution of a pass in the
            # status stores the traced run reads
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1, numPartitions=1).mapInPandas(_identity, "id long").count()
    setup_s = time.time() - args.t0
    if args.workload == "setup":
        _finish(args.out, {"setup_s": setup_s})
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()

    ops = workloads.make_ops(args.workload, spark, args.data)
    tracer = tracing.Tracer(spark) if args.trace else None
    start = time.perf_counter()
    with tracer.span("run", args.workload) if tracer else contextlib.nullcontext():
        results, outputs = run_ops(ops, tracer)
    wall_s = time.perf_counter() - start
    peak_mb = _vm_hwm_mb(jvm_pid) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    check_ops(ops, results, outputs)

    result = {
        "setup_s": setup_s,
        "import_s": import_s,
        "start_s": setup_s - import_s,
        "wall_s": wall_s,
        "op_p50_s": statistics.median(r["s"] for r in results) if results else 0.0,
        "peak_rss_mb": peak_mb,
        "ops": results,
        "cores": spark.sparkContext.defaultParallelism,
    }
    if tracer is not None:
        result["trace"] = tracer.collect()
    # further passes in the same process, after the checks: they show
    # what session artifacts and caches the first pass paid for
    result["pass_walls"] = [wall_s]
    for _ in range(args.repeat - 1):
        start = time.perf_counter()
        run_ops(ops)
        result["pass_walls"].append(time.perf_counter() - start)
    _finish(args.out, result)


if __name__ == "__main__":
    main(sys.argv[1:])
