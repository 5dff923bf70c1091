"""Per-query profiler for the optimization rounds (guide §1).

For each named query, in ONE session:
  - t_build   : python-side DataFrame construction (fn call)
  - t_plan    : analysis+optimization to executedPlan (driver-side)
  - t_exec    : noop-sink execution (warm; min of N runs)
  - jobs      : Spark jobs launched by one execution
  - stages    : stages launched by one execution
  - shuffles  : Exchange nodes in the executed plan
  - scans     : FileScan/Scan parquet nodes in the executed plan
Optionally writes `plans/<tag>/<name>_<suffix>.txt` with the
explain("formatted") output.

Usage:
  python tools/profile_query.py q1,q2,... [--sf DIR] [--plans TAG:SUFFIX]
  python tools/profile_query.py --top N   (slowest N from BENCH_DETAIL)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    args = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    plans_dir = None
    suffix = "before"
    reps = 2
    if "--sf" in args:
        i = args.index("--sf")
        sf_dir = args[i + 1]
        del args[i : i + 2]
    if "--plans" in args:
        i = args.index("--plans")
        tag = args[i + 1]
        if ":" in tag:
            tag, suffix = tag.split(":", 1)
        plans_dir = os.path.join(REPO, "plans", tag)
        os.makedirs(plans_dir, exist_ok=True)
        del args[i : i + 2]
    if "--reps" in args:
        i = args.index("--reps")
        reps = int(args[i + 1])
        del args[i : i + 2]
    if "--top" in args:
        i = args.index("--top")
        n = int(args[i + 1])
        detail = json.load(open(os.path.join(REPO, "BENCH_DETAIL.json")))
        names = [
            k
            for k, _ in sorted(
                detail["queries"].items(), key=lambda kv: -kv[1]
            )[:n]
        ]
    else:
        names = args[0].split(",")

    from centimators_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    registry = entrymod.queries()
    try:
        registry.update(entrymod.staged_queries())
    except AttributeError:
        pass
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    out = {}
    for name in names:
        fn = registry[name]
        sc.setJobDescription(f"profile:{name}")
        # warm pass (JIT, file listing) — not timed
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001
            out[name] = {"error": str(e)[:200]}
            continue
        spark.catalog.clearCache()

        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t_build = time.perf_counter() - t0

        t0 = time.perf_counter()
        plan_str = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        t_plan = time.perf_counter() - t0

        jobs_before = set(tracker.getJobIdsForGroup(None) or [])
        t_execs = []
        for _ in range(reps):
            t0 = time.perf_counter()
            df2 = fn(spark, sf_dir)
            df2.write.format("noop").mode("overwrite").save()
            t_execs.append(time.perf_counter() - t0)
        jobs_after = set(tracker.getJobIdsForGroup(None) or [])
        new_jobs = sorted(jobs_after - jobs_before)
        # jobs for ONE run = total new / reps (integer-ish)
        n_jobs = len(new_jobs) / reps
        n_stages = 0
        for j in new_jobs:
            ji = tracker.getJobInfo(j)
            if ji is not None:
                n_stages += len(ji.stageIds)
        n_stages = n_stages / reps

        shuffles = plan_str.count("Exchange")
        scans = plan_str.count("Scan parquet")
        rec = {
            "t_build": round(t_build, 3),
            "t_plan": round(t_plan, 3),
            "t_exec_min": round(min(t_execs), 3),
            "t_execs": [round(t, 3) for t in t_execs],
            "jobs": n_jobs,
            "stages": n_stages,
            "exchanges": shuffles,
            "scans": scans,
        }
        out[name] = rec
        print(json.dumps({name: rec}), flush=True)
        if plans_dir is not None:
            with open(
                os.path.join(plans_dir, f"{name}_{suffix}.txt"), "w"
            ) as fh:
                fh.write(plan_str)
        spark.catalog.clearCache()
        sc._jvm.System.gc()

    print("##PROFILE## " + json.dumps(out))


if __name__ == "__main__":
    main()
