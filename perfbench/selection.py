"""Re-derive the query selections of ``workloads.py`` from one traced
pass over every query of ``__spark_entry__.queries()``.

    python3 perfbench/selection.py --seed 0

Writes each query's time, construction jobs and plan shape to
``.perfbench_work/select-<seed>.json`` and prints the queries that meet
each rule:

* pinned: construction is at least half of the query's time and fires
  at least 4 jobs;
* lazy: construction fires only parquet schema jobs, the executed plan
  has no Python node and no ``Scan ExistingRDD``, and the query takes
  under 1.5 s.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import run
import workloads


def is_pinned(s: float, layers: dict) -> bool:
    return layers["entry.build_s"] >= 0.5 * s and layers["entry.build_jobs"] >= 4


def is_lazy(s: float, layers: dict) -> bool:
    return (
        layers["entry.build_jobs"] == layers["io.schema_jobs"]
        and layers["plan.python_nodes"] == 0
        and layers["plan.opaque_scans"] == 0
        and s < 1.5
    )


def classify(result: dict) -> list[dict]:
    """One row per query of a traced catalog pass, with the rules it meets."""
    sys.path.insert(0, run.ROOT)
    import __spark_entry__ as entry

    module = {n: f.__module__ for n, f in entry.queries().items()}
    rows = []
    for op in result["ops"]:
        layers = result["trace"]["ops"].get(op["name"], {})
        ok = op["error"] is None and bool(layers)
        rows.append({
            "name": op["name"], "module": module[op["name"]], "s": op["s"],
            "error": op["error"], "layers": layers,
            "pinned": ok and is_pinned(op["s"], layers),
            "lazy": ok and is_lazy(op["s"], layers),
        })
    return rows


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=0)
    args = ap.parse_args(argv)

    data_dir = os.path.join(run.WORK, f"catalog-{args.seed}")
    shutil.rmtree(data_dir, ignore_errors=True)
    workloads.prepare("catalog", args.seed, data_dir)
    try:
        result = run.run_pass("catalog", data_dir, True, run.host_env(), timeout_s=3600.0)
    finally:
        shutil.rmtree(data_dir, ignore_errors=True)
    rows = classify(result)
    path = os.path.join(run.WORK, f"select-{args.seed}.json")
    with open(path, "w") as fh:
        json.dump(rows, fh)
    for kind in ("pinned", "lazy"):
        sel = [r for r in rows if r[kind]]
        print(f"{kind}: {len(sel)} queries")
        for r in sel:
            print(f"  {r['name']:<40} {r['s']:6.2f} s  {r['module']}")
    for r in rows:
        if r["error"]:
            print(f"FAILED {r['name']}: {r['error']}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
