"""Layer report: reads traced runs and prints the per-layer table per
workload, then ranks every operation by its dominant layer.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 40 --trace 1
    python3 perfbench/report.py                  # every trace in .perfbench_work/
    python3 perfbench/report.py path/to/trace.json ...
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys

import tracing
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(os.path.dirname(HERE), ".perfbench_work")


def op_time(layers: dict[str, float]) -> float:
    return layers["entry.build_s"] + layers["plan.s"] + layers["exec.s"]


def layer_table(traces: list[dict]) -> list[str]:
    """One row per per-layer metric, one column per traced run, then the
    end-to-end metric it should move and on which workload."""
    heads = [f"{t['workload']}/{t['seed']}" for t in traces]
    width = max([14, *map(len, heads)])
    lines = [
        f"{'metric':<22} {'unit':<6} " + " ".join(f"{h:>{width}}" for h in heads)
        + "  should move (on / not on)"
    ]
    for name in tracing.LAYER_METRICS:
        vals = " ".join(f"{t['run'].get(name, 0.0):>{width}.4g}" for t in traces)
        moves, on, off = tracing.should_move(name)
        lines.append(f"{name:<22} {tracing.metric_unit(name):<6} {vals}  {moves} ({on} / {off})")
    return lines


def ranking(traces: list[dict]) -> list[str]:
    """Operations, slowest first, with the layer they spend most in."""
    rows = [
        (op_time(layers), t["workload"], op, tracing.dominant_layer(layers), layers)
        for t in traces
        for op, layers in t["ops"].items()
    ]
    rows.sort(key=lambda r: -r[0])
    lines = [
        f"{'operation':<28} {'workload':<12} {'group':<7} {'s':>7} {'dominant':<12} "
        f"{'build':>6} {'self':>6} {'pin':>6} {'schema':>6} {'plan':>6} {'exec':>6} {'jobs':>5}"
    ]
    for s, workload, op, dom, lay in rows:
        lines.append(
            f"{op:<28} {workload:<12} {workloads.query_group(op):<7} {s:7.3f} {dom:<12} "
            f"{lay['entry.build_s']:6.2f} {lay['entry.build_self_s']:6.2f} {lay['pin.s']:6.2f} "
            f"{lay['io.schema_s']:6.2f} {lay['plan.s']:6.2f} {lay['exec.s']:6.2f} "
            f"{int(lay['entry.build_jobs'] + lay['exec.jobs']):5d}"
        )
    return lines


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("traces", nargs="*", help="trace files written by run.py --trace 1")
    args = ap.parse_args(argv)
    paths = args.traces or sorted(glob.glob(os.path.join(WORK, "trace-*.json")))
    if not paths:
        print("report: no traces; run run.py with --trace 1 first", file=sys.stderr)
        return 1
    traces = []
    for path in paths:
        with open(path) as fh:
            traces.append(json.load(fh))
    print("\n".join(layer_table(traces)))
    print()
    print("\n".join(ranking(traces)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
