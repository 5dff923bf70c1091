"""Run the pinned queries twice in one fresh process and compare the
two passes with the benchmark's own ``wall_s``.

    python3 perfbench/twice.py --seed 1

The benchmark times one pass per process, so session artifacts
(``_shared_df_artifact`` pins) and process-level caches are built
inside the timed pass. A second pass in the same process reuses them
and reads faster; the first pass is what ``wall_s`` reports.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

import run
import workloads


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)

    env = run.host_env()
    data_dir = os.path.join(run.WORK, f"twice-{args.seed}")
    shutil.rmtree(data_dir, ignore_errors=True)
    workloads.prepare("pinned", args.seed, data_dir)
    try:
        single = run.run_pass("pinned", data_dir, False, env, run.RUN_LIMIT_S)
        double = run.run_pass("pinned", data_dir, False, env, run.RUN_LIMIT_S, repeat=2)
    except run.PassFailed as exc:
        print(f"twice: {exc}", file=sys.stderr)
        return 2
    finally:
        shutil.rmtree(data_dir, ignore_errors=True)
    first, second = double["pass_walls"]
    print(f"pinned queries seed={args.seed}")
    print(f"  benchmark wall_s (one pass per process) {single['wall_s']:8.3f} s")
    print(f"  first pass of two in one process        {first:8.3f} s")
    print(f"  second pass of two in one process       {second:8.3f} s")
    print(f"  second / first                          {second / first:8.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
