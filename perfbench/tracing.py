"""Traced-run support: job-group tagging, status-store reads, the
job-name → layer classifier, plan-shape counts and the per-layer
metric roll-up.

Everything here reads Spark from the outside: operations are tagged
with ``setJobGroup("<op>|<phase>")``, and after the pass the job list
comes from ``sc._jsc.sc().statusStore()`` and the SQL node metrics from
``spark._jsparkSession.sharedState().statusStore()`` (both are kept
with ``spark.ui.enabled=false``). In the traced process a few PySpark
DataFrame calls are wrapped to name their jobs after the package line
that made them (``call_sites``); nothing inside the package changes.
"""

from __future__ import annotations

import functools
import os
import re
import sys
import threading
import time
from contextlib import contextmanager

# driver jobs are attributed to the package module their call site names;
# ``other`` is the rest of the package (io, multimodal, the query registry)
MODULES = (
    "dedup", "similarity", "text", "ml", "graphs", "sketches", "operators",
    "plans", "other",
)
_CALL_SITE = re.compile(r" at (\S+\.py):\d+$")
_ANON = re.compile(r"^\$anonfun\$|CompletableFuture")
_NODE = re.compile(r"^[\s:|+\-]*(?:\*\(\d+\)\s*)?([A-Za-z]\w*)(.*)$")
PYTHON_NODE = re.compile(r"Python|InPandas|InArrow")
# SQL node metric name → per-layer metric; units say how to parse it
SQL_METRICS = {
    "scan time": ("io.scan_s", "time"),
    "number of files read": ("io.files_read", "count"),
    "written output": ("io.bytes_written", "size"),
    # a write's own time: the pipeline feeding it runs in the same tasks
    # and stays under exec.*
    "task commit time": ("io.write_s", "time"),
    "job commit time": ("io.write_s", "time"),
    "duration": ("codegen.s", "time"),
    "time to start Python workers": ("python.start_s", "time"),
    "time to initialize Python workers": ("python.init_s", "time"),
    "time to run Python workers": ("python.run_s", "time"),
    "data sent to Python workers": ("python.bytes_in", "size"),
    "data returned from Python workers": ("python.bytes_out", "size"),
}
# every per-layer metric a traced run reports, in report order
LAYER_METRICS = (
    "entry.build_s", "entry.build_jobs", "entry.build_self_s",
    "pin.jobs", "pin.s", "plan.opaque_scans",
    *(f"{kind}.{m}" for m in MODULES for kind in ("jobs", "jobs_s")),
    "io.schema_jobs", "io.schema_s", "io.scan_s", "io.files_read", "io.write_s",
    "io.bytes_written",
    "plan.s", "plan.exchanges", "plan.python_nodes",
    "exec.s", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_s", "exec.core_util",
    "exec.serial_stages", "exec.gc_s", "codegen.s",
    "shuffle.bytes_written", "shuffle.write_s", "shuffle.fetch_wait_s", "spill.bytes",
    "python.start_s", "python.init_s", "python.run_s", "python.bytes_in", "python.bytes_out",
    "session.import_s", "session.start_s", "trace.overhead_s",
)
# which end-to-end metric each layer's metrics should move, on which
# workload, and the workload that bypasses the layer (no move
# predicted); ``queries:pinned`` / ``queries:lazy`` name the pinned and
# lazy operations of the ``queries`` workload
SHOULD_MOVE = (
    # (metric prefixes, end-to-end metrics, moved on, not moved on)
    (("entry.",), "wall_s op_p50_s", "queries:pinned", "queries:lazy"),
    (("pin.", "plan.opaque_scans"), "wall_s", "queries:pinned", "panel_train"),
    (("jobs.", "jobs_s."), "wall_s", "queries:pinned", "queries:lazy"),
    (("io.schema_",), "op_p50_s wall_s", "queries:lazy", "panel_train"),
    (("io.scan_s", "io.files_read"), "op_p50_s wall_s", "queries:lazy", "queries:pinned"),
    (("io.write_s", "io.bytes_written"), "wall_s", "panel_train", "queries"),
    (("plan.",), "op_p50_s", "queries:lazy", "panel_train"),
    (("exec.", "codegen."), "wall_s peak_rss_mb", "panel_train queries:lazy", "queries:pinned"),
    (("shuffle.", "spill."), "wall_s", "panel_train", "queries:pinned"),
    (("python.",), "wall_s", "panel_train", "queries:lazy"),
    (("session.",), "setup_s", "all", "-"),
    (("trace.",), "-", "-", "-"),
)
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_SIZE_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40, "PiB": 2**50,
}


def metric_unit(name: str) -> str:
    if name == "exec.core_util":
        return "ratio"
    if name.endswith(("_s", ".s")) or name.startswith("jobs_s."):
        return "s"
    if "bytes" in name:
        return "bytes"
    return "count"


def should_move(name: str) -> tuple[str, str, str]:
    """(end-to-end metrics, moved on, not moved on) of a layer metric."""
    for prefixes, moves, on, off in SHOULD_MOVE:
        if name.startswith(prefixes):
            return moves, on, off
    raise KeyError(name)


def metric_better(name: str) -> str:
    return "higher" if name == "exec.core_util" else "lower"


def job_module(name: str) -> str | None:
    """Package module named by a job's Python call site, e.g.
    ``collect at /x/centimators_spark/similarity/mmr.py:91`` →
    ``similarity``; None for JVM call sites and files outside the
    package."""
    m = _CALL_SITE.search(name)
    if not m:
        return None
    path = m.group(1).replace("\\", "/")
    if path.endswith("/__spark_entry__.py"):
        return "other"
    if "/plans/" in path:
        return "plans"
    if "/centimators_spark/" in path:
        top = path.split("/centimators_spark/", 1)[1].split("/", 1)[0]
        top = top[:-3] if top.endswith(".py") else top
        return top if top in MODULES else "other"
    return None


def job_layer(name: str, phase: str) -> str:
    """Layer a job belongs to, from its name and the phase it ran in.
    Every job of the ``exec`` phase executes the sink (a written sink's
    jobs run the whole pipeline, so they are execution too). Jobs fired
    before it are ``pin`` (local/reliable checkpoints), ``io.schema``
    (parquet schema inference), ``io.write`` (a write made while
    constructing), else the phase itself (``build`` = driver jobs fired
    while constructing, ``plan``)."""
    if phase == "exec":
        return "exec"
    if name.startswith(("localCheckpoint at ", "checkpoint at ")):
        return "pin"
    if name.startswith("save at "):
        return "io.write"
    if name.startswith("parquet at "):
        return "io.schema"
    return phase


def is_anonymous(name: str) -> bool:
    """AQE stage-materialization jobs run on a thread pool and lose the
    caller's call site; they belong to the next named job."""
    return bool(_ANON.search(name))


def plan_shape(plan: str) -> dict[str, int]:
    """Exchange, Python-node and opaque-scan counts of a physical plan
    tree string."""
    ex = py = opaque = 0
    for line in plan.splitlines():
        m = _NODE.match(line)
        if not m:
            continue
        node = m.group(1)
        if node == "Scan" and m.group(2).startswith(" ExistingRDD"):
            opaque += 1
        elif node.endswith("Exchange") and not node.startswith("Reused"):
            ex += 1
        elif PYTHON_NODE.search(node):
            py += 1
    return {"plan.exchanges": ex, "plan.python_nodes": py, "plan.opaque_scans": opaque}


def parse_metric(text: str, kind: str) -> float:
    """Parse a formatted SQL metric value (``1,000``, ``20 ms``,
    ``1.2 s``, ``8.9 KiB`` or the multi-task ``total (min, med, max
    ...)\\n<total> (...)`` form) into seconds, bytes or a count."""
    if "\n" in text:
        text = text.split("\n", 1)[1].split(" (", 1)[0]
    parts = text.strip().split()
    if not parts:
        return 0.0
    num = float(parts[0].replace(",", ""))
    unit = parts[1] if len(parts) > 1 else ""
    if kind == "time":
        return num * _TIME_UNITS.get(unit, 1e-3)
    if kind == "size":
        return num * _SIZE_UNITS.get(unit, 1)
    return num


def union_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# DataFrame calls that fire jobs under a JVM call site; ``call_sites``
# names their jobs after the package line that made the call (collect,
# take, toPandas and the RDD actions are named by PySpark itself)
_JOB_CALLS = {
    "DataFrame": ("count", "localCheckpoint", "checkpoint"),
    "DataFrameReader": ("parquet", "load"),
    "DataFrameWriter": ("save", "parquet"),
}


def package_frame(frame, root: str, skip: str):
    """Innermost frame of a file under ``root`` but not under ``skip``."""
    while frame is not None:
        path = frame.f_code.co_filename
        if path.startswith(root) and not path.startswith(skip):
            return frame
        frame = frame.f_back
    return None


def call_sites(sc, root: str, skip: str) -> None:
    """Name every job a DataFrame call fires ``<call> at <file>:<line>``
    after the innermost package frame that made the call, through
    Spark's own call-site property. Python DataFrame jobs otherwise
    carry a JVM call site (``NativeMethodAccessorImpl.java:0``), which
    names no module."""
    from pyspark.sql import DataFrameReader, DataFrameWriter
    from pyspark.sql.classic.dataframe import DataFrame  # the class sessions build

    local = threading.local()

    def wrap(method, call):
        @functools.wraps(method)
        def named(*args, **kwargs):
            if getattr(local, "busy", False):
                return method(*args, **kwargs)
            frame = package_frame(sys._getframe(1), root, skip)
            if frame is None:
                return method(*args, **kwargs)
            local.busy = True
            sc._jsc.setCallSite(f"{call} at {frame.f_code.co_filename}:{frame.f_lineno}")
            try:
                return method(*args, **kwargs)
            finally:
                sc._jsc.setCallSite(None)
                local.busy = False

        return named

    classes = {
        "DataFrame": DataFrame, "DataFrameReader": DataFrameReader,
        "DataFrameWriter": DataFrameWriter,
    }
    for cls_name, calls in _JOB_CALLS.items():
        cls = classes[cls_name]
        for call in calls:
            # a write is named ``save`` whatever its format, as Spark does
            label = "save" if cls is DataFrameWriter else call
            setattr(cls, call, wrap(getattr(cls, call), label))


class Tracer:
    """Records run → operation → phase spans and, after the pass,
    the jobs, stages and SQL metrics Spark kept for each phase."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.plans: dict[str, dict[str, int]] = {}
        self._open: dict[str, int] = {}  # kind → id of the open span
        here = os.path.dirname(os.path.abspath(__file__))
        call_sites(self.sc, os.path.dirname(here) + os.sep, here + os.sep)

    @contextmanager
    def span(self, kind: str, name: str, op: str | None = None):
        """A span of kind run, op or phase, parented to the open span of
        the enclosing kind."""
        parent = {"run": None, "op": "run", "phase": "op"}[kind]
        rec = {
            "id": len(self.spans), "kind": kind, "name": name, "op": op,
            "parent": self._open.get(parent), "start": time.time(), "end": None,
        }
        self.spans.append(rec)
        self._open[kind] = rec["id"]
        try:
            yield
        finally:
            rec["end"] = time.time()

    @contextmanager
    def phase(self, op: str, phase: str):
        self.sc.setJobGroup(f"{op}|{phase}", f"{op} {phase}")
        try:
            with self.span("phase", phase, op):
                yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def force_plan(self, op: str, df) -> None:
        """Plan ``df`` inside the ``plan`` phase and keep its shape."""
        with self.phase(op, "plan"):
            plan = df._jdf.queryExecution().executedPlan().toString()
        self.plans[op] = plan_shape(plan)

    # -- reading Spark's status stores after the pass ------------------
    def _jobs(self) -> list[dict]:
        store = self.sc._jsc.sc().statusStore()
        seq = store.jobsList(None)
        jobs = []
        for i in range(seq.size()):
            j = seq.apply(i)
            group = j.jobGroup()
            if not group.isDefined() or "|" not in group.get():
                continue
            op, phase = group.get().rsplit("|", 1)
            sub, done = j.submissionTime(), j.completionTime()
            if not (sub.isDefined() and done.isDefined()):
                continue
            stage_ids = j.stageIds()
            jobs.append(
                {
                    "id": j.jobId(),
                    "name": j.name(),
                    "op": op,
                    "phase": phase,
                    "start": sub.get().getTime() / 1000.0,
                    "end": done.get().getTime() / 1000.0,
                    "stages": [stage_ids.apply(k) for k in range(stage_ids.size())],
                }
            )
        jobs.sort(key=lambda r: r["id"])
        # anonymous AQE jobs take the layer and module of the next named
        # job of the same (op, phase)
        nxt: dict[tuple[str, str], dict] = {}
        for job in reversed(jobs):
            key = (job["op"], job["phase"])
            if is_anonymous(job["name"]) and key in nxt:
                job["layer"], job["module"] = nxt[key]["layer"], nxt[key]["module"]
            else:
                job["layer"] = job_layer(job["name"], job["phase"])
                job["module"] = job_module(job["name"])
                nxt[key] = job
        return jobs

    def _stages(self, jobs: list[dict]) -> dict[int, dict]:
        store = self.sc._jsc.sc().statusStore()
        out: dict[int, dict] = {}
        for job in jobs:
            for sid in job["stages"]:
                if sid in out:
                    continue
                try:
                    s = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — stage evicted from the store
                    continue
                if str(s.status()) != "COMPLETE":
                    continue
                out[sid] = {
                    "job": job["id"],
                    "tasks": s.numCompleteTasks(),
                    "task_s": s.executorRunTime() / 1e3,
                    "gc_s": s.jvmGcTime() / 1e3,
                    "shuffle_bytes": s.shuffleWriteBytes(),
                    "shuffle_write_s": s.shuffleWriteTime() / 1e9,
                    "fetch_wait_s": s.shuffleFetchWaitTime() / 1e3,
                    "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                }
        return out

    def _sql(self, job_op: dict[int, str]) -> dict[str, dict[str, float]]:
        store = self.spark._jsparkSession.sharedState().statusStore()
        seq = store.executionsList()
        per_op: dict[str, dict[str, float]] = {}
        for i in range(seq.size()):
            e = seq.apply(i)
            job_ids = [int(k) for k in re.findall(r"(\d+) ->", e.jobs().toString())]
            ops = [job_op[j] for j in job_ids if j in job_op]
            if not ops:
                continue
            names: dict[int, str] = {}
            for m in e.metrics().mkString("\u0001").split("\u0001"):
                inner = m[len("SQLPlanMetric("):-1]
                name, acc, _kind = inner.rsplit(",", 2)
                if name in SQL_METRICS:
                    names[int(acc)] = name
            if not names:
                continue
            values = store.executionMetrics(e.executionId()).mkString("\u0001")
            acc_out = per_op.setdefault(ops[0], {})
            for entry in values.split("\u0001"):
                if " -> " not in entry:
                    continue
                acc, text = entry.split(" -> ", 1)
                name = names.get(int(acc))
                if name is None:
                    continue
                metric, kind = SQL_METRICS[name]
                acc_out[metric] = acc_out.get(metric, 0.0) + parse_metric(text, kind)
        return per_op

    def collect(self) -> dict:
        """Read the status stores and return spans plus per-operation
        and whole-run layer figures."""
        jobs = self._jobs()
        stages = self._stages(jobs)
        sql = self._sql({j["id"]: j["op"] for j in jobs})
        phases = [s for s in self.spans if s["kind"] == "phase"]
        phase_id = {(s["op"], s["name"]): s["id"] for s in phases}
        for job in jobs:
            self.spans.append(
                {
                    "id": len(self.spans), "kind": "job", "name": job["name"],
                    "op": job["op"], "parent": phase_id.get((job["op"], job["phase"])),
                    "layer": job["layer"], "module": job["module"],
                    "start": job["start"], "end": job["end"],
                }
            )
        ops = {
            op: op_layers(
                [s for s in phases if s["op"] == op],
                [j for j in jobs if j["op"] == op],
                stages,
                self.plans.get(op, {}),
                sql.get(op, {}),
            )
            for op in dict.fromkeys(s["op"] for s in phases)
        }
        return {"ops": ops, "spans": self.spans}


def op_layers(
    phases: list[dict],
    jobs: list[dict],
    stages: dict[int, dict],
    plan: dict[str, int],
    sql: dict[str, float],
) -> dict[str, float]:
    """Per-layer figures of one operation (see README's metric table)."""
    dur = {p["name"]: p["end"] - p["start"] for p in phases}
    out: dict[str, float] = {
        "entry.build_s": dur.get("build", 0.0),
        "plan.s": dur.get("plan", 0.0),
        "exec.s": dur.get("exec", 0.0),
    }
    build = next((p for p in phases if p["name"] == "build"), None)
    build_jobs = [j for j in jobs if j["phase"] == "build"]
    out["entry.build_jobs"] = len(build_jobs)
    out["entry.build_self_s"] = (
        dur.get("build", 0.0)
        - union_seconds([(j["start"], j["end"]) for j in build_jobs], build["start"], build["end"])
        if build
        else 0.0
    )

    def jobs_of(pred):
        sel = [j for j in jobs if pred(j)]
        return len(sel), sum(j["end"] - j["start"] for j in sel)

    out["pin.jobs"], out["pin.s"] = jobs_of(lambda j: j["layer"] == "pin")
    out["io.schema_jobs"], out["io.schema_s"] = jobs_of(lambda j: j["layer"] == "io.schema")
    for m in MODULES:
        out[f"jobs.{m}"], out[f"jobs_s.{m}"] = jobs_of(lambda j, m=m: j["module"] == m)
    exec_jobs = [j for j in jobs if j["phase"] == "exec"]
    exec_stages = [stages[s] for j in exec_jobs for s in j["stages"] if s in stages]
    all_stages = [stages[s] for j in jobs for s in j["stages"] if s in stages]
    out["exec.jobs"] = len(exec_jobs)
    out["exec.stages"] = len(exec_stages)
    out["exec.tasks"] = sum(s["tasks"] for s in exec_stages)
    out["exec.task_s"] = sum(s["task_s"] for s in exec_stages)
    out["exec.serial_stages"] = sum(1 for s in exec_stages if s["tasks"] == 1)
    out["exec.gc_s"] = sum(s["gc_s"] for s in all_stages)
    out["shuffle.bytes_written"] = sum(s["shuffle_bytes"] for s in all_stages)
    out["shuffle.write_s"] = sum(s["shuffle_write_s"] for s in all_stages)
    out["shuffle.fetch_wait_s"] = sum(s["fetch_wait_s"] for s in all_stages)
    out["spill.bytes"] = sum(s["spill_bytes"] for s in all_stages)
    for key in ("plan.exchanges", "plan.python_nodes", "plan.opaque_scans"):
        out[key] = plan.get(key, 0)
    for metric, _kind in SQL_METRICS.values():
        out[metric] = sql.get(metric, 0.0)
    return out


def run_layers(ops: dict[str, dict[str, float]], cores: int) -> dict[str, float]:
    """Whole-pass layer figures: per-operation figures summed, plus the
    execution layer's core utilization (task time ÷ sink time × cores)."""
    total: dict[str, float] = {}
    for layers in ops.values():
        for k, v in layers.items():
            total[k] = total.get(k, 0.0) + v
    exec_s = total.get("exec.s", 0.0)
    total["exec.core_util"] = total.get("exec.task_s", 0.0) / (exec_s * cores) if exec_s else 0.0
    return total


def dominant_layer(layers: dict[str, float]) -> str:
    """The layer an operation spends most of its time in."""
    shares = {
        "construction": layers["entry.build_self_s"],
        "pins": layers["pin.s"],
        "io.schema": layers["io.schema_s"],
        "build jobs": max(
            layers["entry.build_s"] - layers["entry.build_self_s"]
            - layers["pin.s"] - layers["io.schema_s"],
            0.0,
        ),
        "planning": layers["plan.s"],
        "io.write": layers["io.write_s"],
        "execution": max(layers["exec.s"] - layers["io.write_s"], 0.0),
    }
    return max(shares, key=shares.get)
