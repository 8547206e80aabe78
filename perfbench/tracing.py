"""Spans around engine calls and a stdlib reader for the Spark event log.

A traced run tags the Spark jobs of every engine call with a unique job
group ``<phase>#<n>`` and keeps one in-memory span per call: when the call
started, when it returned its DataFrame (the driver's planning time), and
when its output was materialized. After the session stops, the event log
is joined to the spans by job group to give per-phase jobs, tasks, executor
and CPU time, Python-worker time, shuffle bytes, failed tasks, and the part
of each span not covered by any job (driver time between jobs).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict, dataclass

from harness import median

PHASES = [
    "extract", "normalize", "blocker.pre", "blocker.ids",
    "spatial_join.cell_index", "spatial_join.refine_geom", "spatial_join.assign",
    "manifest.append",
    "dedup.signature", "dedup.pairs",
]

PHASE_METRICS = (
    "wall_s", "plan_s", "jobs", "tasks", "driver_gap_s", "executor_run_s",
    "jvm_cpu_s", "python_run_s", "shuffle_write_mb", "failed_tasks",
)

PYTHON_RUN_METRIC = "time to run Python workers"  # SQL timing metric, ms
JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    tag: str            # unique per call: "<phase>#<n>", or "op#<n>"
    name: str           # phase name, or "op"
    start: float        # epoch seconds
    planned: float      # the call returned its DataFrame
    end: float          # its output was materialized
    parent: str | None  # tag of the enclosing op span


class Tracer:
    """Times ops and phases. In a traced run, ops alternate between traced
    (event log attached, jobs tagged, spans kept) and untraced (event log
    detached, nothing tagged); comparing the two gives the tracing overhead
    under identical conditions. An untraced run adds nothing but two clock
    reads per op."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.active = enabled
        self.spans: list[Span] = []
        self._n = 0
        self._op: str | None = None

    def set_active(self, on: bool) -> None:
        if not self.enabled or on == self.active:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()  # deliver the last op's events first
        listener = jsc.eventLogger().get()
        if on:
            jsc.addSparkListener(listener)
        else:
            jsc.removeSparkListener(listener)
        self.active = on

    def _tag(self, name: str) -> str:
        self._n += 1
        return f"{name}#{self._n}"

    def op(self, body):
        """Run one closed-loop operation; return (wall seconds, result)."""
        tag = self._tag("op") if self.active else None
        self._op = tag
        t0 = time.time()
        try:
            out = body()
        finally:
            t1 = time.time()
            self._op = None
            if self.active:
                self.spans.append(Span(tag, "op", t0, t0, t1, None))
        return t1 - t0, out

    def phase(self, name: str, call, materialize):
        """``call()`` builds a DataFrame; ``materialize(df)`` forces it."""
        if not self.active:
            df = call()
            return df, materialize(df)
        tag = self._tag(name)
        self.sc.setJobGroup(tag, tag)
        try:
            t0 = time.time()
            df = call()
            t1 = time.time()
            out = materialize(df)
            self.spans.append(Span(tag, name, t0, t1, time.time(), self._op))
        finally:
            self.sc.setLocalProperty(JOB_GROUP, None)
        return df, out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f, indent=1)


def read_event_log(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def event_log_file(log_dir: str) -> str:
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    done = [f for f in files if not f.endswith(".inprogress")]
    if len(done) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    return os.path.join(log_dir, done[0])


def _plan_nodes(info: dict):
    yield info
    for child in info.get("children", ()):
        yield from _plan_nodes(child)


def _empty_group() -> dict:
    return {"jobs": {}, "tasks": 0, "failed_tasks": 0, "executor_run_s": 0.0,
            "jvm_cpu_s": 0.0, "python_run_s": 0.0, "shuffle_write_mb": 0.0,
            "join_rows": 0}


def group_stats(events: list[dict]) -> dict[str, dict]:
    """Per job group: job intervals, tasks, time, shuffle and join output rows."""
    groups: dict[str, dict] = {}
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    join_accs: dict[int, set] = {}

    def g(tag: str) -> dict:
        return groups.setdefault(tag, _empty_group())

    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            tag = props.get(JOB_GROUP)
            if tag:
                job_group[e["Job ID"]] = tag
                g(tag)["jobs"][e["Job ID"]] = [e["Submission Time"] / 1000.0, None]
                if "spark.sql.execution.id" in props:
                    exec_group[int(props["spark.sql.execution.id"])] = tag
        elif kind == "SparkListenerJobEnd":
            tag = job_group.get(e["Job ID"])
            if tag:
                groups[tag]["jobs"][e["Job ID"]][1] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            tag = (e.get("Properties") or {}).get(JOB_GROUP)
            if tag:
                stage_group[e["Stage Info"]["Stage ID"]] = tag
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            accs = join_accs.setdefault(e["executionId"], set())
            for node in _plan_nodes(e["sparkPlanInfo"]):
                if "Join" in node["nodeName"]:
                    accs.update(m["accumulatorId"] for m in node["metrics"]
                                if m["name"] == "number of output rows")

    join_ids = {}
    for ex, tag in exec_group.items():
        join_ids.setdefault(tag, set()).update(join_accs.get(ex, ()))

    for e in events:
        if e["Event"] != "SparkListenerTaskEnd":
            continue
        tag = stage_group.get(e["Stage ID"])
        if tag is None:
            continue
        s = groups[tag]
        info, metrics = e["Task Info"], e.get("Task Metrics") or {}
        s["tasks"] += 1
        if info.get("Failed") or e["Task End Reason"]["Reason"] != "Success":
            s["failed_tasks"] += 1
        s["executor_run_s"] += metrics.get("Executor Run Time", 0) / 1e3
        s["jvm_cpu_s"] += metrics.get("Executor CPU Time", 0) / 1e9
        shuffle = metrics.get("Shuffle Write Metrics") or {}
        s["shuffle_write_mb"] += shuffle.get("Shuffle Bytes Written", 0) / 1e6
        ids = join_ids.get(tag, ())
        for acc in info.get("Accumulables", ()):
            if acc.get("Name") == PYTHON_RUN_METRIC:
                s["python_run_s"] += int(acc["Update"]) / 1e3
            elif acc["ID"] in ids:
                s["join_rows"] += int(acc["Update"])
    return groups


def covered_seconds(intervals, lo: float, hi: float) -> float:
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def phase_rows(spans: list[Span], groups: dict[str, dict]) -> list[dict]:
    """One row per traced phase call."""
    rows = []
    for sp in spans:
        if sp.name == "op":
            continue
        gs = groups.get(sp.tag) or _empty_group()
        jobs = [(a, b if b is not None else sp.end) for a, b in gs["jobs"].values()]
        wall = sp.end - sp.start
        rows.append({
            "tag": sp.tag, "phase": sp.name, "parent": sp.parent,
            "wall_s": wall, "plan_s": sp.planned - sp.start,
            "jobs": len(jobs), "tasks": gs["tasks"],
            "driver_gap_s": wall - covered_seconds(jobs, sp.start, sp.end),
            "executor_run_s": gs["executor_run_s"], "jvm_cpu_s": gs["jvm_cpu_s"],
            "python_run_s": gs["python_run_s"],
            "shuffle_write_mb": gs["shuffle_write_mb"],
            "failed_tasks": gs["failed_tasks"], "join_rows": gs["join_rows"],
        })
    return rows


def phase_metrics(rows: list[dict]) -> dict[str, float]:
    """``<phase>.<metric>`` for every phase: the median over its calls
    (failed tasks: the total); 0 for phases this workload does not run."""
    out = {}
    for phase in PHASES:
        mine = [r for r in rows if r["phase"] == phase]
        for m in PHASE_METRICS:
            if not mine:
                out[f"{phase}.{m}"] = 0.0
            elif m == "failed_tasks":
                out[f"{phase}.{m}"] = float(sum(r[m] for r in mine))
            else:
                out[f"{phase}.{m}"] = float(median([r[m] for r in mine]))
    return out


def coverage(spans: list[Span], rows: list[dict]) -> float:
    """Phase rows (job time + driver gaps) over traced op wall time."""
    op_wall = sum(s.end - s.start for s in spans if s.name == "op")
    in_ops = sum(r["wall_s"] for r in rows if r["parent"] is not None)
    return in_ops / op_wall if op_wall else 0.0
