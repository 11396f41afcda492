"""Tracing for the benchmark: spans recorded around the calls the
benchmark makes, joined with the Spark event log of the run.

The benchmark tags every call it makes with a Spark job group
``<workload>:<op>:<call>`` and records a span for it in memory. After
the session stops, ``parse_event_log`` reads the event log Spark wrote
into the run directory, and ``attach_spark`` hangs each job under the
call span whose group and interval contain it, and each stage under
its job. ``layer_metrics`` then sums the per-layer counters over the
timed calls.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Executed-plan node names that cross the JVM/Python boundary.
PYTHON_NODES = frozenset(
    {
        "ArrowEvalPython",
        "BatchEvalPython",
        "MapInArrow",
        "MapInPandas",
        "FlatMapGroupsInPandas",
        "FlatMapCoGroupsInPandas",
        "FlatMapGroupsInArrow",
        "AggregateInPandas",
        "WindowInPandas",
        "ArrowWindowPython",
        "ArrowAggregatePython",
        "ArrowEvalPythonUDTF",
        "BatchEvalPythonUDTF",
        "MapPartitionsInRWithArrow",
    }
)
EXCHANGE_NODES = frozenset({"Exchange", "BroadcastExchange", "ShuffleExchange"})

MB = 1024 * 1024


@dataclass
class Span:
    id: int
    name: str
    kind: str  # workload | op | call | job | stage
    start: float  # seconds since the epoch
    end: float
    parent: int | None
    group: str | None = None
    timed: bool = False
    attrs: dict = field(default_factory=dict)

    def to_json(self, trace_id: str) -> dict:
        return {
            "trace_id": trace_id,
            "id": self.id,
            "parent": self.parent,
            "name": self.name,
            "kind": self.kind,
            "start": round(self.start, 6),
            "end": round(self.end, 6),
            **({"group": self.group} if self.group else {}),
            **self.attrs,
        }


class Tracer:
    """In-memory span recorder. With ``enabled`` false it sets no job
    group and keeps no spans, so an untraced run pays nothing for it."""

    def __init__(self, spark_context, workload: str, enabled: bool):
        self.sc = spark_context
        self.workload = workload
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []
        self.root = self._open(workload, "workload", None) if enabled else None

    def _open(self, name: str, kind: str, group: str | None, timed=False) -> Span:
        parent = self._stack[-1] if self._stack else None
        s = Span(next(self._ids), name, kind, time.time(), 0.0, parent, group, timed)
        self.spans.append(s)
        self._stack.append(s.id)
        return s

    def _close(self, s: Span) -> None:
        s.end = time.time()
        self._stack.pop()

    @contextmanager
    def op(self, name: str):
        """A query call or ingest batch: parent of its construct /
        action / function call spans."""
        if not self.enabled:
            yield
            return
        s = self._open(name, "op", None)
        try:
            yield
        finally:
            self._close(s)

    @contextmanager
    def call(self, op: str, fn: str, timed: bool = False):
        """One call into the program, tagged with its job group. Yields
        a dict of attributes the caller may fill for the span."""
        group = f"{self.workload}:{op}:{fn}"
        attrs: dict = {}
        if not self.enabled:
            yield attrs
            return
        self.sc.setJobGroup(group, group)
        s = self._open(fn, "call", group, timed)
        try:
            yield attrs
        finally:
            self._close(s)
            s.attrs.update(attrs)
            self.sc.setJobGroup(f"{self.workload}:idle", "between calls")

    def finish(self) -> None:
        if self.root is not None and not self.root.end:
            self.root.end = time.time()
            self._stack.clear()

    def write(self, path: str, trace_id: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.to_json(trace_id)) + "\n")


# --- event log ---------------------------------------------------------------


def _plan_nodes(info: dict | None, out: list[str]) -> list[str]:
    if info:
        out.append(info.get("nodeName", ""))
        for c in info.get("children", ()):
            _plan_nodes(c, out)
    return out


def parse_event_log(log_dir: str) -> dict:
    """Jobs, stages and SQL executions from the (uncompressed, non-rolling)
    event log the run wrote into ``log_dir``."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    stage_tasks: dict[int, dict] = {}
    execs: dict[int, dict] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jobs[e["Job ID"]] = {
                        "start": e["Submission Time"] / 1000,
                        "end": None,
                        "group": props.get("spark.jobGroup.id"),
                        "exec": int(props["spark.sql.execution.id"])
                        if "spark.sql.execution.id" in props
                        else None,
                        "stage_ids": e.get("Stage IDs", []),
                    }
                elif ev == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000
                elif ev == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    if si.get("Submission Time") and si.get("Completion Time"):
                        stages[si["Stage ID"]] = {
                            "start": si["Submission Time"] / 1000,
                            "end": si["Completion Time"] / 1000,
                            "name": si.get("Stage Name", ""),
                            "tasks": si.get("Number of Tasks", 0),
                        }
                elif ev == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics") or {}
                    t = stage_tasks.setdefault(
                        e["Stage ID"],
                        {"tasks": 0, "shuffle_read": 0, "shuffle_write": 0, "spill": 0},
                    )
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    t["tasks"] += 1
                    t["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    t["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    t["spill"] += m.get("Disk Bytes Spilled", 0)
                elif ev.endswith("SparkListenerSQLExecutionStart"):
                    execs[e["executionId"]] = {
                        "start": e["time"] / 1000,
                        "group": e.get("jobGroupId"),
                        "plan": e.get("sparkPlanInfo"),
                    }
                elif ev.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    if e["executionId"] in execs:
                        execs[e["executionId"]]["plan"] = e.get("sparkPlanInfo")
    for sid, st in stages.items():
        st.update(stage_tasks.get(sid, {"tasks": 0, "shuffle_read": 0, "shuffle_write": 0, "spill": 0}))
    for ex in execs.values():
        nodes = _plan_nodes(ex.pop("plan"), [])
        ex["exchanges"] = sum(n in EXCHANGE_NODES for n in nodes)
        ex["python_nodes"] = sum(n in PYTHON_NODES for n in nodes)
    return {"jobs": jobs, "stages": stages, "execs": execs}


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# Event-log times are whole milliseconds; a job submitted within this
# slack of its call's edges still belongs to the call.
_SLACK = 0.002


def attach_spark(tracer: Tracer, log: dict) -> int:
    """Add job and stage spans under the call spans; returns the number
    of jobs no benchmark call accounts for."""
    calls: dict[str, list[Span]] = {}
    for s in tracer.spans:
        if s.kind == "call":
            calls.setdefault(s.group, []).append(s)
    job_span: dict[int, Span] = {}
    unattributed = 0
    for jid in sorted(log["jobs"]):
        j = log["jobs"][jid]
        end = j["end"] if j["end"] is not None else j["start"]
        parent = next(
            (
                c
                for c in calls.get(j["group"], ())
                if c.start - _SLACK <= j["start"] <= c.end + _SLACK
            ),
            None,
        )
        if parent is None:
            unattributed += 1
        s = Span(next(tracer._ids), f"job {jid}", "job", j["start"], end,
                 parent.id if parent else None, j["group"])
        s.attrs["job_id"] = jid
        tracer.spans.append(s)
        job_span[jid] = s
        j["call"] = parent
    # a stage runs under the earliest job that lists it and was running
    # when it was submitted (later jobs list it again as skipped)
    for sid in sorted(log["stages"]):
        st = log["stages"][sid]
        owner = next(
            (
                jid
                for jid in sorted(log["jobs"])
                if sid in log["jobs"][jid]["stage_ids"]
                and log["jobs"][jid]["start"] - _SLACK <= st["start"]
                <= (log["jobs"][jid]["end"] or st["end"]) + _SLACK
            ),
            None,
        )
        st["job"] = owner
        parent = job_span.get(owner)
        s = Span(next(tracer._ids), f"stage {sid}", "stage", st["start"], st["end"],
                 parent.id if parent else None)
        s.attrs.update(stage_id=sid, tasks=st["tasks"])
        tracer.spans.append(s)
    return unattributed


def layer_metrics(tracer: Tracer, log: dict, passes: int) -> dict:
    """Per-layer sums over the TIMED calls, divided by the number of
    timed passes so runs of different lengths compare."""
    timed_calls = {s.id for s in tracer.spans if s.kind == "call" and s.timed}
    jobs = {jid: j for jid, j in log["jobs"].items()
            if j.get("call") is not None and j["call"].id in timed_calls}
    construct_jobs = sum(1 for j in jobs.values() if j["call"].name == "construct")

    by_job: dict[int, list[dict]] = {}
    for st in log["stages"].values():
        if st.get("job") in jobs:
            by_job.setdefault(st["job"], []).append(st)
    stage_exec = stage_gap = 0.0
    n_stages = n_tasks = 0
    shuffle_read = shuffle_write = spill = 0
    for jid, j in jobs.items():
        sts = by_job.get(jid, [])
        covered = _union_len([(s["start"], s["end"]) for s in sts])
        stage_exec += covered
        stage_gap += max(0.0, (j["end"] or j["start"]) - j["start"] - covered)
        n_stages += len(sts)
        for s in sts:
            n_tasks += s["tasks"]
            shuffle_read += s["shuffle_read"]
            shuffle_write += s["shuffle_write"]
            spill += s["spill"]

    exec_ids = {j["exec"] for j in jobs.values() if j["exec"] is not None}
    exchanges = sum(log["execs"][e]["exchanges"] for e in exec_ids if e in log["execs"])
    python_nodes = sum(log["execs"][e]["python_nodes"] for e in exec_ids if e in log["execs"])

    # planning of the final action: from the call's start to the first
    # SQL execution it started (the executed plan exists by then)
    plan_s = 0.0
    for s in tracer.spans:
        if s.kind == "call" and s.timed and s.name == "action":
            starts = [ex["start"] for ex in log["execs"].values()
                      if ex["group"] == s.group and s.start - _SLACK <= ex["start"] <= s.end + _SLACK]
            if starts:
                plan_s += max(0.0, min(starts) - s.start)

    p = max(passes, 1)
    return {
        "queries.eager_jobs": construct_jobs / p,
        "spark.plan_s": plan_s / p,
        "spark.stage_exec_s": stage_exec / p,
        "spark.stage_gap_s": stage_gap / p,
        "spark.stages": n_stages / p,
        "spark.tasks": n_tasks / p,
        "spark.shuffle_read_mb": shuffle_read / MB / p,
        "spark.shuffle_write_mb": shuffle_write / MB / p,
        "spark.spill_mb": spill / MB / p,
        "plan.exchanges": exchanges / p,
        "plan.python_nodes": python_nodes / p,
    }
