"""Measurement from outside the package: spans, job groups, Spark counters.

Every timed call runs under its own Spark job group, so Spark's status
tracker and event log can attribute jobs, stages and tasks to the call that
fired them.  With tracing on, `Tracer` also keeps spans in memory (name,
start, end, parent, request id, job group) and writes them out at exit; the
event-log reader then joins Spark's own per-task and per-SQL-execution
records to those spans by job group.  With tracing off, a span only tags
its job group and records nothing.
"""

from __future__ import annotations

import contextlib
import json
import os
import shlex
import time

GROUP_PREFIX = "pb"


class Tracer:
    """Span recorder.  `span()` nests: a child restores its parent's job
    group on exit, and child spans share the parent's request id."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._seq = 0
        self._req = 0

    def new_request(self) -> int:
        self._req += 1
        return self._req

    @contextlib.contextmanager
    def span(self, name: str, req: int | None = None):
        self._seq += 1
        parent = self._stack[-1] if self._stack else None
        if req is None:
            req = parent["req"] if parent else 0
        group = f"{GROUP_PREFIX}.{req}.{self._seq}"
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(group, name)
        rec = {"id": self._seq, "name": name, "req": req, "group": group,
               "parent": parent["id"] if parent else None, "start": time.time()}
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if prev_group is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(prev_group, parent["name"] if parent else "")
            if self.enabled:
                tracker = self.sc.statusTracker()
                jobs = tracker.getJobIdsForGroup(group)
                stages = set()
                for j in jobs:
                    info = tracker.getJobInfo(j)
                    if info is not None:
                        stages.update(info.stageIds)
                rec["tracker_jobs"] = len(jobs)
                rec["tracker_stages"] = len(stages)
                self.spans.append(rec)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def spark_conf_args(work_dir: str, tmp: str, event_log_dir: str | None) -> str:
    """PYSPARK_SUBMIT_ARGS that keep every Spark and JVM file inside
    `work_dir` and `tmp` and, when `event_log_dir` is set, turn on an
    uncompressed, non-rolling event log there."""
    args = [
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work_dir, 'warehouse')}",
        "--conf", f"spark.local.dir={os.path.join(work_dir, 'local')}",
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    ]
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", f"spark.eventLog.dir=file://{event_log_dir}",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", "spark.eventLog.rolling.enabled=false"]
    return " ".join(shlex.quote(a) for a in args) + " pyspark-shell"


# -- event log ---------------------------------------------------------------

SPARK_COUNTERS = (
    "jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
    "executor_cpu_s", "gc_s", "scheduler_delay_s", "input_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "broadcast_bytes", "bhj_count", "smj_count",
)


def _plan_nodes(info: dict):
    yield info
    for c in info.get("children", ()):
        yield from _plan_nodes(c)


def read_event_log(path: str) -> dict:
    """Spark counters and job intervals per job group from one event log.

    Returns {group: {counter: value, ..., "intervals": [(start_s, end_s)]}}.
    `scheduler_delay_s` sums, per task, the wait between stage submission
    and task launch (waiting for a free slot) plus the launch overhead the
    Spark UI calls scheduler delay.  `broadcast_bytes` sums the `data size`
    metric of every BroadcastExchange; `bhj_count`/`smj_count` count join
    nodes in each SQL execution's final (post-AQE) plan."""
    jobs: dict[int, dict] = {}
    stage_group: dict[int, str] = {}
    stage_submit: dict[int, float] = {}
    exec_group: dict[int, str] = {}
    exec_plan: dict[int, dict] = {}
    accum_values: dict[int, int] = {}
    groups: dict[str, dict] = {}
    tasks: list[tuple[str, dict]] = []

    def grp(g: str) -> dict:
        if g not in groups:
            groups[g] = {k: 0 for k in SPARK_COUNTERS}
            groups[g]["intervals"] = []
            groups[g]["_stages"] = set()
        return groups[g]

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                g = props.get("spark.jobGroup.id")
                if not g:
                    continue
                jobs[ev["Job ID"]] = {"group": g, "start": ev["Submission Time"] / 1000}
                for sid in ev.get("Stage IDs", ()):
                    stage_group.setdefault(sid, g)
                eid = props.get("spark.sql.execution.id")
                if eid is not None:
                    exec_group.setdefault(int(eid), g)
                grp(g)["jobs"] += 1
            elif kind == "SparkListenerJobEnd":
                j = jobs.get(ev["Job ID"])
                if j is not None:
                    grp(j["group"])["intervals"].append(
                        (j["start"], ev["Completion Time"] / 1000))
            elif kind == "SparkListenerStageSubmitted":
                si = ev["Stage Info"]
                stage_submit[si["Stage ID"]] = si.get("Submission Time", 0) / 1000
            elif kind == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                g = stage_group.get(si["Stage ID"])
                if g is not None:
                    grp(g)["_stages"].add(si["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev["Stage ID"])
                if g is not None:
                    tasks.append((g, ev))
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                exec_plan[ev["executionId"]] = ev.get("sparkPlanInfo") or {}
            elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                exec_plan[ev["executionId"]] = ev.get("sparkPlanInfo") or {}
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, value in ev.get("accumUpdates", ()):
                    accum_values[acc_id] = accum_values.get(acc_id, 0) + int(value)

    for g, ev in tasks:
        out = grp(g)
        info, m = ev["Task Info"], ev.get("Task Metrics") or {}
        out["tasks"] += 1
        if info.get("Failed") or ev.get("Task End Reason", {}).get("Reason") not in (None, "Success"):
            out["failed_tasks"] += 1
        out["executor_run_s"] += m.get("Executor Run Time", 0) / 1000
        out["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        out["gc_s"] += m.get("JVM GC Time", 0) / 1000
        launch, finish = info["Launch Time"] / 1000, info["Finish Time"] / 1000
        submit = stage_submit.get(ev["Stage ID"], launch)
        overhead = (finish - launch) - (m.get("Executor Run Time", 0)
                                        + m.get("Executor Deserialize Time", 0)
                                        + m.get("Result Serialization Time", 0)) / 1000
        out["scheduler_delay_s"] += max(0.0, launch - submit) + max(0.0, overhead)
        out["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        out["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        out["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        out["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)

    for eid, plan in exec_plan.items():
        g = exec_group.get(eid)
        if g is None:
            continue
        out = grp(g)
        for node in _plan_nodes(plan):
            name = node.get("nodeName", "")
            if name == "BroadcastHashJoin":
                out["bhj_count"] += 1
            elif name == "SortMergeJoin":
                out["smj_count"] += 1
            elif name == "BroadcastExchange":
                for metric in node.get("metrics", ()):
                    if metric.get("name") == "data size":
                        out["broadcast_bytes"] += accum_values.get(metric["accumulatorId"], 0)

    for out in groups.values():
        out["stages"] = len(out.pop("_stages"))
    return groups


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the part of [lo, hi] covered by the union of `intervals`."""
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total
