"""Reader for Spark's JSON event log (written uncompressed).

Spark 4 writes rolling logs as ``eventlog_v2_<app>/events_<n>_<app>``;
a single-file log is ``<app>``. Task metrics come from each TaskEnd's
"Task Metrics"; SQL metrics ("scan time", "time to run Python workers",
...) come from the task accumulables and the driver accumulator updates,
named by the plan trees of the SQL execution events. Everything is
attributed to the job description the benchmark sets around each timed
operation with ``setJobDescription``.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

# task accumulables summed per operation, by SQL metric name
SQL_SUMS = {
    "scan time": "scan_ms",
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_received",
    "time to start Python workers": "py_boot_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
}
PY_NODE_METRIC = "data returned from Python workers"


def event_files(log_dir: str, app_id: str) -> list[str]:
    """The event files of one application, in write order."""
    rolled = glob.glob(os.path.join(log_dir, f"eventlog_v2_{app_id}", "events_*"))
    if rolled:
        index = lambda p: int(re.match(r"events_(\d+)_", os.path.basename(p)).group(1))  # noqa: E731
        return sorted(rolled, key=index)
    single = os.path.join(log_dir, app_id)
    return [single] if os.path.exists(single) else []


def read_events(paths: list[str]) -> list[dict]:
    events = []
    for p in paths:
        with open(p) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


@dataclass
class OpStats:
    """Everything the event log says about one described operation."""

    description: str
    jobs: list = field(default_factory=list)  # (job id, submit ms, end ms)
    stages: dict = field(default_factory=dict)  # stage id -> (job, submit, end, name)
    tasks: list = field(default_factory=list)  # dicts, see _task_record
    sums: dict = field(default_factory=lambda: defaultdict(float))

    def udf_stage_skews(self) -> list[float]:
        """max / median task run time of each stage that ran Python."""
        by_stage = defaultdict(list)
        for t in self.tasks:
            if t["python"]:
                by_stage[t["stage"]].append(t["run_ms"])
        out = []
        for runs in by_stage.values():
            mid = statistics.median(runs)
            out.append(max(runs) / mid if mid > 0 else 1.0)
        return out


def _plan_accums(node: dict, out: dict) -> None:
    metrics = {m["name"]: m["accumulatorId"] for m in node.get("metrics", [])}
    for name, acc in metrics.items():
        out[acc] = (node["nodeName"], name, PY_NODE_METRIC in metrics)
    for child in node.get("children", []):
        _plan_accums(child, out)


def summarize(events: list[dict], prefix: str) -> dict[str, OpStats]:
    """Per-description statistics for jobs whose description starts with
    ``prefix``."""
    accums: dict[int, tuple] = {}  # accumulator id -> (node, metric, in python node)
    exec_desc: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    job_desc: dict[int, str] = {}
    ops: dict[str, OpStats] = {}

    for e in events:
        kind = e["Event"]
        if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            _plan_accums(e["sparkPlanInfo"], accums)
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            desc = props.get("spark.job.description")
            if desc is None or not desc.startswith(prefix):
                continue
            job_desc[e["Job ID"]] = desc
            if "spark.sql.execution.id" in props:
                exec_desc[int(props["spark.sql.execution.id"])] = desc
            op = ops.setdefault(desc, OpStats(desc))
            op.jobs.append([e["Job ID"], e["Submission Time"], None])
            for sid in e["Stage IDs"]:
                stage_job.setdefault(sid, e["Job ID"])
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in job_desc:
            for j in ops[job_desc[e["Job ID"]]].jobs:
                if j[0] == e["Job ID"]:
                    j[2] = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            job = stage_job.get(info["Stage ID"])
            if job in job_desc:
                ops[job_desc[job]].stages[info["Stage ID"]] = (
                    job, info.get("Submission Time"), info.get("Completion Time"), info["Stage Name"])
        elif kind == "SparkListenerTaskEnd":
            job = stage_job.get(e["Stage ID"])
            if job in job_desc:
                op = ops[job_desc[job]]
                rec = _task_record(e, accums, op.sums)
                rec["job"] = job
                op.tasks.append(rec)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            desc = exec_desc.get(e["executionId"])
            if desc is None:
                continue
            for acc, value in e["accumUpdates"]:
                if accums.get(acc, ("", ""))[1] == "job commit time":
                    ops[desc].sums["job_commit_ms"] += value
    return ops


def _task_record(e: dict, accums: dict, sums: dict) -> dict:
    info, m = e["Task Info"], e.get("Task Metrics") or {}
    inp = m.get("Input Metrics", {})
    sw = m.get("Shuffle Write Metrics", {})
    sr = m.get("Shuffle Read Metrics", {})
    outm = m.get("Output Metrics", {})
    sums["input_rows"] += inp.get("Records Read", 0)
    sums["input_bytes"] += inp.get("Bytes Read", 0)
    sums["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
    sums["shuffle_write_ms"] += sw.get("Shuffle Write Time", 0) / 1e6  # ns
    sums["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
    sums["task_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6  # ns
    sums["task_run_ms"] += m.get("Executor Run Time", 0)
    sums["gc_ms"] += m.get("JVM GC Time", 0)
    sums["rows_written"] += outm.get("Records Written", 0)
    python = False
    for a in info.get("Accumulables", []):
        name = a.get("Name")
        if name in SQL_SUMS:
            sums[SQL_SUMS[name]] += float(a["Update"])
            python |= name == PY_NODE_METRIC
        elif name == "number of output rows" and accums.get(a["ID"], ("", "", False))[2]:
            sums["py_rows_received"] += float(a["Update"])
    return {
        "stage": e["Stage ID"],
        "task": info["Task ID"],
        "launch_ms": info["Launch Time"],
        "finish_ms": info["Finish Time"],
        "run_ms": m.get("Executor Run Time", 0),
        "python": python,
        "failed": bool(info.get("Failed")) or e.get("Task End Reason", {}).get("Reason") != "Success",
    }


def add_spans(tracer, op: OpStats, trace: int, parent: int) -> None:
    """Job, stage and task spans of one operation, under ``parent``."""
    job_span = {}
    for job, start, end in op.jobs:
        if end is not None:
            job_span[job] = tracer.add("spark.job", start * 1_000_000, end * 1_000_000, trace,
                                       parent, job=job)
    stage_span = {}
    for sid, (job, start, end, name) in op.stages.items():
        if job in job_span and start is not None and end is not None:
            stage_span[sid] = tracer.add("spark.stage", start * 1_000_000, end * 1_000_000,
                                         trace, job_span[job], stage=sid, stage_name=name)
    for t in op.tasks:
        if t["stage"] in stage_span:
            tracer.add("spark.task", t["launch_ms"] * 1_000_000, t["finish_ms"] * 1_000_000,
                       trace, stage_span[t["stage"]], task=t["task"], python=t["python"])
