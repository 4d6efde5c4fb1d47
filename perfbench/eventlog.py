"""Read a Spark event log (uncompressed JSON lines) into per-job-group
figures.

Jobs are attributed to the job group set when they were submitted
(``spark.jobGroup.id`` in ``SparkListenerJobStart``); tasks to the jobs of
their stage. From each ``SparkListenerTaskEnd`` the reader sums the task
metrics and the Python SQL metrics the accumulables carry ("time to start
Python workers", "time to run Python workers", "data sent to Python
workers").
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field

#: SQL metric name in the task accumulables → (figure, scale to seconds/bytes)
PYTHON_METRICS = {
    "time to start Python workers": ("python_boot_s", 1e-3),
    "time to run Python workers": ("python_run_s", 1e-3),
    "data sent to Python workers": ("python_bytes_sent", 1),
}

FIGURES = (
    "jobs", "tasks", "failed_tasks", "run_s", "cpu_s", "gc_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_s",
    "spill_bytes", "input_bytes", "output_bytes", "output_records",
    "python_boot_s", "python_run_s", "python_bytes_sent",
)


@dataclass
class Job:
    job_id: int
    group: str | None
    start: float  # epoch seconds
    end: float


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    #: group id (or None for jobs outside any group) → figure → value
    groups: dict = field(default_factory=lambda: defaultdict(lambda: dict.fromkeys(FIGURES, 0)))

    def total(self, groups: set[str]) -> dict[str, float]:
        """Every figure summed over the jobs of ``groups``."""
        out = dict.fromkeys(FIGURES, 0)
        for g, figs in self.groups.items():
            if g in groups:
                for k, v in figs.items():
                    out[k] += v
        return out

    def job_intervals(self, groups: set[str]) -> list[tuple[float, float]]:
        return [(j.start, j.end) for j in self.jobs.values() if j.group in groups]


def _add_task(figs: dict, ev: dict) -> None:
    info = ev.get("Task Info", {})
    figs["tasks"] += 1
    if info.get("Failed") or ev.get("Task End Reason", {}).get("Reason", "Success") != "Success":
        figs["failed_tasks"] += 1
    m = ev.get("Task Metrics") or {}
    figs["run_s"] += m.get("Executor Run Time", 0) / 1e3
    figs["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    figs["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    sr = m.get("Shuffle Read Metrics", {})
    figs["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    figs["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
    figs["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
    figs["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    figs["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
    out = m.get("Output Metrics", {})
    figs["output_bytes"] += out.get("Bytes Written", 0)
    figs["output_records"] += out.get("Records Written", 0)
    for acc in info.get("Accumulables", []):
        known = PYTHON_METRICS.get(acc.get("Name"))
        if known is not None and acc.get("Update") is not None:
            figs[known[0]] += float(acc["Update"]) * known[1]


def read(path: str) -> EventLog:
    log = EventLog()
    stage_job: dict[int, int] = {}
    pending: dict[int, list[dict]] = defaultdict(list)  # tasks seen before their job
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = Job(ev["Job ID"], props.get("spark.jobGroup.id"),
                          ev.get("Submission Time", 0) / 1e3, float("nan"))
                log.jobs[job.job_id] = job
                log.groups[job.group]["jobs"] += 1
                for s in ev.get("Stage IDs", []):
                    stage_job.setdefault(s, job.job_id)
                    for task in pending.pop(s, []):
                        _add_task(log.groups[job.group], task)
            elif kind == "SparkListenerJobEnd":
                job = log.jobs.get(ev["Job ID"])
                if job is not None:
                    job.end = ev.get("Completion Time", 0) / 1e3
            elif kind == "SparkListenerTaskEnd":
                s = ev.get("Stage ID")
                if s in stage_job:
                    _add_task(log.groups[log.jobs[stage_job[s]].group], ev)
                else:
                    pending[s].append(ev)
    for tasks in pending.values():
        for task in tasks:
            _add_task(log.groups[None], task)
    return log
