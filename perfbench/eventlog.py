"""Per-layer counters from Spark's own event log.

Spark writes the log when ``spark.eventLog.enabled`` is set; the benchmark
turns it on through ``PYSPARK_SUBMIT_ARGS`` (uncompressed, because the
``zstandard`` module is absent). Spark 4 rolls the log into an
``eventlog_v2_*`` directory of ``events_<n>_*`` files; a plain single
file is read too.

Jobs are attributed to the job group the benchmark set before it called
into the engine, so construction-time jobs and execution jobs of each
query are told apart.
"""

from __future__ import annotations

import json
import os
import re
from collections import defaultdict
from dataclasses import dataclass, field

# SQL metrics of the Python boundary, by their display names in Spark 4.1.
PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


COUNTERS = (
    "jobs", "tasks", "task_cpu_s", "gc_s", "input_mb", "shuffle_read_mb",
    "shuffle_write_mb", "spill_mb", "python_run_s", "python_sent_mb", "python_recv_mb",
)


@dataclass
class JobCounters:
    jobs: int = 0
    tasks: int = 0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    input_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    python_run_s: float = 0.0
    python_sent_mb: float = 0.0
    python_recv_mb: float = 0.0
    submit_ms: list[int] = field(default_factory=list)

    def add(self, other: "JobCounters") -> None:
        for k, v in vars(other).items():
            if k == "submit_ms":
                self.submit_ms.extend(v)
            else:
                setattr(self, k, getattr(self, k) + v)


def _applications(log_dir: str) -> list[list[str]]:
    """The log files of each application (one Spark context), in order."""
    apps = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if os.path.isdir(path) and entry.startswith("eventlog_v2_"):
            parts = [p for p in os.listdir(path) if p.startswith("events_")]
            parts.sort(key=lambda p: int(re.match(r"events_(\d+)_", p).group(1)))
            apps.append([os.path.join(path, p) for p in parts])
        elif os.path.isfile(path) and not entry.startswith("."):
            apps.append([path])
    return apps


def read_jobs(log_dir: str) -> list[tuple[str | None, JobCounters]]:
    """(job group, counters summed over the job's tasks) for every job of
    every application logged in ``log_dir``."""
    out: list[tuple[str | None, JobCounters]] = []
    for files in _applications(log_dir):
        stage_job: dict[int, JobCounters] = {}
        for path in files:
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        c = JobCounters(jobs=1, submit_ms=[ev.get("Submission Time", 0)])
                        out.append(((ev.get("Properties") or {}).get("spark.jobGroup.id"), c))
                        for sid in ev.get("Stage IDs", []):
                            stage_job[sid] = c
                    elif kind == "SparkListenerTaskEnd":
                        c = stage_job.get(ev.get("Stage ID"))
                        if c is not None:
                            _add_task(c, ev)
    return out


def _add_task(c: JobCounters, ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    c.tasks += 1
    c.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
    c.gc_s += m.get("JVM GC Time", 0) / 1e3
    c.input_mb += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / 2**20
    sr = m.get("Shuffle Read Metrics") or {}
    c.shuffle_read_mb += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / 2**20
    c.shuffle_write_mb += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 2**20
    c.spill_mb += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / 2**20
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        name, upd = acc.get("Name"), acc.get("Update")
        if upd is None or name not in (PY_RUN, PY_SENT, PY_RECV):
            continue
        v = float(upd)
        if name == PY_RUN:
            c.python_run_s += v / 1e3  # timing SQL metrics report milliseconds
        elif name == PY_SENT:
            c.python_sent_mb += v / 2**20
        else:
            c.python_recv_mb += v / 2**20


def by_group(jobs: list[tuple[str | None, JobCounters]]) -> dict[str | None, JobCounters]:
    out: dict[str | None, JobCounters] = defaultdict(JobCounters)
    for group, c in jobs:
        out[group].add(c)
    return dict(out)
