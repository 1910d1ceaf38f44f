"""Spark event log -> per-job-group table.

Reads the JSON-lines event log a SparkContext writes with
``spark.eventLog.enabled=true`` and sums, per job group (the
``spark.jobGroup.id`` property the caller sets with ``setJobGroup``), the
task metrics of every task that ran in that group's stages, plus the SQL
accumulables Spark attaches to tasks (Python worker time and the bytes sent
to and returned from Python workers).

Usage as a script prints the table of one log:
    python3 perfbench/eventlog.py <event log file or eventlog_v2_* dir>
"""

from __future__ import annotations

import json
import os
import statistics
import sys
from dataclasses import dataclass, field

NO_GROUP = "(none)"

# SQL accumulable name -> GroupStats field; values are summed per task
SQL_METRICS = {
    "time to run Python workers": "python_run_ms",
    "time to start Python workers": "python_boot_ms",
    "data sent to Python workers": "arrow_sent_bytes",
    "data returned from Python workers": "arrow_recv_bytes",
}


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    job_ms: int = 0
    task_ms: dict[int, list[int]] = field(default_factory=dict)  # per stage
    gc_ms: int = 0
    records_read: int = 0
    records_written: int = 0
    bytes_written: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    memory_spill_bytes: int = 0
    disk_spill_bytes: int = 0
    python_run_ms: int = 0
    python_boot_ms: int = 0
    arrow_sent_bytes: int = 0
    arrow_recv_bytes: int = 0

    @property
    def task_skew(self) -> float:
        """Longest over median task time in the most skewed stage that ran
        more than one task (1.0 when no stage did)."""
        skews = [max(ts) / statistics.median(ts) for ts in self.task_ms.values()
                 if len(ts) > 1 and statistics.median(ts) > 0]
        return max(skews, default=1.0)

    def merged(self, other: "GroupStats") -> "GroupStats":
        out = GroupStats()
        for name in out.__dataclass_fields__:
            if name == "task_ms":
                out.task_ms = {**self.task_ms, **other.task_ms}
            else:
                setattr(out, name, getattr(self, name) + getattr(other, name))
        return out


def event_files(path: str) -> list[str]:
    """The event files of one application: ``path`` itself, or the
    ``events_*`` files of a rolling (``eventlog_v2_*``) directory in order."""
    if os.path.isfile(path):
        return [path]
    names = [n for n in os.listdir(path) if n.startswith("events_")]
    return [os.path.join(path, n) for n in sorted(names, key=lambda n: int(n.split("_")[1]))]


def read_events(path: str):
    for f in event_files(path):
        with open(f) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def group_table(events) -> dict[str, GroupStats]:
    """Per job group statistics of one application's events."""
    groups: dict[str, GroupStats] = {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id") or NO_GROUP
            job_group[e["Job ID"]] = g
            job_start[e["Job ID"]] = e["Submission Time"]
            st = groups.setdefault(g, GroupStats())
            st.jobs += 1
            for sid in e["Stage IDs"]:
                stage_group[sid] = g
        elif kind == "SparkListenerJobEnd":
            g = job_group.get(e["Job ID"], NO_GROUP)
            start = job_start.get(e["Job ID"], e["Completion Time"])
            groups.setdefault(g, GroupStats()).job_ms += e["Completion Time"] - start
        elif kind == "SparkListenerStageCompleted":
            g = stage_group.get(e["Stage Info"]["Stage ID"], NO_GROUP)
            groups.setdefault(g, GroupStats()).stages += 1
        elif kind == "SparkListenerTaskEnd":
            _add_task(groups.setdefault(stage_group.get(e["Stage ID"], NO_GROUP), GroupStats()), e)
    return groups


def _add_task(st: GroupStats, e: dict) -> None:
    info, m = e["Task Info"], e.get("Task Metrics") or {}
    st.tasks += 1
    st.task_ms.setdefault(e["Stage ID"], []).append(info["Finish Time"] - info["Launch Time"])
    st.gc_ms += m.get("JVM GC Time", 0)
    st.memory_spill_bytes += m.get("Memory Bytes Spilled", 0)
    st.disk_spill_bytes += m.get("Disk Bytes Spilled", 0)
    sr = m.get("Shuffle Read Metrics", {})
    st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    st.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
    st.records_read += m.get("Input Metrics", {}).get("Records Read", 0)
    out = m.get("Output Metrics", {})
    st.records_written += out.get("Records Written", 0)
    st.bytes_written += out.get("Bytes Written", 0)
    for acc in info.get("Accumulables", []):
        name = SQL_METRICS.get(acc.get("Name"))
        if name is not None and acc.get("Update") is not None:
            setattr(st, name, getattr(st, name) + int(acc["Update"]))


def total(groups: dict[str, GroupStats]) -> GroupStats:
    out = GroupStats()
    for st in groups.values():
        out = out.merged(st)
    return out


def format_table(groups: dict[str, GroupStats]) -> str:
    cols = ("group", "jobs", "tasks", "job_s", "rows_in", "rows_out", "skew", "gc_s", "shuf_r_MiB",
            "shuf_w_MiB", "spill_MiB", "py_run_s", "py_boot_s", "arrow_out_MiB", "arrow_in_MiB")
    lines = ["  ".join(cols)]
    for g, st in groups.items():
        lines.append("  ".join(str(v) for v in (
            g, st.jobs, st.tasks, f"{st.job_ms / 1e3:.3f}", st.records_read, st.records_written,
            f"{st.task_skew:.2f}", f"{st.gc_ms / 1e3:.3f}", f"{st.shuffle_read_bytes / 2**20:.2f}",
            f"{st.shuffle_write_bytes / 2**20:.2f}",
            f"{(st.disk_spill_bytes + st.memory_spill_bytes) / 2**20:.2f}", f"{st.python_run_ms / 1e3:.3f}",
            f"{st.python_boot_ms / 1e3:.3f}", f"{st.arrow_sent_bytes / 2**20:.2f}",
            f"{st.arrow_recv_bytes / 2**20:.2f}",
        )))
    return "\n".join(lines)


if __name__ == "__main__":
    print(format_table(group_table(read_events(sys.argv[1]))))
