"""Reader for Spark's JSON event log, grouped by job group.

Spark 4.1 writes a rolling log: a directory ``eventlog_v2_<appId>`` holding
``events_<n>_<appId>`` files of one JSON event per line (uncompressed when
``spark.eventLog.compress=false``; the default zstd codec has no Python
reader here). The benchmark sets the job group to the op id, so every job,
stage and task of an op can be found from its ``spark.jobGroup.id``.

    python3 perfbench/eventlog.py <eventlog_v2_dir>
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from dataclasses import dataclass, field

# SQL metrics of the Python-worker boundary (mapInPandas, pandas UDFs),
# summed from task accumulator updates as Spark reports them (its timing
# metrics are milliseconds).
PYTHON_ACCUMULABLES = {
    "time to run Python workers": "worker_run_ms",
    "time to start Python workers": "worker_boot_ms",
    "time to initialize Python workers": "worker_boot_ms",
    "data sent to Python workers": "bytes_to_worker",
    "data returned from Python workers": "bytes_from_worker",
}


@dataclass
class Job:
    job_id: int
    start_ms: int
    end_ms: int = 0
    stage_ids: tuple[int, ...] = ()


@dataclass
class GroupStats:
    """Everything one job group ran."""

    jobs: list[Job] = field(default_factory=list)
    stages: int = 0
    tasks: int = 0
    task_run_ms: int = 0
    task_cpu_ns: int = 0
    gc_ms: int = 0
    sched_delay_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    python: dict[str, int] = field(default_factory=dict)
    # (stage id, submitted ms, completed ms) and (task id, stage id, launch ms, finish ms)
    stage_times: list[tuple[int, int, int]] = field(default_factory=list)
    task_times: list[tuple[int, int, int, int]] = field(default_factory=list)


def _event_files(log_dir: str) -> list[str]:
    def index(path: str) -> int:
        m = re.match(r"events_(\d+)_", os.path.basename(path))
        return int(m.group(1)) if m else 0

    files = glob.glob(os.path.join(log_dir, "events_*"))
    if not files:
        raise FileNotFoundError(f"no events_* files in {log_dir}")
    return sorted(files, key=index)


def _sched_delay_ms(info: dict, metrics: dict) -> int:
    duration = info["Finish Time"] - info["Launch Time"]
    busy = (
        metrics.get("Executor Run Time", 0)
        + metrics.get("Executor Deserialize Time", 0)
        + metrics.get("Result Serialization Time", 0)
        + info.get("Getting Result Time", 0)
    )
    return max(0, duration - busy)


def read_event_log(log_dir: str) -> dict[str, GroupStats]:
    """Per-job-group totals from the rolling event log in ``log_dir``.

    Stages count once per submitted attempt (skipped stages are never
    submitted); tasks count once per finished task.
    """
    groups: dict[str, GroupStats] = {}
    job_of_stage: dict[int, str] = {}
    jobs: dict[int, Job] = {}
    for path in _event_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    job = Job(ev["Job ID"], ev["Submission Time"],
                              stage_ids=tuple(ev["Stage IDs"]))
                    jobs[job.job_id] = job
                    groups.setdefault(group, GroupStats()).jobs.append(job)
                    for sid in job.stage_ids:
                        job_of_stage[sid] = group
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
                elif kind == "SparkListenerStageSubmitted":
                    group = job_of_stage.get(ev["Stage Info"]["Stage ID"])
                    if group is not None:
                        groups[group].stages += 1
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    group = job_of_stage.get(info["Stage ID"])
                    if group is not None and "Submission Time" in info:
                        groups[group].stage_times.append(
                            (info["Stage ID"], info["Submission Time"], info["Completion Time"]))
                elif kind == "SparkListenerTaskEnd":
                    group = job_of_stage.get(ev["Stage ID"])
                    if group is not None:
                        _add_task(groups[group], ev)
    return groups


def _add_task(g: GroupStats, ev: dict) -> None:
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    g.tasks += 1
    g.task_times.append((info["Task ID"], ev["Stage ID"], info["Launch Time"], info["Finish Time"]))
    g.task_run_ms += m.get("Executor Run Time", 0)
    g.task_cpu_ns += m.get("Executor CPU Time", 0)
    g.gc_ms += m.get("JVM GC Time", 0)
    g.sched_delay_ms += _sched_delay_ms(info, m)
    g.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
    read = m.get("Shuffle Read Metrics", {})
    g.shuffle_read_bytes += read.get("Remote Bytes Read", 0) + read.get("Local Bytes Read", 0)
    g.spill_bytes += m.get("Disk Bytes Spilled", 0)
    for acc in info.get("Accumulables", []):
        key = PYTHON_ACCUMULABLES.get(acc.get("Name"))
        if key is not None:
            g.python[key] = g.python.get(key, 0) + int(acc.get("Update", 0))


def find_log_dir(root: str) -> str:
    """The single ``eventlog_v2_*`` directory Spark wrote under ``root``."""
    dirs = glob.glob(os.path.join(root, "eventlog_v2_*"))
    if len(dirs) != 1:
        raise FileNotFoundError(f"expected one eventlog_v2_* dir in {root}, found {dirs}")
    return dirs[0]


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    for name, g in sorted(read_event_log(sys.argv[1]).items()):
        print(name, len(g.jobs), "jobs", g.stages, "stages", g.tasks, "tasks", g.python)
