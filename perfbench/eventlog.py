"""Parser for Spark's uncompressed JSON event log.

Turns the log of one application into per-job-group totals: jobs, stages,
tasks, task run / CPU / GC time, shuffle, spill, input bytes, and the
Python-worker boundary counters (bytes sent and returned, worker start
time) that Spark reports as SQL accumulables on each task-end event.

Tasks are attributed to a group through the stage that ran them: a
stage-submitted event carries the submitting thread's local properties,
including `spark.jobGroup.id`. Stages that a job skipped (their output
was reused) never run tasks and are not counted.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

GROUP_PROP = "spark.jobGroup.id"
NO_GROUP = ""

# SQL accumulables on task-end events -> GroupStats field. Python timings
# are reported in milliseconds.
_ACCUMS = {
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_returned",
    "time to start Python workers": "py_worker_start_ms",
}


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    py_bytes_sent: int = 0
    py_bytes_returned: int = 0
    py_worker_start_ms: int = 0
    # (submission_ms, completion_ms) of every job, for busy-time unions
    job_spans: list = field(default_factory=list)

    def add(self, other: "GroupStats") -> None:
        for k, v in vars(other).items():
            if k == "job_spans":
                self.job_spans.extend(v)
            else:
                setattr(self, k, getattr(self, k) + v)


def busy_ms(spans: list[tuple[int, int]]) -> int:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def parse(lines) -> dict[str, GroupStats]:
    """Per-group totals from event-log lines (an iterable of JSON strings).
    Jobs and stages submitted without a group land under NO_GROUP."""
    groups: dict[str, GroupStats] = {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}

    def g(name: str) -> GroupStats:
        return groups.setdefault(name, GroupStats())

    for line in lines:
        if not line.strip():
            continue
        e = json.loads(line)
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            grp = (e.get("Properties") or {}).get(GROUP_PROP) or NO_GROUP
            job_group[e["Job ID"]] = grp
            job_start[e["Job ID"]] = e["Submission Time"]
            g(grp).jobs += 1
        elif ev == "SparkListenerJobEnd":
            jid = e["Job ID"]
            if jid in job_start:
                g(job_group[jid]).job_spans.append((job_start[jid], e["Completion Time"]))
        elif ev == "SparkListenerStageSubmitted":
            sid = e["Stage Info"]["Stage ID"]
            grp = (e.get("Properties") or {}).get(GROUP_PROP) or NO_GROUP
            if sid not in stage_group:
                g(grp).stages += 1
            stage_group[sid] = grp
        elif ev == "SparkListenerTaskEnd":
            st = g(stage_group.get(e["Stage ID"], NO_GROUP))
            st.tasks += 1
            if e.get("Task End Reason", {}).get("Reason") != "Success":
                st.failed_tasks += 1
            m = e.get("Task Metrics") or {}
            st.run_ms += m.get("Executor Run Time", 0)
            st.cpu_ns += m.get("Executor CPU Time", 0)
            st.gc_ms += m.get("JVM GC Time", 0)
            st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            rd = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            st.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            st.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            for acc in e.get("Task Info", {}).get("Accumulables", []):
                f = _ACCUMS.get(acc.get("Name"))
                if f is not None and acc.get("Update") is not None:
                    setattr(st, f, getattr(st, f) + int(acc["Update"]))
    return groups


def parse_dir(eventlog_dir: str) -> dict[str, GroupStats]:
    """Per-group totals of the one application whose plain (not rolling)
    log is the single file under `eventlog_dir`."""
    files = [f for f in os.listdir(eventlog_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise FileNotFoundError(f"expected one Spark event log under {eventlog_dir}, found {files}")
    with open(os.path.join(eventlog_dir, files[0])) as fh:
        return parse(fh)
