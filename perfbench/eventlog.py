"""Spark event-log reader: per-job and per-stage task metrics.

The traced run tags every Spark job with the id of the span that was
innermost when the job fired (``spark.job.description``); this module
reads the event log Spark wrote for that run and folds task metrics up
to stages, jobs and finally spans.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from dataclasses import dataclass, field
from statistics import median


@dataclass
class StageStats:
    stage_id: int
    span: str | None = None
    submit_ms: int = 0
    complete_ms: int = 0
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_records: int = 0
    spill_bytes: int = 0
    task_ms: list[int] = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return max(self.complete_ms - self.submit_ms, 0) / 1000.0

    @property
    def task_skew(self) -> float:
        """Longest task over the median task of the stage."""
        if not self.task_ms:
            return 0.0
        mid = median(self.task_ms)
        return max(self.task_ms) / mid if mid > 0 else 0.0


@dataclass
class JobStats:
    job_id: int
    span: str | None
    stage_ids: list[int] = field(default_factory=list)


def find_log(log_dir: str) -> str:
    """The single application log under ``log_dir`` (one app per run)."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}: {names}")
    return os.path.join(log_dir, names[0])


def read_event_log(path: str) -> tuple[dict[int, JobStats],
                                       dict[int, StageStats]]:
    jobs: dict[int, JobStats] = {}
    stages: dict[int, StageStats] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = JobStats(ev["Job ID"], props.get("spark.job.description"),
                               list(ev.get("Stage IDs", [])))
                jobs[job.job_id] = job
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                props = ev.get("Properties") or {}
                st = stages.setdefault(info["Stage ID"],
                                       StageStats(info["Stage ID"]))
                st.span = props.get("spark.job.description")
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages.setdefault(info["Stage ID"],
                                       StageStats(info["Stage ID"]))
                st.submit_ms = info.get("Submission Time", 0)
                st.complete_ms = info.get("Completion Time", 0)
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], StageStats(ev["Stage ID"]))
                m = ev.get("Task Metrics") or {}
                info = ev.get("Task Info") or {}
                st.tasks += 1
                st.run_ms += m.get("Executor Run Time", 0)
                st.cpu_ns += m.get("Executor CPU Time", 0)
                st.gc_ms += m.get("JVM GC Time", 0)
                st.spill_bytes += (m.get("Memory Bytes Spilled", 0)
                                   + m.get("Disk Bytes Spilled", 0))
                sw = m.get("Shuffle Write Metrics") or {}
                st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                st.shuffle_records += sw.get("Shuffle Records Written", 0)
                if info.get("Finish Time") and info.get("Launch Time"):
                    st.task_ms.append(info["Finish Time"] - info["Launch Time"])
    return jobs, stages


def fold_by_span(jobs: dict[int, JobStats],
                 stages: dict[int, StageStats]) -> dict[str, dict]:
    """Per span id: job count and summed stage metrics of the stages the
    span's jobs actually ran (a reused shuffle stage counts once, for the
    job that submitted it)."""
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for job in jobs.values():
        if job.span is not None:
            out[job.span]["jobs"] += 1
    for st in stages.values():
        if st.span is None or st.tasks == 0:
            continue
        agg = out[st.span]
        agg["stages"] += 1
        agg["tasks"] += st.tasks
        agg["executor_run_s"] += st.run_ms / 1000.0
        agg["executor_cpu_s"] += st.cpu_ns / 1e9
        agg["gc_s"] += st.gc_ms / 1000.0
        agg["shuffle_write_bytes"] += st.shuffle_write_bytes
        agg["shuffle_records"] += st.shuffle_records
        agg["spill_bytes"] += st.spill_bytes
        agg["stage_wall_s"] += st.wall_s
    return {k: dict(v) for k, v in out.items()}
