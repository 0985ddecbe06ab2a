"""Offline reader for Spark's JSON event log (uncompressed, one file).

Only job, stage and task events are decoded; the large SQL plan events are
skipped by their prefix before any JSON parsing.  Every stage is attributed
to the job group it was submitted under (``<workload>:<query>:<phase>``),
and its tasks' metrics are summed per stage.  Python-worker time and bytes
come from the SQL metrics Spark reports per task as named accumulables.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

#: SQL metric names of the Python-worker boundary -> StageAgg attribute
PYTHON_METRICS = {
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "py_sent",
    "data returned from Python workers": "py_recv",
}

_WANTED = (
    '{"Event":"SparkListenerJobStart"',
    '{"Event":"SparkListenerJobEnd"',
    '{"Event":"SparkListenerStageSubmitted"',
    '{"Event":"SparkListenerStageCompleted"',
    '{"Event":"SparkListenerTaskEnd"',
)


@dataclass
class Job:
    job_id: int
    group: str
    submit: float
    end: float = 0.0
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class StageAgg:
    stage_id: int
    attempt: int
    group: str = ""
    submit: float = 0.0
    tasks: int = 0
    tasks_failed: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write: int = 0
    shuffle_read: int = 0
    fetch_wait_ms: int = 0
    spill: int = 0
    peak_exec_mem: int = 0
    bytes_written: int = 0
    task_wait_ms: int = 0
    py_start_ms: int = 0
    py_init_ms: int = 0
    py_run_ms: int = 0
    py_sent: int = 0
    py_recv: int = 0


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages: dict[tuple[int, int], StageAgg]


def _group(props: dict | None) -> str:
    return (props or {}).get("spark.jobGroup.id") or ""


def parse(path: str) -> EventLog:
    jobs: dict[int, Job] = {}
    stages: dict[tuple[int, int], StageAgg] = {}
    launches: dict[tuple[int, int], list[float]] = {}

    def stage(sid: int, att: int) -> StageAgg:
        key = (sid, att)
        if key not in stages:
            stages[key] = StageAgg(sid, att)
        return stages[key]

    with open(path, encoding="utf-8") as fh:
        for line in fh:
            if not line.startswith(_WANTED):
                continue
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerTaskEnd":
                st = stage(e["Stage ID"], e["Stage Attempt ID"])
                info = e["Task Info"]
                st.tasks += 1
                if info.get("Failed") or info.get("Killed"):
                    st.tasks_failed += 1
                launches.setdefault((st.stage_id, st.attempt), []).append(info["Launch Time"])
                m = e.get("Task Metrics") or {}
                st.run_ms += m.get("Executor Run Time", 0)
                st.cpu_ns += m.get("Executor CPU Time", 0)
                st.gc_ms += m.get("JVM GC Time", 0)
                st.spill += m.get("Disk Bytes Spilled", 0)
                st.peak_exec_mem = max(st.peak_exec_mem, m.get("Peak Execution Memory", 0))
                sr = m.get("Shuffle Read Metrics") or {}
                st.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                st.fetch_wait_ms += sr.get("Fetch Wait Time", 0)
                st.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                st.bytes_written += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                for acc in info.get("Accumulables", ()):
                    attr = PYTHON_METRICS.get(acc.get("Name"))
                    if attr is not None:
                        setattr(st, attr, getattr(st, attr) + int(acc.get("Update") or 0))
            elif kind == "SparkListenerJobStart":
                jobs[e["Job ID"]] = Job(
                    job_id=e["Job ID"],
                    group=_group(e.get("Properties")),
                    submit=e["Submission Time"] / 1000.0,
                    stage_ids=list(e.get("Stage IDs", ())),
                )
            elif kind == "SparkListenerJobEnd":
                job = jobs.get(e["Job ID"])
                if job is not None:
                    job.end = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageSubmitted":
                si = e["Stage Info"]
                st = stage(si["Stage ID"], si["Stage Attempt ID"])
                st.group = _group(e.get("Properties"))
                st.submit = (si.get("Submission Time") or 0) / 1000.0
            elif kind == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                st = stage(si["Stage ID"], si["Stage Attempt ID"])
                st.submit = (si.get("Submission Time") or 0) / 1000.0 or st.submit

    # stages submitted without properties inherit the first job that lists them
    owner: dict[int, str] = {}
    for job in sorted(jobs.values(), key=lambda j: j.job_id):
        for sid in job.stage_ids:
            owner.setdefault(sid, job.group)
    for key, st in stages.items():
        if not st.group:
            st.group = owner.get(st.stage_id, "")
        if st.submit:
            st.task_wait_ms = int(sum(max(0.0, t - st.submit * 1000.0) for t in launches.get(key, ())))
    return EventLog(jobs=jobs, stages=stages)
