"""Per-layer numbers of a traced run, derived offline.

Inputs are the benchmark's own pass records (spans around the calls into
each layer) and the parsed Spark event log.  A job belongs to the span
whose job group it carries (``<workload>:<query>:<phase>``) and inside
whose interval it was submitted; a stage or task belongs to a pass when its
stage was submitted inside that pass.  Every metric is the median over the
measured passes, except the run-level ones at the end of :func:`compute`.
"""

from __future__ import annotations

import re
import statistics
from dataclasses import dataclass, field

from eventlog import EventLog
from spans import covered

MB = 1024.0 * 1024.0
#: job submit times are whole milliseconds; span edges are not
SLACK_S = 0.002


@dataclass
class QueryRec:
    query: str
    construct: tuple[float, float]
    exec: tuple[float, float] | None = None
    cpu_s: float = 0.0


@dataclass
class PassRec:
    index: int
    start: float
    end: float
    stage: tuple[float, float] | None = None
    queries: list[QueryRec] = field(default_factory=list)
    sink_bytes: int = 0
    sink_files: int = 0
    cpu_s: float = 0.0
    steal_ticks: int = 0
    measured: bool = True

    @property
    def wall(self) -> float:
        return self.end - self.start


def _jobs_in(log: EventLog, group: str, span: tuple[float, float]) -> list[tuple[float, float]]:
    s, e = span
    return [
        (j.submit, j.end or e)
        for j in log.jobs.values()
        if j.group == group and s - SLACK_S <= j.submit <= e + SLACK_S
    ]


def pass_layers(workload: str, p: PassRec, log: EventLog) -> dict[str, float]:
    m: dict[str, float] = {}
    construct_s = construct_self = eager_s = 0.0
    eager_jobs = 0
    write_s = exec_self = 0.0
    exec_jobs = 0
    for q in p.queries:
        cs, ce = q.construct
        jobs = _jobs_in(log, f"{workload}:{q.query}:construct", q.construct)
        busy = covered(cs, ce, jobs)
        construct_s += ce - cs
        construct_self += (ce - cs) - busy
        eager_s += busy
        eager_jobs += len(jobs)
        if q.exec is not None:
            xs, xe = q.exec
            jobs = _jobs_in(log, f"{workload}:{q.query}:exec", q.exec)
            write_s += xe - xs
            exec_self += (xe - xs) - covered(xs, xe, jobs)
            exec_jobs += len(jobs)
    m["queries.construct_s"] = construct_s
    m["queries.construct_self_s"] = construct_self
    m["queries.eager_jobs"] = eager_jobs
    m["queries.eager_job_s"] = eager_s
    m["exec.write_s"] = write_s
    m["exec.self_s"] = exec_self
    m["exec.jobs"] = exec_jobs

    prefix = f"{workload}:"
    in_pass = [
        st for st in log.stages.values()
        if st.group.startswith(prefix) and p.start - SLACK_S <= st.submit <= p.end + SLACK_S
    ]
    ex = [st for st in in_pass if st.group.endswith(":exec")]
    m["exec.stages"] = len(ex)
    m["exec.tasks"] = sum(st.tasks for st in ex)
    m["exec.tasks_failed"] = sum(st.tasks_failed for st in ex)
    m["exec.task_wait_s"] = sum(st.task_wait_ms for st in ex) / 1e3
    run_s = sum(st.run_ms for st in ex) / 1e3
    cpu_s = sum(st.cpu_ns for st in ex) / 1e9
    m["exec.executor_run_s"] = run_s
    m["exec.executor_cpu_s"] = cpu_s
    m["exec.cpu_util"] = cpu_s / run_s if run_s > 0 else 0.0
    m["exec.gc_s"] = sum(st.gc_ms for st in ex) / 1e3
    m["exec.shuffle_write_mb"] = sum(st.shuffle_write for st in ex) / MB
    m["exec.shuffle_read_mb"] = sum(st.shuffle_read for st in ex) / MB
    m["exec.fetch_wait_s"] = sum(st.fetch_wait_ms for st in ex) / 1e3
    m["exec.spill_mb"] = sum(st.spill for st in ex) / MB
    m["exec.peak_exec_mem_mb"] = max((st.peak_exec_mem for st in ex), default=0) / MB

    m["pydaemon.start_s"] = sum(st.py_start_ms for st in in_pass) / 1e3
    m["pydaemon.init_s"] = sum(st.py_init_ms for st in in_pass) / 1e3
    m["pydaemon.run_s"] = sum(st.py_run_ms for st in in_pass) / 1e3
    m["pydaemon.sent_mb"] = sum(st.py_sent for st in in_pass) / MB
    m["pydaemon.recv_mb"] = sum(st.py_recv for st in in_pass) / MB

    m["frames.stage_s"] = (p.stage[1] - p.stage[0]) if p.stage else 0.0
    m["sinks.bytes_written_mb"] = (sum(st.bytes_written for st in in_pass) + p.sink_bytes) / MB
    m["sinks.files_written"] = p.sink_files

    spans_s = construct_s + write_s + m["frames.stage_s"]
    m["trace.span_coverage"] = spans_s / p.wall if p.wall > 0 else 0.0
    m["trace.cpu_s"] = p.cpu_s
    return m


def query_pydaemon_run_s(workload: str, p: PassRec, log: EventLog, phase: str = "exec") -> dict[str, float]:
    """Python-worker run time per query in one phase of one pass."""
    out: dict[str, float] = {}
    for q in p.queries:
        group = f"{workload}:{q.query}:{phase}"
        out[q.query] = sum(
            st.py_run_ms for st in log.stages.values()
            if st.group == group and p.start - SLACK_S <= st.submit <= p.end + SLACK_S
        ) / 1e3
    return out


def attributed_run_share(workload: str, log: EventLog) -> float:
    """Share of all executor run time whose stage carries a named group."""
    named = re.compile(rf"^{re.escape(workload)}:[^:]+:[^:]+$")
    total = sum(st.run_ms for st in log.stages.values())
    hit = sum(st.run_ms for st in log.stages.values() if named.match(st.group))
    return hit / total if total else 0.0


def compute(workload: str, passes: list[PassRec], log: EventLog) -> dict[str, float]:
    measured = [p for p in passes if p.measured] or passes
    rows = [pass_layers(workload, p, log) for p in measured]
    out = {k: statistics.median(r[k] for r in rows) for k in rows[0] if k != "trace.span_coverage"}
    out["trace.span_coverage_min"] = min(r["trace.span_coverage"] for r in rows)
    out["trace.attributed_run_share"] = attributed_run_share(workload, log)
    return out
