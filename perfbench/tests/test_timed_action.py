"""End-to-end self-test on a small input: one Spark session, about a minute.

``ann_recall_multiprobe`` loses all of its Python nodes when evaluated with
``count()``; the benchmark's noop write keeps them, so its exec phase must
report Python-worker run time.
"""

import argparse
import os

import pytest

import eventlog
import gen
import layers
import run as bench
from spans import Tracer
from workloads import Workload

Q = "ann_recall_multiprobe"


@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    saved = {v: os.environ.get(v) for v in ("TMPDIR", "SPARK_LOCAL_DIRS", "SPARK_GRAFT_CPUS")}
    mp = pytest.MonkeyPatch()
    mp.setattr(bench, "WORK", str(tmp_path_factory.mktemp("work")))
    wl = Workload("selftest", factor=1, queries=(Q,), stage_frames=False,
                  warmup_passes=0, measured_passes=1)
    r = bench.Run(argparse.Namespace(trace=1, seed=1, seconds=0), wl)
    r.prepare_dirs()
    tracer = Tracer()
    try:
        from sarpro_spark.queries import spark_queries

        qs = spark_queries()
        r.start_session(tracer)
        gen.generate(r.in_dir, 1, seed=1)
        passes, samples = [], []
        for i in range(2):
            rec, dfs = r.run_pass(i, i > 0, [Q], tracer, qs, samples)
            passes.append(rec)
        sc = r.spark.sparkContext
        sc.setJobGroup(f"selftest:{Q}:count", Q)
        with tracer.span("count") as count_span:
            qs[Q](r.spark, r.in_dir).count()
        app_id = sc.applicationId
        r.spark.stop()
        log = eventlog.parse(os.path.join(r.trace_dir, app_id))
        yield r, passes, log, (count_span.start, count_span.end)
    finally:
        r.stop()
        mp.undo()
        for var, val in saved.items():
            if val is None:
                os.environ.pop(var, None)
            else:
                os.environ[var] = val


def test_exec_phase_runs_python_workers(traced):
    _r, passes, log, _ = traced
    for p in passes:
        assert layers.query_pydaemon_run_s("selftest", p, log)[Q] > 0


def test_count_would_skip_the_python_workers(traced):
    _r, _passes, log, (s, e) = traced
    count_py = sum(
        st.py_run_ms for st in log.stages.values()
        if st.group == f"selftest:{Q}:count" and s - 0.002 <= st.submit <= e + 0.002
    )
    assert count_py == 0


def test_cpu_meter_deltas_and_executor_cpu(traced):
    _r, passes, log, _ = traced
    for p in passes:
        assert p.cpu_s >= 0
        for q in p.queries:
            assert q.cpu_s >= 0
        exec_cpu = layers.pass_layers("selftest", p, log)["exec.executor_cpu_s"]
        assert exec_cpu > 0
        assert p.cpu_s >= exec_cpu


def test_executor_time_is_attributed_to_named_groups(traced):
    _r, _passes, log, _ = traced
    assert layers.attributed_run_share("selftest", log) >= 0.95
