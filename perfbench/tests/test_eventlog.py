import os

import eventlog
import layers

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "small_eventlog.json")


def stages(log, group):
    return [s for s in log.stages.values() if s.group == group]


def test_jobs_carry_their_groups_and_end_after_submit():
    log = eventlog.parse(LOG)
    assert {"t:agg:exec", "t:py:exec", "t:retry:exec"} <= {j.group for j in log.jobs.values()}
    for j in log.jobs.values():
        assert j.end >= j.submit > 0


def test_shuffle_and_executor_metrics_of_a_jvm_aggregate():
    agg = stages(eventlog.parse(LOG), "t:agg:exec")
    assert len(agg) >= 2  # map side and reduce side of the shuffle
    assert sum(s.shuffle_write for s in agg) > 0
    assert sum(s.shuffle_read for s in agg) == sum(s.shuffle_write for s in agg)
    assert sum(s.tasks for s in agg) >= 3
    assert all(s.run_ms >= 0 and s.cpu_ns >= 0 and s.task_wait_ms >= 0 for s in agg)
    assert sum(s.py_run_ms + s.py_sent + s.py_recv for s in agg) == 0


def test_python_worker_metrics_of_map_in_pandas():
    py = stages(eventlog.parse(LOG), "t:py:exec")
    assert sum(s.py_sent for s in py) > 0
    assert sum(s.py_recv for s in py) > 0
    assert sum(s.py_run_ms + s.py_init_ms for s in py) > 0


def test_failed_attempt_is_counted():
    retry = stages(eventlog.parse(LOG), "t:retry:exec")
    assert sum(s.tasks_failed for s in retry) == 1
    assert sum(s.tasks for s in retry) == 3  # two partitions, one retried


def test_every_stage_is_attributed():
    log = eventlog.parse(LOG)
    assert layers.attributed_run_share("t", log) == 1.0
