import pytest

from eventlog import EventLog, Job, StageAgg
from layers import PassRec, QueryRec, pass_layers
from spans import Tracer, covered, self_time, union_length


def test_union_length_merges_overlaps_and_gaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2.0
    assert union_length([(0, 2), (1, 3)]) == 3.0
    assert union_length([(0, 4), (1, 2), (3, 3.5)]) == 4.0
    assert union_length([(5, 5), (6, 4)]) == 0.0  # empty and inverted ignored


def test_covered_clips_to_the_span():
    assert covered(1, 3, [(0, 2), (2.5, 10)]) == pytest.approx(1.5)
    assert covered(1, 3, [(4, 5)]) == 0.0


def test_self_time_is_duration_minus_covered_children():
    assert self_time(0, 10, [(1, 3), (2, 4), (8, 12)]) == pytest.approx(10 - 3 - 2)
    assert self_time(0, 10, []) == 10


def test_tracer_records_parents_and_durations():
    tr = Tracer()
    with tr.span("pass", index=0) as p:
        with tr.span("construct", query="q") as c:
            pass
    assert c.parent == p.sid and p.parent is None
    assert p.start <= c.start and c.end <= p.end + 1e-6


def _log(jobs, stages=()):
    return EventLog(jobs={j.job_id: j for j in jobs}, stages={(s.stage_id, s.attempt): s for s in stages})


def test_pass_layers_split_construct_and_exec_by_job_group():
    w = "wl"
    p = PassRec(index=1, start=100.0, end=110.0)
    p.queries = [QueryRec("q", construct=(100.0, 104.0), exec=(104.0, 110.0))]
    jobs = [
        Job(0, "wl:q:construct", submit=100.5, end=101.5),
        Job(1, "wl:q:construct", submit=101.0, end=102.0),  # overlaps job 0
        Job(2, "wl:q:exec", submit=104.5, end=109.0),
        Job(3, "wl:other:exec", submit=105.0, end=106.0),  # another query's group
        Job(4, "wl:q:construct", submit=90.0, end=91.0),  # an earlier pass
    ]
    st = StageAgg(7, 0, group="wl:q:exec", submit=104.6, tasks=4, run_ms=8000,
                  cpu_ns=6_000_000_000, py_run_ms=1500)
    m = pass_layers(w, p, _log(jobs, [st]))
    assert m["queries.construct_s"] == pytest.approx(4.0)
    assert m["queries.eager_jobs"] == 2
    assert m["queries.eager_job_s"] == pytest.approx(1.5)
    assert m["queries.construct_self_s"] == pytest.approx(2.5)
    assert m["exec.write_s"] == pytest.approx(6.0)
    assert m["exec.jobs"] == 1
    assert m["exec.self_s"] == pytest.approx(1.5)
    assert m["exec.tasks"] == 4
    assert m["exec.cpu_util"] == pytest.approx(0.75)
    assert m["pydaemon.run_s"] == pytest.approx(1.5)
    assert m["trace.span_coverage"] == pytest.approx(1.0)
