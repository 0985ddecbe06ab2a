import os
import subprocess
import sys
import time

import meter

# A child that double-forks: the grandchild outlives its parent, so it is
# orphaned mid-run, burns CPU, then exits.  Without the subreaper its CPU
# would leave the tree with it.
ORPHAN_SCRIPT = r"""
import os, sys, time
if os.fork() == 0:
    t = time.process_time()
    while time.process_time() - t < float(sys.argv[1]):
        pass
    os._exit(0)
os._exit(0)
"""


def test_meter_is_monotone_and_counts_orphans():
    tm = meter.TreeMeter()
    assert meter.become_subreaper()
    start, _ = tm.sample()
    samples = [start]
    procs = [subprocess.Popen([sys.executable, "-c", ORPHAN_SCRIPT, "0.4"]) for _ in range(3)]
    for p in procs:
        p.wait(timeout=30)
    deadline = time.time() + 30
    while time.time() < deadline:
        samples.append(tm.sample()[0])
        if not tm.live_descendants():
            break
        time.sleep(0.02)
    assert not tm.live_descendants()
    samples.append(tm.sample()[0])
    deltas = [b - a for a, b in zip(samples, samples[1:])]
    assert min(deltas) >= 0.0, deltas
    # three orphans burned >= 0.4 s each after their parents had exited
    assert samples[-1] - start >= 3 * 0.4 * 0.9


def test_peak_rss_sampler_sees_this_process():
    tm = meter.TreeMeter()
    with meter.PeakRss(tm, interval_s=0.01) as peak:
        time.sleep(0.1)
    assert peak.peak > 0


def test_process_start_precedes_now():
    assert 0 <= time.time() - meter.process_start_epoch(os.getpid()) < 24 * 3600
