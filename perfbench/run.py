"""Benchmark entry point: one workload, one seed, one fresh Spark process.

    python3 perfbench/run.py --workload raster_batch --seed 1 --seconds 40 --trace 0

Run from the repository root.  The run generates its input from the seed,
builds the program's session on ``local[<nproc>]``, then submits the
workload's queries one after another (a closed loop with one client).  Each
query is timed in two phases, each under the job group
``<workload>:<query>:<phase>``:

* ``construct``: ``spark_queries()[name](spark, input_dir)``;
* ``exec``: ``df.write.format("noop").mode("overwrite").save()``, which
  evaluates every output column (a ``count()`` would let the optimizer drop
  them).

The first pass runs in a fresh session and is reported alone as
``cold_pass_s``.  When the hypervisor stole more than ``COLD_STEAL_LIMIT``
of the machine's CPU time during it, the run stops that JVM, builds the
session again in a fresh one and repeats the cold pass once; the faster of
the two is reported.  The workload's ``warmup_passes`` follow untimed by
any metric (the JVM's JIT and the Python workers keep getting faster for
several passes), then its ``measured_passes``; ``rows_per_s`` is taken
from the fastest of these.  ``--seconds`` caps the measuring: once that
long has passed since the first cold pass began, the run stops after
``MIN_MEASURED`` measured passes.  After timing, every query of the last
pass is collected and compared with its DuckDB oracle.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` also writes
Spark's event log (uncompressed, one file) and the benchmark's spans under
``perfbench/.work/`` and prints the per-layer metrics derived from them.
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  The line before it is the run's provenance.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

import meter  # noqa: E402  (perfbench/ is sys.path[0])

MIN_MEASURED = 3
#: share of the machine's CPU time lost to hypervisor steal above which a
#: cold pass is repeated in a fresh JVM (quiet cold passes lose under 2%;
#: above 8% they took 20-45% longer)
COLD_STEAL_LIMIT = 0.08
COLD_RETRIES = 1


def mark(label: str) -> None:
    """Progress line on stderr: seconds since process start."""
    print(f"# {time.time() - meter.process_start_epoch():7.2f}s {label}", file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def steal_share(rec) -> float:
    """Share of the machine's CPU time the hypervisor stole during a pass
    (``/proc/stat`` counts steal over all of the machine's CPUs)."""
    return rec.steal_ticks / (rec.wall * (os.cpu_count() or 1) * os.sysconf("SC_CLK_TCK"))


def tree_stats(path: str) -> tuple[int, int]:
    """(files, bytes) under a directory."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            try:
                size += os.path.getsize(os.path.join(dirpath, n))
                files += 1
            except OSError:
                pass
    return files, size


def source_digest() -> str:
    """Content hash of the program's sources (the checkout may lack git)."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "sarpro_spark")
    for dirpath, dirs, names in os.walk(pkg):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for n in sorted(names):
            if n.endswith(".py"):
                p = os.path.join(dirpath, n)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_sha() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    if out.returncode != 0:
        return None
    return out.stdout.strip() or None


class Run:
    def __init__(self, args, wl) -> None:
        self.args = args
        self.wl = wl
        self.dir = os.path.join(WORK, wl.name)
        self.in_dir = os.path.join(self.dir, "input")
        self.tmp = os.path.join(self.dir, "tmp")
        self.trace_dir = os.path.join(self.dir, "trace")
        self.meter = meter.TreeMeter()
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.spark = None

    # -- set-up ---------------------------------------------------------
    def prepare_dirs(self) -> None:
        for d in (self.tmp, os.path.join(self.dir, "local"), self.trace_dir):
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d)
        os.environ["TMPDIR"] = self.tmp
        tempfile.tempdir = self.tmp  # in case something already cached /tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.dir, "local")
        os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc()))

    def restart_session(self, tracer) -> float:
        """Replace the session with one in a fresh JVM; returns the seconds
        from stopping the old one until the new one ran its first job."""
        t = time.time()
        self.stop()
        self.start_session(tracer)
        return time.time() - t

    def start_session(self, tracer) -> float:
        """Build the session and run its first job; returns set-up seconds."""
        from sarpro_spark.session import build_session

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.dir, "warehouse"),
            # keep the JVM's temp files (and no hsperfdata file) out of /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
        }
        if self.args.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.trace_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        with tracer.span("session.build"):
            self.spark = build_session(
                f"perfbench-{self.wl.name}", master=f"local[{nproc()}]", extra_conf=conf
            )
        sc = self.spark.sparkContext
        sc.setLogLevel("ERROR")
        gw_proc = getattr(sc._gateway, "proc", None)
        if gw_proc is not None:
            self.meter.keep.add(gw_proc.pid)
        with tracer.span("session.first_job"):
            # a Python-RDD job: starts the worker daemon as well as the JVM side
            sc.setJobGroup(f"{self.wl.name}:_session:first_job", "first job")
            n = nproc()
            sc.parallelize(range(n), n).map(lambda x: x + 1).sum()
        return time.time() - meter.process_start_epoch()

    # -- timed passes ---------------------------------------------------
    def run_pass(self, index: int, measured: bool, order: list[str], tracer, qs, samples) -> tuple:
        from layers import PassRec, QueryRec
        from sarpro_spark import frames

        spark, sc, w = self.spark, self.spark.sparkContext, self.wl.name
        spark.catalog.clearCache()
        frames._BAND_FRAME_CACHE.clear()
        files0, bytes0 = tree_stats(self.tmp)
        cpu0, _ = self.meter.sample()
        steal0 = meter.steal_ticks()
        dfs = {}
        with tracer.span("pass", index=index) as ps:
            rec = PassRec(index=index, start=ps.start, end=0.0, measured=measured)
            if self.wl.stage_frames:
                with tracer.span("frames.stage") as s:
                    sc.setJobGroup(f"{w}:_frames:stage", "stage band frame")
                    frames.band_frame(spark, self.in_dir).count()
                rec.stage = (s.start, s.end)
            for q in order:
                self.attempted += 1
                c0, _ = self.meter.sample()
                t0 = time.perf_counter()
                try:
                    with tracer.span("construct", query=q) as cs:
                        sc.setJobGroup(f"{w}:{q}:construct", q)
                        df = qs[q](self.spark, self.in_dir)
                    qr = QueryRec(q, (cs.start, cs.end))
                    rec.queries.append(qr)
                    with tracer.span("exec", query=q) as xs:
                        sc.setJobGroup(f"{w}:{q}:exec", q)
                        df.write.format("noop").mode("overwrite").save()
                    qr.exec = (xs.start, xs.end)
                except Exception as e:  # noqa: BLE001 - counted, run continues
                    self.failed += 1
                    self.errors.append(f"pass {index} {q}: {type(e).__name__}: {e}")
                    traceback.print_exc(file=sys.stderr)
                    continue
                if measured:
                    samples.append(time.perf_counter() - t0)
                qr.cpu_s = self.meter.sample()[0] - c0
                dfs[q] = df
            sc.setJobGroup(f"{w}:_idle:none", "idle")
        rec.end = ps.end
        cpu1, _ = self.meter.sample()
        rec.cpu_s = cpu1 - cpu0
        rec.steal_ticks = meter.steal_ticks() - steal0
        files1, bytes1 = tree_stats(self.tmp)
        rec.sink_files, rec.sink_bytes = files1 - files0, bytes1 - bytes0
        return rec, dfs

    # -- correctness ----------------------------------------------------
    def check(self, dfs: dict, expected: dict) -> list[str]:
        import oracle

        sc = self.spark.sparkContext
        exact_mismatches = []
        for q in self.wl.queries:
            if q not in dfs:
                continue  # already counted as failed in its pass
            self.attempted += 1
            sc.setJobGroup(f"{self.wl.name}:{q}:check", q)
            try:
                got = dfs[q].toArrow()
                status, detail = oracle.compare(got, expected[q])
            except Exception as e:  # noqa: BLE001
                status, detail = oracle.MISMATCH, f"{type(e).__name__}: {e}"
            if status == oracle.MISMATCH:
                self.failed += 1
                self.errors.append(f"oracle {q}: {detail}")
            elif status == oracle.WITHIN_UNIT:
                exact_mismatches.append(q)
            print(f"# oracle {q}: {status} {detail}", file=sys.stderr)
        return exact_mismatches

    def load_expected(self) -> dict:
        import gen
        import oracle
        from sarpro_spark.queries import REGISTRY

        cache = os.path.join(WORK, "oracle", gen.content_digest(self.wl.factor))
        con = None

        def con_factory():
            nonlocal con
            if con is None:
                con = oracle.connect(self.in_dir, gen.TABLES)
            return con

        out = {}
        for q in self.wl.queries:
            sql = REGISTRY[q].resolve_sql()
            if sql is None:
                raise RuntimeError(f"query {q} has no oracle SQL")
            out[q] = oracle.expected(con_factory, cache, q, sql)
        if con is not None:
            con.close()
        return out

    # -- tear-down ------------------------------------------------------
    def stop(self) -> None:
        """Stop Spark, the JVM and every adopted descendant; wait for all."""
        from pyspark import SparkContext

        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception:  # noqa: BLE001 - still kill the JVM below
                traceback.print_exc(file=sys.stderr)
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001
                pass
        if proc is not None:
            try:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        # the next session launches a fresh JVM instead of reusing this one
        SparkContext._gateway = None
        SparkContext._jvm = None
        self.spark = None
        self.meter.keep.clear()
        # the Python daemon and workers exit once the JVM is gone; adopted
        # orphans are reaped here, and stragglers are killed
        for sig, grace in ((None, 20.0), (signal.SIGKILL, 10.0)):
            if sig is not None:
                for pid in self.meter.live_descendants():
                    try:
                        os.kill(pid, sig)
                    except ProcessLookupError:
                        pass
            deadline = time.time() + grace
            while time.time() < deadline:
                self.meter.reap()
                if not self.meter.live_descendants():
                    return
                time.sleep(0.1)
        raise RuntimeError(f"descendants survived SIGKILL: {sorted(self.meter.live_descendants())}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)  # metric names and units
    meter.become_subreaper()
    # SIGTERM unwinds through the clean-up below instead of orphaning the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    steal0, load0 = meter.steal_ticks(), os.getloadavg()[0]

    sys.path.insert(0, ROOT)
    try:
        import pyspark
        from sarpro_spark.queries import spark_queries
    except ImportError as e:
        print(f"cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2

    import gen
    from spans import Tracer

    run = Run(args, wl)
    run.prepare_dirs()
    tracer = Tracer()
    try:
        qs = spark_queries()
        missing = [q for q in wl.queries if q not in qs]
        if missing:
            print(f"queries not registered: {missing}", file=sys.stderr)
            return 2
        setup_s = run.start_session(tracer)
        mark("session up")

        inputs = gen.generate(run.in_dir, wl.factor, args.seed)
        input_rows = sum(t["rows"] for t in inputs.values())
        mark("input generated")
        expected = run.load_expected()
        mark("oracle results loaded")

        order = list(wl.queries)
        random.Random(args.seed).shuffle(order)
        samples: list[float] = []
        colds = []  # the cold pass of each fresh session
        restart_setups = []
        with meter.PeakRss(run.meter) as peak:
            t0 = time.perf_counter()
            while True:
                rec, dfs = run.run_pass(0, False, order, tracer, qs, samples)
                colds.append(rec)
                share = steal_share(rec)
                if share <= COLD_STEAL_LIMIT or len(colds) > COLD_RETRIES:
                    break
                mark(f"cold pass lost {share:.1%} of the CPU time to steal; new JVM")
                tracer = Tracer()  # spans of the session that is kept
                restart_setups.append(run.restart_session(tracer))
                mark("session up")
            passes = [rec]
            while True:
                index = len(passes)
                rec, dfs = run.run_pass(index, index > wl.warmup_passes, order, tracer, qs, samples)
                passes.append(rec)
                n = sum(p.measured for p in passes)
                if n >= wl.measured_passes or (
                    n >= MIN_MEASURED and time.perf_counter() - t0 >= args.seconds
                ):
                    break
        mark("timed passes done")
        exact_mismatches = run.check(dfs, expected)
        mark("oracle check done")
        measured = [p for p in passes if p.measured]
        pass_s = min(p.wall for p in measured)
        if args.trace:
            values = trace_metrics(run, tracer, passes, input_rows, exact_mismatches, peak.peak)
        else:
            values = {
                "setup_s": setup_s,
                "cold_pass_s": min(c.wall for c in colds),
                "rows_per_s": input_rows / pass_s,
                "cpu_s": statistics.median(p.cpu_s for p in measured),
                "success_rate": 1.0 - run.failed / max(run.attempted, 1),
            }
        metrics = {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in declared["per_layer" if args.trace else "end_to_end"]
        }
        provenance = {
            "workload": wl.name,
            "seed": args.seed,
            "trace": args.trace,
            "git_sha": git_sha(),
            "source_digest": source_digest(),
            "nproc": nproc(),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "spark_version": run.spark.version,
            "pyspark_version": pyspark.__version__,
            "python_version": platform.python_version(),
            "replica_factor": wl.factor,
            "input": inputs,
            "input_rows": input_rows,
            "queries": list(wl.queries),
            "query_order": order,
            "cold_passes": [round(c.wall, 4) for c in colds],
            "cold_steal_share": [round(steal_share(c), 4) for c in colds],
            "restart_setup_s": [round(t, 3) for t in restart_setups],
            "passes": [round(p.wall, 4) for p in passes],
            "pass_median_s": statistics.median(p.wall for p in measured),
            "pass_cpu_s": [round(p.cpu_s, 3) for p in passes],
            "pass_steal_ticks": [p.steal_ticks for p in passes],
            "warmup_passes": wl.warmup_passes,
            "measured_passes": len(measured),
            "peak_rss_mb": peak.peak / (1024.0 * 1024.0),
            "query_samples": len(samples),
            "query_p50_s": statistics.median(samples),
            "query_p90_s": statistics.quantiles(samples, n=10, method="inclusive")[8],
            "exact_mismatches": exact_mismatches,
            "errors": run.errors,
            "loadavg_start": load0,
            "steal_ticks": meter.steal_ticks() - steal0,
        }
    except Exception:  # noqa: BLE001 - report and exit non-zero without a result
        traceback.print_exc(file=sys.stderr)
        return 1
    finally:
        run.stop()
    mark("stopped")

    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    out = os.path.join(WORK, "results", f"{wl.name}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as fh:
        json.dump({"provenance": provenance, "result": result}, fh, indent=1)
    print(json.dumps({"provenance": provenance}))
    print(json.dumps(result), flush=True)
    return 0


def trace_metrics(run, tracer, passes, input_rows, exact_mismatches, peak_rss) -> dict[str, float]:
    """Per-layer metrics from the event log and spans of this traced run."""
    import eventlog
    import layers

    run.spark.sparkContext.setJobGroup(f"{run.wl.name}:_idle:none", "idle")
    app_id = run.spark.sparkContext.applicationId
    tracer.dump(os.path.join(run.trace_dir, "spans.jsonl"))
    run.spark.stop()  # flushes and closes the event log
    log = eventlog.parse(os.path.join(run.trace_dir, app_id))
    layer = layers.compute(run.wl.name, passes, log)
    measured = [p for p in passes if p.measured]
    build = next(s for s in tracer.spans if s.name == "session.build")
    first = next(s for s in tracer.spans if s.name == "session.first_job")
    py_exec = [layers.query_pydaemon_run_s(run.wl.name, p, log) for p in measured]
    layer["session.build_s"] = build.dur
    layer["session.first_job_s"] = first.dur
    layer["oracle.exact_mismatches"] = len(exact_mismatches)
    layer["trace.rows_per_s"] = input_rows / min(p.wall for p in measured)
    layer["peak_rss_mb"] = peak_rss / (1024.0 * 1024.0)
    layer["pydaemon.min_query_exec_run_s"] = min(
        min(d.values()) for d in py_exec
    ) if py_exec and all(py_exec) else 0.0
    return layer


if __name__ == "__main__":
    sys.exit(main())
