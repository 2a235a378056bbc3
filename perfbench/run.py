#!/usr/bin/env python3
"""imposm2_spark benchmark: closed-loop runs of one workload.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload spine --seed 1 --seconds 20 --trace 0

Workloads (see workloads.py): spine, import, curate. One client runs the
workload's composed pipeline in a loop; the next iteration starts when the
previous one has finished and its output has been checked. Set-up (session
start, input generation, expected outputs, warm-up) is measured as setup_s.

--trace 0 prints the end-to-end metrics: cpu_s, the median CPU seconds
one iteration costs (this process, its JVM and the Python workers, less
the JVM's JIT compiler threads: the work a shared cluster bills), setup_s,
the CPU seconds of set-up with compilation included, and live_heap_mb.
Wall times (run_s, rows_per_s) are per-layer figures, and the set-up's
wall time is in the record. CPU seconds are bounded instead of wall time
because on a shared 4-vCPU host the hypervisor's steal moved between 0%
and 20% within minutes and wall time followed it: over three sets of ten
seeds per workload, the interquartile spread of the run medians was
0.08-0.30 (spine) and 0.10-0.50 (curate) in wall time, against 0.07-0.15
and 0.10-0.17 in CPU seconds.

--trace 1 additionally runs the pipeline TRACE_ITERATIONS times under
per-span Spark job groups, times each public operator in isolation, and
prints the per-layer metrics instead.
Human-readable progress and the report go to stderr; the last line of
stdout is one JSON object {"correct", "attempted", "failed", "metrics"}.
The full run record (host, versions, command, samples, spans) is written
to .bench_build/perfbench-results/.

All files the run writes (Spark scratch, deploy roots, temp files) stay
under .bench_build/ in the checkout; the scratch part is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")

# Warm-up: (min, max) iterations per workload; between them, warming stops
# once two consecutive iterations' CPU seconds are within WARM_TOL. The
# first iterations pay JIT compilation and Python worker start-up; on a
# 4-vCPU VM a curate iteration cost 34, 14, 12, 11, 11 CPU seconds and
# kept falling slowly after that (spine: 27, 11.5, 11, 10.5, then 9-11).
# The maxima keep a run inside the time the benchmark is given, so timed
# samples may still be slightly warming; curate's minimum of five keeps
# out runs that stopped at four, whose CPU seconds read 14% above the rest.
WARM = {"spine": (4, 5), "import": (2, 3), "curate": (5, 6)}
WARM_TOL = 0.10
# traced iterations, whatever --seconds says: remainder spans are medians
TRACE_ITERATIONS = 3
LAYERS = ("sources", "functions", "operators", "plans")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "imposm2_spark", "__init__.py")):
        log(f"imposm2_spark is not next to {os.path.basename(HERE)}/; "
            "run from the root of a checkout of the repository")
        return 2
    workdir = os.path.join(BUILD, f"perfbench-{os.getpid()}")
    os.makedirs(workdir)
    # every temp file of this process, its JVM and the Python workers
    os.environ["TMPDIR"] = workdir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path[:0] = [ROOT, HERE]
    try:
        return Bench(args, t_start, workdir).run()
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


class Bench:
    def __init__(self, args, t_start: float, workdir: str):
        self.args, self.t_start, self.workdir = args, t_start, workdir
        self.attempted = self.failed = 0
        self.live_mb = float("nan")
        self.record = {
            "command": [os.path.basename(sys.executable), *sys.argv],
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "nproc": len(os.sched_getaffinity(0)),
            "load1_start": os.getloadavg()[0],
            "python": platform.python_version(),
        }

    # -- session ----------------------------------------------------------
    def start_session(self):
        from imposm2_spark.session import get_spark

        n = self.record["nproc"]
        spark = get_spark(
            app_name="perfbench",
            master=f"local[{n}]",
            extra_conf={
                "spark.local.dir": self.workdir,
                "spark.driver.extraJavaOptions":
                    f"-Duser.timezone=UTC -Djava.io.tmpdir={self.workdir}",
                "spark.ui.showConsoleProgress": "false",
                # keep every job and stage of the run in the status store,
                # so per-span counters are never evicted mid-run
                "spark.ui.retainedJobs": "1000000",
                "spark.ui.retainedStages": "1000000",
                "spark.sql.ui.retainedExecutions": "100",
            },
        )
        jvm = spark._jvm
        self.record["spark"] = spark.version
        self.record["java"] = jvm.java.lang.System.getProperty("java.version")
        return spark

    @staticmethod
    def stop_session(spark) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()

    # -- one iteration ----------------------------------------------------
    def iterate(self, workload, tracer=None, it: int = 0, deadline: float | None = None):
        """Run, check and clean up one iteration -> (wall seconds, CPU
        seconds, error, cached bytes left behind). The CPU seconds are those
        of this process, its JVM and the Python workers. The error is None
        when the output matched. With
        a tracer, the run is the iteration's composed root span. An
        iteration that ends after `deadline` is the timed window's last: the
        heap it holds live, caches included, is measured before clean-up (a
        forced collection in every iteration would resize the heap and
        change the next one)."""
        self.attempted += 1
        cpu0 = self.cpu.read()
        t0 = time.perf_counter()
        try:
            if tracer is None:
                out = workload.run_once()
            else:
                out = tracer.run(workload.ROOT, it, workload.run_once)
            err = workload.check(out)
        except Exception:
            err = traceback.format_exc()
        dt = time.perf_counter() - t0
        cpu = self.cpu.seconds(cpu0, self.cpu.read())
        if err is not None:
            self.failed += 1
            log(f"iteration failed: {err}")
        if deadline is not None and time.perf_counter() >= deadline:
            self.live_mb = self.probe.live_heap_mb()
        cached = self.probe.cached_bytes()
        self.spark.catalog.clearCache()
        workload.end_iteration()
        return dt, cpu, err, cached

    def warm_up(self, workload) -> tuple[list[float], list[float]]:
        """-> (wall seconds, CPU seconds) of the warm-up iterations."""
        lo, hi = WARM[workload.name]
        wall: list[float] = []
        cpu: list[float] = []
        while len(cpu) < hi:
            w, c = self.iterate(workload)[:2]
            wall.append(w)
            cpu.append(c)
            if len(cpu) >= lo and abs(cpu[-1] - cpu[-2]) <= WARM_TOL * min(cpu[-2:]):
                break
        return wall, cpu

    # -- the run ----------------------------------------------------------
    def run(self) -> int:
        from probe import CpuMeter, RssSampler, StatusProbe
        from workloads import WORKLOADS

        args = self.args
        if args.workload not in WORKLOADS:
            log(f"unknown workload {args.workload!r}; expected one of {sorted(WORKLOADS)}")
            return 2
        self.spark = self.start_session()
        try:
            self.probe = StatusProbe(self.spark)
            self.cpu = CpuMeter(os.getpid(), self.probe.jvm_pid())
            with RssSampler(self.probe.jvm_pid()) as rss:
                return self._run(WORKLOADS[args.workload], rss)
        finally:
            self.stop_session(self.spark)

    def _run(self, cls, rss) -> int:
        from probe import tree_cpu_s

        args = self.args
        workload = cls(self.spark, args.seed, self.workdir)
        self.record["session_start_s"] = time.perf_counter() - self.t_start
        workload.setup()
        self.record["inputs_s"] = time.perf_counter() - self.t_start - self.record["session_start_s"]
        self.record["input_rows"] = workload.input_rows
        warm, warm_cpu = self.warm_up(workload)
        setup_s = tree_cpu_s(os.getpid())
        self.record["setup_wall_s"] = time.perf_counter() - self.t_start
        log(f"setup {setup_s:.2f} CPU s in {self.record['setup_wall_s']:.2f} s, warm-up "
            f"iterations {[round(w, 3) for w in warm]} s, "
            f"CPU {[round(c, 2) for c in warm_cpu]} s")

        rss.reset()
        self.probe.reset_heap_peaks()
        samples, cpu_samples, cached = [], [], []
        t0 = time.perf_counter()
        while not samples or time.perf_counter() - t0 < args.seconds:
            dt, cpu, err, c = self.iterate(workload, deadline=t0 + args.seconds)
            if err is None:
                samples.append(dt)
                cpu_samples.append(cpu)
            cached.append(c)
            if self.failed >= 3 and not samples:
                break
        peak_mb = rss.peak_mb
        self.record["heap"] = self.probe.heap_pools()
        metrics = {
            "cpu_s": (statistics.median(cpu_samples) if samples else float("nan"), "s"),
            "setup_s": (setup_s, "s"),
            "live_heap_mb": (self.live_mb, "MiB"),
        }
        self.record.update(warmup_s=warm, warmup_cpu_s=warm_cpu, samples_s=samples,
                           cpu_samples_s=cpu_samples, cached_bytes=cached,
                           peak_rss_mb=peak_mb)
        if args.trace:
            metrics = self.traced(workload, samples, cached)
            metrics["peak_rss_mb"] = (peak_mb, "MiB")
        self.record["load1_end"] = os.getloadavg()[0]
        self.record["failed_ratio"] = self.failed / self.attempted
        self.report(metrics)
        correct = self.failed == 0
        print(json.dumps({
            "correct": correct,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }), flush=True)
        return 0

    def traced(self, workload, untraced: list[float], cached: list[int]) -> dict:
        from kernel_timings import kernel_timings
        from probe import Span, StageTotals, Tracer

        tracer = Tracer(self.probe)
        roots = []
        for it in range(TRACE_ITERATIONS):
            err = self.iterate(workload, tracer, it)[2]
            if err is None:
                roots.append(tracer.spans[-1])
            workload.trace(tracer, it)
            self.spark.catalog.clearCache()
        if not roots:
            raise RuntimeError("every traced iteration failed")
        by_it = {}
        for s in tracer.spans:
            by_it.setdefault(s.iteration, []).append(s)
        # the remainder of each composed run after its isolated children is
        # the self time of the stage that has no public entry point; it is
        # negative when the isolated calls cost more than their share of
        # the composed run (each pays its own job set-up and cache fills)
        for root in roots:
            kids = [s for s in by_it[root.iteration] if s.name in workload.CHILDREN]
            rem = Span(workload.REMAINDER, root.iteration, workload.ROOT, root.start, root.end)
            rem.self_s = root.wall_s - sum(k.wall_s for k in kids)
            c = root.counters
            rem.counters = StageTotals(
                task_s=c.task_s - sum(k.counters.task_s for k in kids),
                shuffle_bytes=c.shuffle_bytes - sum(k.counters.shuffle_bytes for k in kids),
                jobs=c.jobs - sum(k.counters.jobs for k in kids),
            )
            tracer.spans.append(rem)
        composed = [s for s in tracer.spans if s.name == workload.ROOT and s.parent is None]
        tracer.spans = [s for s in tracer.spans if s not in composed]
        med = tracer.medians()
        spans = {n: m for n, m in med.items()
                 if n in workload.CHILDREN or n == workload.REMAINDER}
        metrics: dict[str, tuple[float, str]] = {}
        for layer in LAYERS:
            mine = [m for n, m in spans.items() if n.split(".")[0] == layer]
            metrics[f"{layer}.self_s"] = (sum(m["self_s"] for m in mine), "s")
            metrics[f"{layer}.task_s"] = (sum(m["task_s"] for m in mine), "s")
            metrics[f"{layer}.shuffle_bytes"] = (sum(m["shuffle_bytes"] for m in mine), "bytes")
            metrics[f"{layer}.jobs"] = (sum(m["jobs"] for m in mine), "count")

        def root_median(f):
            return statistics.median(f(r.counters) for r in roots)

        metrics.update({
            "session.gc_s": (root_median(lambda c: c.gc_s), "s"),
            "session.spill_bytes": (root_median(lambda c: c.spill_bytes), "bytes"),
            "session.fetch_wait_s": (root_median(lambda c: c.fetch_wait_s), "s"),
            "session.failed_tasks": (root_median(lambda c: c.failed_tasks), "count"),
            "session.max_task_over_median": (root_median(lambda c: c.busiest[1]), "ratio"),
            "plans.cache_live_bytes": (statistics.median(cached), "bytes"),
        })
        traced_run = statistics.median(r.wall_s for r in roots)
        run_s = statistics.median(untraced) if untraced else float("nan")
        children_sum = sum(m["self_s"] for n, m in spans.items() if n in workload.CHILDREN)
        ordered = sorted(untraced) or [float("nan")]
        # highest percentile with at least 10 samples beyond it; the
        # slowest sample when a run has fewer than 11
        tail = ordered[-11] if len(ordered) >= 11 else ordered[-1]
        metrics.update({
            "run_s": (run_s, "s"),
            "rows_per_s": (workload.input_rows / run_s, "rows/s"),
            "trace.run_s": (traced_run, "s"),
            "trace.overhead_s": (traced_run - run_s, "s"),
            "trace.spans_sum_s": (children_sum, "s"),
            "run_s_tail": (tail, "s"),
        })
        for name, v in kernel_timings(self.spark, self.args.seed).items():
            metrics[name] = (v, "us")
        self.record["spans"] = [
            {"name": s.name, "iteration": s.iteration, "parent": s.parent,
             "start": s.start - self.t_start, "end": s.end - self.t_start,
             "self_s": s.wall_s if s.self_s is None else s.self_s,
             "task_s": s.counters.task_s, "shuffle_bytes": s.counters.shuffle_bytes,
             "jobs": s.counters.jobs}
            for s in composed + tracer.spans
        ]
        self.record["span_medians"] = med
        self.record["ratios"] = workload.ratios
        return metrics

    def report(self, metrics: dict) -> None:
        rec = self.record
        out_dir = os.path.join(BUILD, "perfbench-results")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(
            out_dir, f"{rec['workload']}-seed{rec['seed']}-trace{rec['trace']}.json")
        rec["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
        with open(path, "w") as f:
            json.dump(rec, f, indent=1, default=float)
        log(f"{rec['workload']} seed={rec['seed']} nproc={rec['nproc']} "
            f"load1={rec['load1_start']:.2f}->{rec['load1_end']:.2f} "
            f"spark={rec['spark']} java={rec['java']} python={rec['python']} "
            f"input_rows={rec['input_rows']} attempted={self.attempted} "
            f"failed={self.failed} failed_ratio={rec['failed_ratio']:.3f} "
            f"timed_samples={len(rec['samples_s'])}")
        log(f"command: {' '.join(rec['command'])}")
        for name in sorted(rec.get("span_medians", {})):
            m = rec["span_medians"][name]
            log(f"  span {name:40s} self={m['self_s']:.3f}s task={m['task_s']:.3f}s "
                f"shuffle={m['shuffle_bytes']:.0f}B jobs={m['jobs']:.0f} n={m['n']}")
        for name, v in sorted(rec.get("ratios", {}).items()):
            log(f"  ratio {name} = {v:.4f}")
        for name, (v, unit) in metrics.items():
            log(f"  {name} = {v:.6g} {unit}")
        log(f"record written to {os.path.relpath(path, ROOT)}")


if __name__ == "__main__":
    sys.exit(main())
