"""One benchmark run inside the environment ``run.py`` prepares.

Untraced (``--trace 0``): set up, then run whole jobs back to back, one
at a time, until ``--seconds`` have passed; check every job's output
outside its timed span, and report the end-to-end metrics.

Traced (``--trace 1``): the same untraced loop (its ``job_s`` is
the base of ``trace_overhead``), then the job rebuilt call by call with a
span around each layer. After the SparkContext stops, the event log's
task metrics are summed per span and the per-layer metrics reported.
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
from collections import defaultdict

import procstat
import spans
from workloads import LAYER_METRICS, WORKLOADS

#: input generations per run; ``setup_s`` takes their median
GEN_REPEATS = 3
#: checked jobs run before timing starts, while the JVM compiles the hot
#: paths; their time is part of ``setup_s``
WARMUP_JOBS = 1


def _host(spark) -> dict:
    sc = spark.sparkContext
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(l for l in fh if l.startswith("MemTotal")).split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_gb": round(mem_kb / 2**20, 1),
        "master": sc.master, "default_parallelism": sc.defaultParallelism,
        "driver_memory": sc.getConf().get("spark.driver.memory"),
        "spark": spark.version,
        "java": sc._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


class Run:
    """Jobs attempted and failed across a run, each output checked."""

    def __init__(self, work: str, rss: procstat.PeakRss):
        self.work = work
        self.rss = rss
        self.attempted = 0
        self.failed = 0
        self._n = 0

    def out_dir(self) -> str:
        self._n += 1
        return os.path.join(self.work, f"out{self._n}")

    def _cpu(self) -> float:
        # the tree's CPU time, less the memory sampler's own
        return procstat.cpu_seconds(os.getpid()) - self.rss.cpu_s

    def checked(self, wl, fn) -> tuple[bool, float, float]:
        """Run ``fn(out)``, then check its output untimed. Returns
        (ok, wall seconds, CPU seconds of the process tree)."""
        out = self.out_dir()
        self.attempted += 1
        ok = False
        cpu0, t0 = self._cpu(), time.perf_counter()
        try:
            result = fn(out)
            wall = time.perf_counter() - t0
            cpu = self._cpu() - cpu0
            errors = wl.check(result)
            for e in errors:
                print(f"CHECK FAILED {wl.name}: {e}", file=sys.stderr)
            ok = not errors
        except Exception:  # a failed job is counted, the run goes on
            traceback.print_exc()
            wall = time.perf_counter() - t0
            cpu = self._cpu() - cpu0
        if not ok:
            self.failed += 1
        shutil.rmtree(out, ignore_errors=True)
        return ok, wall, cpu


def _setup(wl, run: Run) -> tuple[list[float], list[float]]:
    """Generate the inputs GEN_REPEATS times (the last copy is used), then
    run WARMUP_JOBS checked jobs on them. Returns the generation times and
    the warm-up jobs' times."""
    gen = []
    for k in range(GEN_REPEATS):
        prev = wl.inputs
        t0 = time.perf_counter()
        wl.generate(os.path.join(run.work, f"inputs{k}"))
        gen.append(time.perf_counter() - t0)
        if prev:
            shutil.rmtree(prev)
    jobs = [run.checked(wl, wl.job)[1] for _ in range(WARMUP_JOBS)]
    print("warm-up jobs " + " ".join(f"{w:.3f}" for w in jobs), flush=True)
    return gen, jobs


def _measure(wl, run: Run, seconds: float) -> tuple[list[float], list[float]]:
    """Checked jobs, one at a time, until ``seconds`` have passed."""
    walls, cpus = [], []
    deadline = time.perf_counter() + seconds
    while True:
        ok, wall, cpu = run.checked(wl, wl.job)
        if ok:
            walls.append(wall)
            cpus.append(cpu)
        if time.perf_counter() >= deadline:
            return walls, cpus


def _traced(spark, wl, run: Run) -> tuple[spans.Tracer, dict]:
    tr = spans.Tracer(spark)
    values: dict = {}

    def job(out):
        result, vals = wl.traced(tr, out)
        values.update(vals)
        return result

    ok, _, _ = run.checked(wl, job)
    return tr, values if ok else {}


def _metric_line(name: str, value: float, unit: str, note: str = "") -> None:
    print(f"{name:40s} {value:14.6g} {unit:6s} {note}".rstrip())


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--work", required=True)
    ap.add_argument("--spawned-at", type=float, required=True)
    args = ap.parse_args()

    from database_syncer_spark.session import get_spark

    with procstat.PeakRss(os.getpid()) as rss:
        spark = get_spark("perfbench")
        session_s = time.time() - args.spawned_at
        host = _host(spark)
        print("host " + json.dumps(host), flush=True)
        if args.trace and spark.sparkContext.getConf().get(
                "spark.eventLog.enabled", "false") != "true":
            raise SystemExit("--trace 1 needs spark.eventLog.enabled=true")
        run = Run(args.work, rss)
        names = list(WORKLOADS) if args.workload == "all" else [args.workload]
        summary = {}
        for name in names:
            wl = WORKLOADS[name](spark, args.seed, args.smoke)
            if args.smoke:  # one generation and one checked job each
                wl.generate(os.path.join(args.work, f"inputs-{name}"))
                ok, wall, cpu = run.checked(wl, wl.job)
                summary[f"{name}.job_s"] = (wall, "s")
                print(f"smoke {name}: ok={ok} job_s={wall:.3f}", flush=True)
                continue
            gen, warm = _setup(wl, run)
            setup_s = session_s + statistics.median(gen) + sum(warm)
            walls, cpus = _measure(wl, run, args.seconds)
            if args.trace:
                tr, values = _traced(spark, wl, run)
        peak_rss = rss.peak_mb
        rss_split = ", ".join(f"{c} {mb:.0f}" for c, mb in
                              sorted(rss.peak_by_command.items()))
        log_dir = spark.sparkContext.getConf().get("spark.eventLog.dir", "")
        spark.stop()

    if args.smoke:
        metrics = summary
    elif not walls:
        metrics = {}
    elif args.trace:
        job_s = statistics.median_low(walls)
        counters = defaultdict(spans.Counters, spans.counters_by_span(
            spans.read_event_log(log_dir.removeprefix("file:")), tr.spans))
        named = spans.total({k: v for k, v in counters.items() if k})
        traced_s = sum(s.seconds for s in tr.spans)
        if values:  # the traced job ran through and passed its check
            values.update(wl.layer_counters(counters))
        values.update({"spark.jobs": named.jobs, "spark.tasks": named.tasks,
                       "spark.gc_s": named.gc_s,
                       "trace_overhead": traced_s / job_s})
        metrics = {}
        for m, unit, _, moves, on in LAYER_METRICS:
            metrics[m] = (float(values.get(m, 0.0)), unit)
            _metric_line(m, metrics[m][0], unit,
                         f"moves {moves} on {on}" if on != "all" else
                         f"traced spans {traced_s:.3f} s / untraced job_s "
                         f"{job_s:.3f} s")
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "job_s": (statistics.median_low(walls), "s"),
            "cpu_s": (statistics.median_low(cpus), "s"),
            "peak_rss_mb": (peak_rss, "MB"),
        }
        notes = {
            "setup_s": f"session {session_s:.3f} + median input generation "
                       f"of {len(gen)} {statistics.median(gen):.3f} "
                       f"+ {WARMUP_JOBS} warm-up jobs {sum(warm):.3f}",
            "job_s": f"lower median of {len(walls)} jobs: "
                     + " ".join(f"{w:.3f}" for w in walls),
            "cpu_s": "per job, JVM (less its JIT compiler threads) + Python "
                     "processes: " + " ".join(f"{c:.2f}" for c in cpus),
            "peak_rss_mb": f"JVM + Python processes, whole run ({rss_split})",
        }
        for m, (v, unit) in metrics.items():
            _metric_line(m, v, unit, notes[m])
        _metric_line("failed_frac", run.failed / run.attempted, "ratio",
                     f"{run.failed} of {run.attempted} checked jobs failed")
    print(json.dumps({
        "correct": run.failed == 0 and bool(metrics),
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0 if metrics else 1


if __name__ == "__main__":
    sys.exit(main())
