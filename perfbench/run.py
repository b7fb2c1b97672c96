"""Benchmark of the sync engine and its data-pipeline operators.

Usage, from the root of the repository:

    python3 perfbench/run.py --workload sync --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --smoke          # every workload once, tiny inputs

Workloads: sync, curate_web (see
perfbench/workloads.py for what each runs and why it was chosen).

With ``--trace 0`` the run reports the end-to-end metrics (``setup_s``,
``job_s``, ``cpu_s``, ``peak_rss_mb``, and ``failed_frac`` as the
``attempted``/``failed`` counts); with ``--trace 1`` it reports the
per-layer metrics of a traced rebuild of the job. Every metric is printed
by name with its unit, and the last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.

This script pins the host, not the program: it runs the workload in a
child process with

- ``SPARK_GRAFT_CPUS`` set to the CPUs this process may use,
- ``SPARK_GRAFT_DRIVER_MEM`` (the JVM heap, initial and maximum, touched
  at start) set to 3g, or a third of RAM on a smaller host, and the JVM's
  JIT held to its first tier (C1), so that per-job figures do not drift
  as it warms,
- ``SPARK_LOCAL_DIRS``, ``TMPDIR`` and the JVM's temporary directory under
  a work directory ``.perfbench_work/`` in the repository, which is also
  the child's working directory (so ``spark-warehouse`` lands there),
- ``PYTHONPATH`` set to the repository, which Spark's Python workers need
  to import ``database_syncer_spark``,
- for ``--trace 1``, an uncompressed Spark event log in the work
  directory.

It stops the child's whole process group (the JVM and its Python
workers), waits for it, and removes the work directory.
"""

from __future__ import annotations

import argparse
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TIMEOUT_S = 170


def _heap() -> str:
    """3g, or a third of RAM on a smaller host."""
    with open("/proc/meminfo") as fh:
        kb = int(next(l for l in fh if l.startswith("MemTotal")).split()[1])
    return f"{max(1, min(3, kb // 2**20 // 3))}g"


def _env(work: str, trace: bool) -> dict[str, str]:
    env = dict(os.environ)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    heap = _heap()
    # initial heap = maximum heap, every page touched at start: which heap
    # pages G1 has touched by a run's peak, and so the JVM's resident
    # memory, would otherwise vary from run to run.
    # Only the JIT's first tier (C1): a run is too short for the tiered
    # C2 compiler to settle, and while it works a job's CPU time falls
    # about twofold over the first ten jobs, so a figure would depend on
    # how many jobs fit in the run; with C1 it is flat after the first.
    submit = ["--conf", "spark.ui.enabled=false",
              "--conf", "spark.driver.extraJavaOptions="
                        f"-Xms{heap} -XX:+AlwaysPreTouch "
                        "-XX:TieredStopAtLevel=1"]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", "spark.eventLog.compress=false",
                   "--conf", f"spark.eventLog.dir=file:{log_dir}"]
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": heap,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        # every JVM (spark-submit's launcher and Spark's own): temporary
        # files in the work directory, and no /tmp/hsperfdata_<user>
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": shlex.join(submit + ["pyspark-shell"]),
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    return env


def _group_gone(pgid: int, wait_s: float) -> bool:
    deadline = time.monotonic() + wait_s
    while True:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return True
        if time.monotonic() >= deadline:
            return False
        time.sleep(0.1)


def _stop_group(pgid: int, grace_s: float) -> None:
    """Wait ``grace_s`` for the rest of the process group (the JVM runs its
    shutdown hooks after the worker exits), then terminate it, then kill
    it."""
    if _group_gone(pgid, grace_s):
        return
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        if _group_gone(pgid, 10.0):
            return
    print(f"process group {pgid} did not exit", file=sys.stderr)


def main() -> int:
    # a terminated benchmark still stops its child's process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload once on tiny inputs")
    args = ap.parse_args()
    if not args.smoke and not args.workload:
        ap.error("--workload is required unless --smoke is given")
    if not os.path.isfile(os.path.join(ROOT, "database_syncer_spark",
                                       "__init__.py")):
        print(f"database_syncer_spark not found under {ROOT}: run from a "
              "checkout of the repository", file=sys.stderr)
        return 2

    workload = "all" if args.smoke else args.workload
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--spawned-at", repr(time.time())]
    if args.smoke:
        cmd.append("--smoke")
    proc, grace_s = None, 15.0
    try:
        proc = subprocess.Popen(cmd, cwd=work, env=_env(work, args.trace),
                                start_new_session=True)
        try:
            return proc.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"run exceeded {TIMEOUT_S} s", file=sys.stderr)
            grace_s = 0.0
            return 124
    finally:
        if proc is not None:
            _stop_group(proc.pid, grace_s)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass


if __name__ == "__main__":
    sys.exit(main())
