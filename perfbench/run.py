"""Benchmark entry point.

    python3 perfbench/run.py --workload search_batch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Starts one local Spark session
(``local[2]``), runs the workload as a closed loop for ``--seconds``,
checks every answer, and prints one JSON object as the last line of
standard output::

    {"correct": true, "attempted": 5, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` runs the
workload with Spark's event log on and reports per-layer metrics parsed
from it; it then repeats set-up and one timed call in a new session
without the event log, as the reference for ``trace.overhead_ratio``.

Everything the run writes goes under ``.perfbench_work/`` in the
checkout and is removed at exit.  Exit code 0 means the result line was
printed and every answer check passed; a failed check prints the result
line with ``correct: false`` and exits 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "fspann_query_system_spark"
#: the driver JVM's heap; the inputs need far less, and a fixed cap keeps
#: the JVM from growing to a different size on every run
DRIVER_MEMORY = "2g"
#: Spark task threads.  Half the cores of the 4-core box the benchmark was
#: sized on: the driver JVM's planner, its GC and the Python workers of
#: running tasks need cores of their own; with a task thread on every
#: core, near_dup_text ran no faster and the run-to-run spread of its
#: call latency was half again as large (five runs each)
TASK_THREADS = 2


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["search_batch", "near_dup_text"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "tiny"], default="full")
    return p.parse_args(argv)


# ---------------------------------------------------------------------------
# processes
# ---------------------------------------------------------------------------

def descendants(pid: int) -> list[int]:
    """Live descendant pids of ``pid`` (via /proc children lists)."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tasks = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for t in tasks:
            try:
                with open(f"/proc/{p}/task/{t}/children") as f:
                    kids = [int(x) for x in f.read().split()]
            except OSError:
                continue
            out += kids
            todo += kids
    return out


def rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / 2**20
    except (OSError, IndexError, ValueError):
        return 0.0


class PeakRss:
    """Samples the RSS summed over this process and its descendants (the
    JVM and its Python workers) and keeps the peak."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(rss_mb(p) for p in [me] + descendants(me))
            self.peak = max(self.peak, total)
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def confine(work: str) -> None:
    """Point every temporary file of this process, the JVMs it launches
    and their Python workers at ``work``, and let the workers import the
    package from the checkout."""
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update({
        "PYTHONPATH": os.pathsep.join([ROOT] + paths),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })
    # the benchmark fixes these rather than inheriting them
    for var in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE",
                "SPARK_GRAFT_DRIVER_MEM"):
        os.environ.pop(var, None)


def start_spark(work: str, name: str, event_log: str | None):
    from fspann_query_system_spark.session import get_spark
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    # set either way: a second session in the same JVM would otherwise
    # inherit the first one's setting
    conf["spark.eventLog.enabled"] = "true" if event_log else "false"
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.compress": "false",
                     "spark.eventLog.dir": "file://" + event_log})
    spark = get_spark(name, master=f"local[{TASK_THREADS}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM, and wait for every process it
    started (the JVM and its Python workers) to end."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    kids = descendants(os.getpid())
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 30
    while time.time() < deadline:
        kids = [p for p in kids if os.path.exists(f"/proc/{p}")
                and not _zombie(p)]
        if not kids:
            return
        time.sleep(0.1)
    for p in kids:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return False


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------

def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    confine(work)
    sys.path[:0] = [ROOT, HERE]
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result, lines = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    for line in lines:
        print(line)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def measure(args, work: str) -> tuple[dict, list[str]]:
    import report
    from tracing import driver_ms, parse_event_log
    from workloads import WORKLOADS, Run
    fn = WORKLOADS[args.workload]
    traced = bool(args.trace)
    event_log = os.path.join(work, "events") if traced else None
    with PeakRss() as rss:
        spark = start_spark(work, "perfbench", event_log)
        try:
            run = Run(spark, args.seed, args.seconds, args.size,
                      work, traced)
            fn(run, T0)
            if traced:
                # stopping the session completes the event log.  The
                # untraced reference pass reuses the warm JVM, so the
                # overhead ratio errs high rather than low.
                spark.stop()
                groups = parse_event_log(event_log)
                spark = start_spark(work, "perfbench-reference", None)
                # one timed call (``seconds`` 0) keeps the traced run,
                # with its six or more calls, inside its time limit
                ref = Run(spark, args.seed, 0, args.size, work,
                          traced=False, check=False)
                fn(ref, time.perf_counter())
        finally:
            stop_jvm(spark)
    lines = report.summary(run, args.workload, rss.peak)
    if not traced:
        metrics = report.end_to_end(run, rss.peak)
    else:
        traced_jobs = report.job_counts(run, args.workload)
        ref_jobs = report.job_counts(ref, args.workload)
        n = min(len(traced_jobs), len(ref_jobs))
        run.verdict([] if traced_jobs[:n] == ref_jobs[:n] else
                    [f"traced jobs per call {traced_jobs[:n]} != "
                     f"untraced {ref_jobs[:n]}"])
        logged = [len(groups[sp.group].jobs) if sp.group in groups else 0
                  for sp in run.tracer.spans]
        run.verdict([] if logged == [sp.jobs for sp in run.tracer.spans] else
                    ["event log and status tracker disagree on job counts"])
        metrics = report.per_layer(run, args.workload, groups, ref)
        lines.append(f"  untraced reference: setup {ref.setup_s:.2f} s, "
                     f"{len(ref.latencies)} calls, "
                     f"jobs per call {sorted(set(ref_jobs))}")
        lines += [f"  span {sp.group}: {1000 * sp.wall:.0f} ms, {sp.jobs} jobs, "
                  f"{driver_ms(sp, groups[sp.group]):.0f} ms outside jobs"
                  for sp in run.tracer.spans if sp.group in groups]
        lines += [f"  {k}: {v['value']:.6g} {v['unit']}"
                  for k, v in metrics.items()]
    result = {"correct": run.failed == 0 and run.attempted > 0,
              "attempted": max(1, run.attempted), "failed": run.failed,
              "metrics": metrics}
    return result, lines


if __name__ == "__main__":
    sys.exit(main())
