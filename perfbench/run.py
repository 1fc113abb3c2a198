"""Crawl benchmark: one workload per process, on local[nproc].

    python3 perfbench/run.py --workload discover --seed 1 --seconds 12 --trace 0

Run from the repository root. The workloads (perfbench/workloads.py) are
`discover`, `saturate`, `harvest` and `curate`; perfbench/README.md says what
each one loads and which metric should move when a layer gets faster.

With `--trace 0` the run times its ops and prints the end-to-end metrics;
with `--trace 1` it reruns an op under span wrappers and Spark's event log
and prints the per-layer metrics (perfbench/trace.py). Every op's output is
checked against an oracle in both modes. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}; the line before it
holds the run's details (host stamp, per-op and per-wave figures).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shutil
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
DRIVER_HEAP = "1g"

E2E_UNITS = {
    "setup_s": "s",
    "op_s": "s",
    "items_per_s": "1/s",
    "peak_rss_mb": "MB",
}


def process_age_s() -> float:
    """Seconds since this process started (from /proc, so interpreter start
    and imports are included)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_times():
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals  # user nice system idle iowait irq softirq steal ...


class Bench:
    """State of one benchmark run: the session, the op counters and the
    phase/job-group hooks the workloads call."""

    def __init__(self, args, nproc: int):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.nproc = nproc
        self.master = f"local[{nproc}]"
        self.work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
        self.max_ops = 64
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.setup_times: list[float] = []
        self.tracer = None
        self.spark = None
        self.warmup = None
        self._ids = 0

    # -- session ---------------------------------------------------------
    def start_session(self, master: str | None = None):
        from crawlspark.session import get_spark

        # a fixed-size driver heap: G1 then never resizes it, which keeps the
        # JVM's resident high-water mark from varying with GC timing
        extra = {"spark.driver.extraJavaOptions":
                 f"-Djava.io.tmpdir={self.tmp} -Xms{DRIVER_HEAP}"}
        if self.trace:
            events = os.path.join(self.work, "events")
            os.makedirs(events, exist_ok=True)
            extra.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + events,
                # Spark 4 compresses with zstd by default; trace.py reads
                # the log as plain JSON lines
                "spark.eventLog.compress": "false",
            })
        self.spark = get_spark(app_name=f"perfbench-{self.workload}",
                               master=master or self.master, extra=extra)
        return self.spark

    @property
    def tmp(self):
        return os.path.join(self.work, "tmp")

    # -- hooks the workloads call -----------------------------------------
    def next_id(self) -> int:
        self._ids += 1
        return self._ids

    def set_group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(name, name)

    def phase(self, name: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, "phase")

    def untimed(self, fn):
        self.set_group("check")
        return fn()

    def attempt(self, fn, *args):
        """Run one op; an exception or failed check counts as a failed op."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception as e:  # noqa: BLE001 -- a failed op is counted, the run goes on
            self.failed += 1
            self.errors.append(f"{type(e).__name__}: {e}"[:400])
            traceback.print_exc(file=sys.stderr)
            return None


def jvm_hwm_mb(spark) -> float:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is None:
        return 0.0
    with open(f"/proc/{proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def stop_session(bench) -> None:
    """Stop Spark, then the gateway JVM, and wait until it has exited."""
    from pyspark import SparkContext

    if bench.spark is not None:
        bench.spark.stop()
        bench.spark = None
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["harvest", "curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    # the program under test must be importable here and in Spark's python
    # workers, which see PYTHONPATH but not this process's sys.path
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from perfbench import workloads  # imports crawlspark: fails outside a checkout

    nproc = len(os.sched_getaffinity(0))
    bench = Bench(args, nproc)
    shutil.rmtree(bench.work, ignore_errors=True)
    os.makedirs(bench.tmp)
    os.environ["TMPDIR"] = bench.tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(bench.work, "spark-local")
    # a small driver heap: the host may be shared, and the inputs are small
    os.environ["CRAWLSPARK_DRIVER_MEM"] = DRIVER_HEAP
    # no JVM perf-data files: every JVM (the launcher too) would write them
    # outside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"

    cpu0, load0 = cpu_times(), os.getloadavg()
    try:
        spark = bench.start_session()
        session_s = process_age_s()
        shuffle_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
        bench.set_group("setup")
        if bench.trace:
            from perfbench import trace

            metrics, detail = trace.run_traced(bench, workloads)
        else:
            t0 = time.monotonic()
            res = workloads.WORKLOADS[args.workload](bench)
            detail = res.pop("detail")
            detail.update(run_s=time.monotonic() - t0, session_s=session_s,
                          setup_builds_s=bench.setup_times, step_p50_s=res["step_p50_s"])
            peak = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024 + jvm_hwm_mb(spark)
            metrics = dict(
                setup_s=session_s + res["setup_s"],
                op_s=res["op_s"],
                items_per_s=res["items_per_s"],
                peak_rss_mb=peak,
            )
            metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in metrics.items()}
    finally:
        stop_session(bench)
        shutil.rmtree(bench.work, ignore_errors=True)

    import pyspark

    d = [b - a for a, b in zip(cpu0, cpu_times())]
    detail.update(
        workload=args.workload,
        seed=args.seed,
        host=dict(
            nproc=nproc,
            master=bench.master,
            shuffle_partitions=shuffle_partitions,
            pyspark=pyspark.__version__,
            steal_pct=100.0 * d[7] / max(1, sum(d)),
            loadavg_start=load0,
            loadavg_end=os.getloadavg(),
        ),
        errors=bench.errors,
    )
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": bench.failed == 0 and bench.attempted > 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
