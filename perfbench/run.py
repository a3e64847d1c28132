"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload train_retrieval --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The load is one Python client running
a closed loop of units on ``local[N]`` (N = usable CPUs). Inputs are
generated from the seed and written as parquet before any timer starts.
Set-up is done several times in the process (the first start launches
the JVM) and reported as the median. A fixed number of warm-up units
runs untimed; then units run back to back for ``--seconds`` and the
metrics are taken from the first ``MEASURED_UNITS`` of them, so every
commit is sampled at the same unit indices. One untimed result is
checked against the DuckDB oracle.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` does the same
run, then restarts the session with the Spark UI on, runs the layer
prefixes under spans, prints the per-layer metrics and writes every
span to ``.perfbench_out/spans-<workload>-<seed>.json``. Scratch files
live under ``.perfbench_work/`` in the checkout and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUPS = 3
# Untimed warm-up units of the timed kind, the same count on every
# commit. The first one is the slowest by far (class loading, first code
# generation) and the next three still get faster while the JVM compiles
# the engine's hot paths; from the fifth on, unit times fall only slowly.
WARMUP_UNITS = 4
# Units the metrics are taken from: the first ones of the measured window,
# so that every commit is measured at the same unit indices. An odd count,
# so the median is one unit's time; both metrics are medians, so one unit
# slowed by the shared host does not move them.
MEASURED_UNITS = 5
DRIVER_MEMORY = "3g"


def parse_args(argv):
    import data

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(data.GENERATORS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(work: str) -> dict[str, str]:
    """Point every scratch location of Python, the JVM and Spark into
    ``work`` and return the extra Spark conf that goes with it."""
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # SPARK_LOCAL_DIRS overrides spark.local.dir, so set both
    os.environ["SPARK_LOCAL_DIRS"] = local
    # Python workers import feast_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    return {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
    }


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def stop_jvm(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


@contextmanager
def phase(name: str):
    """Report a phase's wall time on stderr."""
    t0 = time.perf_counter()
    try:
        yield
    finally:
        print(f"phase {name}: {time.perf_counter() - t0:.2f} s", file=sys.stderr)


class Run:
    """One benchmark run; keeps counts of attempted and failed work."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.spark = None

    def attempt(self, fn, *a):
        """Call ``fn``; a failure is counted and reported, not raised."""
        self.attempted += 1
        try:
            return fn(*a)
        except Exception:
            self.failed += 1
            traceback.print_exc()
            return None

    def start(self, wl, conf: dict) -> tuple[float, float]:
        """(Re)start the session and stage the workload; returns the
        seconds spent in ``get_spark`` and in staging."""
        from feast_spark import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", parallelism=cpus(), extra_conf=conf)
        t1 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        wl.stage(self.spark)
        return t1 - t0, time.perf_counter() - t1

    def setup(self, wl, conf: dict) -> dict:
        starts, stages = zip(*(self.start(wl, conf) for _ in range(SETUPS)))
        return {
            "setup_s": statistics.median(a + b for a, b in zip(starts, stages)),
            "session.start_s": statistics.median(starts),
            "session.first_start_s": starts[0],
            "stage.s": statistics.median(stages),
        }

    def timed_unit(self, wl) -> tuple[float, int] | None:
        t0 = time.perf_counter()
        rows = self.attempt(wl.unit)
        dt = time.perf_counter() - t0
        return None if rows is None else (dt, rows)

    def units(self, wl) -> dict:
        warm = [self.timed_unit(wl) for _ in range(WARMUP_UNITS)]
        done: list[tuple[float, int]] = []
        deadline = time.perf_counter() + self.args.seconds
        while len(done) < MEASURED_UNITS or time.perf_counter() < deadline:
            got = self.timed_unit(wl)
            if got is None:
                if self.failed > 3:  # every unit failing would never fill the window
                    break
                continue
            done.append(got)
        if not done:
            raise RuntimeError("no measured unit completed")
        times = [t for t, _ in done[:MEASURED_UNITS]]
        return {
            "warm_times": [w[0] if w else None for w in warm],
            "times": [t for t, _ in done],
            "job_s": statistics.median(times),
            "rows_per_s": statistics.median(r / t for t, r in done[:MEASURED_UNITS]),
            "jvm.first_unit_s": warm[0][0] if warm[0] else 0.0,
            "jvm.warmup_s": sum(w[0] for w in warm if w),
        }

    def check(self, wl) -> bool:
        import oracle

        con = oracle.connect(os.path.join(self.work, "duckdb"))
        try:
            reports = self.attempt(wl.check, con) or []
        finally:
            con.close()
        ok = bool(reports)
        for r in reports:
            self.attempted += 1
            if not r.ok:
                self.failed += 1
                ok = False
            print(f"check {r.name}: rows={r.rows} diff_rows={r.diff_rows} leaks={r.leaks} "
                  f"match_rate={r.match_rate}", file=sys.stderr)
        return ok


def execute(args, work: str) -> dict:
    import data

    inputs = data.generate(args.workload, args.seed, os.path.join(work, "inputs"))
    conf = isolate(work)
    import workloads

    wl = workloads.WORKLOADS[args.workload](inputs, work)
    run = Run(args, work)
    try:
        with phase("setup"):
            setup = run.setup(wl, conf)
        with phase("units"):
            units = run.units(wl)
        layers = None
        if args.trace:
            import layers as layer_metrics

            with phase("trace"):
                layers = layer_metrics.traced(run, wl, conf, setup, units, inputs)
        with phase("check"):
            correct = run.check(wl)
        rss = jvm_peak_rss_mb(run.spark)
    finally:
        if run.spark is not None:
            with phase("stop"):
                stop_jvm(run.spark)
    print(f"units={len(units['times'])} job_s={units['job_s']:.4f} "
          f"warm={[round(t, 3) for t in units['warm_times'] if t]} "
          f"times={[round(t, 3) for t in units['times']]} peak_rss_mb={rss:.0f}",
          file=sys.stderr)
    if args.trace:
        metrics = layers
        metrics["jvm.peak_rss_mb"]["value"] = rss
    else:
        metrics = {
            "setup_s": {"value": setup["setup_s"], "unit": "s"},
            "job_s": {"value": units["job_s"], "unit": "s"},
            "rows_per_s": {"value": units["rows_per_s"], "unit": "rows/s"},
        }
    return {
        "correct": correct and run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    sys.path[:0] = [HERE, ROOT]
    # on SIGTERM, unwind through the finally blocks: stop the JVM, remove scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        result = execute(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
