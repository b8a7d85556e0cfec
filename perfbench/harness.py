"""Sessions, set-up and the closed measuring loop shared by workloads.

One process, one Spark ``local[cpus]`` session at a time, one job at a
time: each run starts when the previous one (and its output checks)
ended, until the runs have taken ``seconds``.  Everything the program writes —
inputs, outputs, Spark scratch, event logs — lives under the work
directory inside the checkout.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

import procs

_T0 = time.monotonic()


def log(msg: str) -> None:
    """Progress on stderr (stdout carries only the result line)."""
    print(f"[perfbench {time.monotonic() - _T0:7.1f}s] {msg}",
          file=sys.stderr, flush=True)


@dataclass
class Timed:
    wall_s: float
    cpu: procs.TreeCpu          # JVM + Python workers
    driver_cpu_s: float         # the benchmark's main thread
    result: object

    @property
    def cpu_s(self) -> float:
        return self.cpu.total_s + self.driver_cpu_s


def timed(fn) -> Timed:
    c0, d0, t0 = procs.tree_cpu(), time.thread_time(), time.perf_counter()
    result = fn()
    wall = time.perf_counter() - t0
    return Timed(wall, procs.tree_cpu() - c0, time.thread_time() - d0,
                 result)


@dataclass
class Measurement:
    runs: list = field(default_factory=list)        # Timed per good run
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)


class Bench:
    def __init__(self, work: str, seed: int, seconds: float, cpus: int):
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.cpus = cpus

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def fresh_dir(self, *parts: str) -> str:
        p = self.path(*parts)
        shutil.rmtree(p, ignore_errors=True)
        return p

    def session(self, cpus: int | None = None,
                event_dir: str | None = None):
        from syslog_loose_spark.session import get_spark

        extra = {}
        if event_dir is not None:
            os.makedirs(event_dir, exist_ok=True)
            extra = {"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_dir,
                     "spark.eventLog.compress": "false"}
        return get_spark("perfbench", cpus=cpus or self.cpus,
                         local_dir=self.path("spark-local"),
                         extra_conf=extra)

    def setup(self, workload, cpus: int | None = None,
              event_dir: str | None = None):
        """Start a SparkContext and session through the session factory
        (the first call also launches the JVM), then run the workload's
        warm-up pass."""
        def go():
            spark = self.session(cpus, event_dir)
            workload.warm_up(spark)
            return spark
        t = timed(go)
        log(f"set-up took {t.wall_s:.2f}s")
        return t.result, t.wall_s

    def attempt(self, m: Measurement, workload, spark, run_fn,
                keep: bool = False) -> Timed | None:
        """One run plus its output checks; a raise or a failed check
        counts the run as failed.  The run's outputs are released unless
        ``keep`` (the caller then calls ``workload.release``)."""
        m.attempted += 1
        t = None
        try:
            t = timed(run_fn)
            problems = workload.check(spark, t.result)
        except Exception:
            problems = [traceback.format_exc(limit=5)]
        finally:
            if not keep:
                workload.release(spark)
        log(f"run {m.attempted}: {t.wall_s:.2f}s" if t else
            f"run {m.attempted} raised")
        if problems:
            m.failed += 1
            m.problems.extend(problems[:5])
            return None
        m.runs.append(t)
        return t

    def measure(self, workload, spark, peak: procs.PeakRss) -> Measurement:
        """Closed loop: runs back to back until the runs themselves (not
        their checks) have taken ``seconds``; a failed run ends it."""
        m = Measurement()
        peak.reset()
        spent = 0.0
        while spent < self.seconds:
            t = self.attempt(m, workload, spark,
                             lambda: workload.run(spark))
            spent += t.wall_s if t else self.seconds
        return m


def stop_all(spark) -> None:
    """Stop the session, then the JVM pyspark launched, and wait until
    every process the benchmark started has exited."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:
            pass
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None
    procs.wait_tree_gone()
