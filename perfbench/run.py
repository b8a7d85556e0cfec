"""The repository benchmark: one workload per call, one JSON line out.

    python3 perfbench/run.py --workload logs_mixed --seed 1 --seconds 12 \
        --trace 0
    python3 perfbench/run.py --write-manifest     # regenerate BENCHMARK.json

Run from the root of a checkout.  The inputs are generated from
``--seed``; with ``--trace 0`` the process sets up (JVM, session, warm-up
pass), runs the workload in a closed loop for ``--seconds`` and prints
the end-to-end metrics; with ``--trace 1`` it makes the traced run and prints the
per-layer metrics.  Every run's outputs are checked; the last line of
stdout is ``{"correct", "attempted", "failed", "metrics"}``.  All files
go under ``.bench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _prepare_env(work: str) -> None:
    """Keep every file the program, Spark and the JVM write inside the
    work directory, and let the Python workers import the package."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # the session factory's 8g default is sized for a 32-core box; at
    # three task slots a 2g heap fills up early in every run, so the
    # JVM's resident size stops depending on when it happened to grow
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"),
                    f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData") if p)


def _task_slots() -> int:
    """0.75 of the usable cores, at least one."""
    return max(1, len(os.sched_getaffinity(0)) * 3 // 4)


def _end_to_end(wl, m, setup_s: float, peak_mb: float) -> dict:
    if not m.runs:
        return {}
    run_s = statistics.median(t.wall_s for t in m.runs)
    return {
        "run_s": run_s,
        "records_per_s": wl.records / run_s,
        "cpu_s": statistics.median(t.cpu_s for t in m.runs),
        "peak_rss_mb": peak_mb,
        "setup_s": setup_s,
    }


def main(argv=None) -> int:
    import metrics as M

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(M.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=M.RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-manifest", action="store_true",
                    help="write BENCHMARK.json at the checkout root")
    args = ap.parse_args(argv)
    if args.write_manifest:
        with open(os.path.join(ROOT, "BENCHMARK.json"), "w") as f:
            json.dump(M.manifest(), f, indent=2)
            f.write("\n")
        return 0
    if args.workload is None:
        ap.error("--workload is required")
    if not os.path.isfile(os.path.join(ROOT, "syslog_loose_spark",
                                       "__init__.py")):
        print(f"no syslog_loose_spark package under {ROOT}: run from the "
              "root of a full checkout", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)
    sys.path.insert(0, ROOT)

    import procs
    from harness import Bench, Measurement, log, stop_all
    from workloads import WORKLOADS

    bench = Bench(work, args.seed, args.seconds, _task_slots())
    wl = WORKLOADS[args.workload](bench)
    wl.generate()
    log(f"generated {args.workload} inputs for seed {args.seed}")
    m = Measurement()
    values: dict = {}
    spark = None
    with procs.PeakRss() as peak:
        try:
            if args.trace:
                values = wl.traced(bench, m)
            else:
                spark, setup_s = bench.setup(wl)
                m = bench.measure(wl, spark, peak)
                values = _end_to_end(wl, m, setup_s, peak.peak_mb)
        except Exception:
            m.attempted += 1
            m.failed += 1
            m.problems.append(traceback.format_exc())
        finally:
            stop_all(spark)
    log("stopped")
    for name in os.listdir(work):
        if name != "trace":
            shutil.rmtree(os.path.join(work, name), ignore_errors=True)

    for p in m.problems:
        print(f"check failed: {p}", file=sys.stderr)
    table = M.PER_LAYER if args.trace else M.END_TO_END
    out = {
        "correct": m.failed == 0 and m.attempted > 0,
        "attempted": max(m.attempted, 1),
        "failed": m.failed if m.attempted else 1,
        "metrics": {name: {"value": values.get(name, 0.0), "unit": spec[0]}
                    for name, spec in table.items()},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
