"""Every workload and metric the benchmark reports, in one place.

``python3 perfbench/run.py --write-manifest`` renders these tables into
``BENCHMARK.json``; the runs print exactly these names and units.

End-to-end metrics are measured with tracing off and exist on every
workload.  Per-layer metrics come from the traced run (``--trace 1``);
a layer that a workload never calls reads 0 there (the curation
workload never parses or routes, the log workload never curates).
Each per-layer comment names the end-to-end metric it should move, on
which workload.
"""

from __future__ import annotations

WORKLOADS = {
    "logs_mixed": (
        "~150 B seeded syslog lines from golden-corpus templates, 60% from "
        "one hot source, 5% malformed, one chunk: the whole parse, enrich, "
        "route, aggregate batch, led by per-row Python parse and the write"),
    "curation_neardup": (
        "curation_v2 (quality cut, winnow near-dup drop, token budget) plus "
        "embedding_near_dups past the Arrow re-score gate, planted dups: "
        "functions and _track checkpoints, no parse"),
}

# name -> (unit, better, bound)
# Bounds are about three times the quartile spread measured over seeds on
# the 4-core VM (timings 5-8%, memory 1-7%); set-up gets the largest.
END_TO_END = {
    "run_s": ("s", "lower", 0.25),            # input to committed output
    "records_per_s": ("1/s", "higher", 0.25),
    "cpu_s": ("s", "lower", 0.25),            # JVM + Python workers + driver
    "peak_rss_mb": ("MB", "lower", 0.25),     # JVM + Python workers
    "setup_s": ("s", "lower", 0.25),          # JVM + session + warm-up pass
}

# name -> (unit, better)
PER_LAYER = {
    # sources
    "sources.scan_s": ("s", "lower"),               # run_s, logs_mixed
    # input rows scanned / input rows over both resume legs (1.0 = one
    # scan; Spark's bytes-read metric misses most parquet page reads here)
    "sources.input_read_ratio": ("ratio", "lower"),  # run_s, resume leg
    # operators.parse
    "parse.kernel_us_per_row": ("us", "lower"),     # cpu_s, logs_mixed
    "parse.stage_cpu_s": ("s", "lower"),            # cpu_s, logs_mixed
    "parse.boundary_cpu_s": ("s", "lower"),         # run_s, logs_mixed
    "parse.python_cpu_s": ("s", "lower"),           # cpu_s, logs_mixed
    "parse.dead_letter_frac": ("ratio", "lower"),   # equals generator share
    # operators.enrich
    "enrich.stage_s": ("s", "lower"),               # run_s, logs_mixed
    # operators.route
    "route.shuffle_s": ("s", "lower"),              # run_s, logs_mixed
    "route.shuffle_bytes": ("bytes", "lower"),
    "route.write_s": ("s", "lower"),                # run_s, logs_mixed
    "route.bytes_written": ("bytes", "lower"),
    "route.files": ("count", "lower"),
    "route.task_skew": ("ratio", "lower"),
    "route.sink_bytes_ratio": ("ratio", "lower"),   # routed / input bytes
    # operators.resume (stop after one chunk of three, then resume)
    "resume.resume_s": ("s", "lower"),
    "resume.commit_s": ("s", "lower"),
    "resume.commit_s_p90": ("s", "lower"),
    "resume.completed_chunks_s": ("s", "lower"),
    "resume.chunks_redone": ("count", "lower"),     # = uncommitted chunks
    # operators.aggregate
    "aggregate.s": ("s", "lower"),                  # run_s, logs_mixed
    "aggregate.readback_bytes": ("bytes", "lower"),
    # plans.pipeline, via run_pipeline(timings=...); cpu is machine-wide
    "pipeline.parse_route_write_s": ("s", "lower"),
    "pipeline.parse_route_write_cpu_s": ("s", "lower"),
    "pipeline.commit_metrics_s": ("s", "lower"),
    "pipeline.commit_metrics_cpu_s": ("s", "lower"),
    "pipeline.aggregate_s": ("s", "lower"),
    "pipeline.aggregate_cpu_s": ("s", "lower"),
    # Spark engine, from the event log of the traced run
    "spark.jobs": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.executor_cpu_s": ("s", "lower"),
    "spark.scheduler_delay_s": ("s", "lower"),
    # process tree during the traced run
    "proc.jvm_cpu_s": ("s", "lower"),
    "proc.python_cpu_s": ("s", "lower"),
    # functions (curation_neardup)
    "text.quality_cut_s": ("s", "lower"),
    "dedup.winnow_s": ("s", "lower"),
    "text.budget_cut_s": ("s", "lower"),
    "similarity.embed_dups_s": ("s", "lower"),
    "dedup.checkpoint_jobs": ("count", "lower"),    # run_s, curation
    "dedup.tracked_mb": ("MB", "lower"),            # peak_rss_mb, curation
    "similarity.arrow_rescore": ("flag", "higher"),  # 1 = Arrow path ran
    # tracing itself
    "trace.overhead_frac": ("ratio", "lower"),
    "trace.unattributed_cpu_frac": ("ratio", "lower"),
    "scaling.eff_1_to_3": ("ratio", "higher"),      # logs_mixed, 1 vs 3 slots
}

COMMAND = ["python3", "perfbench/run.py"]
PATHS = ["perfbench"]
RUN_SECONDS = 5


def manifest() -> dict:
    return {
        "command": COMMAND,
        "paths": PATHS,
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS.items()],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": bound}
                       for n, (u, b, bound) in END_TO_END.items()],
        "per_layer": [{"name": n, "unit": u, "better": b}
                      for n, (u, b) in PER_LAYER.items()],
    }
