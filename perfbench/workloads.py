"""The two workloads: inputs, the measured call, output checks, and the
traced run that splits a run's time over the program's layers.

Sizes are set so one untraced process (three set-ups, the measuring
window, the checks) stays near a minute on a 4-core machine; see
README.md for the measured costs behind them.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import statistics
import time
from collections import Counter
from dataclasses import dataclass, field

import gen
from harness import Bench, Measurement, timed
from tracing import EventLog, PhaseClock, Tracer, event_log_file, task_skew, \
    totals

LOG_ROWS = 80_000
WARM_ROWS = 20_000
SAMPLE_ROWS = 1_000
RESUME_CHUNKS = 3          # the traced resume leg stops after one chunk
KERNEL_REPEATS = 5

CUR_DOCS = 2_000
CUR_VECS = 32_000          # 2 bands x 128 dims: 75 MB, above the 64 MiB gate
VEC_DIM = 128
WARM_DOCS = 500
WARM_VECS = 4_000

_EPOCH = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
_NO_TRACE = Tracer(None, "", False)


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def _p90(xs):
    if not xs:
        return 0.0
    xs = sorted(xs)
    return xs[min(len(xs) - 1, math.ceil(0.9 * len(xs)) - 1)]


# --- logs_mixed --------------------------------------------------------

@dataclass
class PipelineRun:
    out_dir: str
    run_id: str
    n_chunks: int
    agg: Counter            # (sink, facility, severity, hour) -> n
    check_dups: bool = False
    problems: list = field(default_factory=list)   # found while running


def _agg_counts(agg_df) -> Counter:
    from pyspark.sql import functions as F

    rows = agg_df.select("sink", "facility", "severity",
                         F.unix_seconds("hour").alias("hour"), "n").collect()
    out: Counter = Counter()
    for r in rows:
        out[(r["sink"], r["facility"], r["severity"], r["hour"])] += r["n"]
    return out


def _sd(value) -> list:
    return [(e["id"], [(p["key"], p["value"]) for p in e["params"]])
            for e in value]


def _row_problems(r, raw: str) -> list:
    """Differences between one routed row and the oracle's parse."""
    from syslog_loose_spark.oracle import parse_message

    want = gen.oracle_facts(raw)
    m = parse_message(raw)
    ok = want.sink != "dead_letter"
    ts = (None if not ok or m.timestamp is None
          else (m.timestamp - _EPOCH) // dt.timedelta(microseconds=1))
    got = (list(r["tokens"]), r["sink"], r["parse_ok"], r["facility"],
           r["severity"], r["ts_us"], r["hostname"], r["appname"],
           r["procid_pid"], r["procid_name"], r["msgid"], r["msg"],
           _sd(r["structured_data"]))
    exp = (list(raw.encode("utf-8")), want.sink, ok, m.facility,
           m.severity, ts, m.hostname, m.appname, m.procid_pid,
           m.procid_name, m.msgid, m.msg, m.structured_data)
    if got == exp:
        return []
    names = ("tokens", "sink", "parse_ok", "facility", "severity", "ts",
             "hostname", "appname", "procid_pid", "procid_name", "msgid",
             "msg", "structured_data")
    bad = [n for n, a, b in zip(names, got, exp) if a != b]
    return [f"{r['doc_id']}: {bad} differ from the oracle"]


class LogsMixed:
    name = "logs_mixed"

    def __init__(self, bench: Bench):
        self.bench = bench
        self.runs = 0

    def generate(self) -> None:
        b = self.bench
        self.table = gen.write_log_table(b.fresh_dir("input"), LOG_ROWS,
                                         b.seed, sample_size=SAMPLE_ROWS)
        self.warm = gen.write_log_table(b.fresh_dir("warm-input"),
                                        WARM_ROWS, b.seed + 1, n_files=3)
        self.records = self.table.n_rows

    def warm_up(self, spark) -> None:
        from syslog_loose_spark.plans.pipeline import run_pipeline
        from syslog_loose_spark.sources.tokenized import read_tokenized

        out = self.bench.fresh_dir("warm-out")
        _agg_counts(run_pipeline(spark, read_tokenized(spark, self.warm.path),
                                 out, "warm", n_chunks=1))

    def run(self, spark, tracer: Tracer | None = None,
            timings: dict | None = None) -> PipelineRun:
        """The measured call: input table to committed aggregates."""
        from syslog_loose_spark.plans.pipeline import run_pipeline
        from syslog_loose_spark.sources.tokenized import read_tokenized

        tracer = tracer or _NO_TRACE
        self.runs += 1
        run_id = f"r{self.runs}"
        out = self.bench.fresh_dir("out", run_id)
        with tracer.span("run_pipeline"):
            agg = run_pipeline(spark, read_tokenized(spark, self.table.path),
                               out, run_id, n_chunks=1, timings=timings)
            counts = _agg_counts(agg)
        return PipelineRun(out, run_id, 1, counts)

    def check(self, spark, res: PipelineRun) -> list:
        from pyspark.sql import functions as F

        from syslog_loose_spark.operators.resume import read_state
        from syslog_loose_spark.plans.pipeline import read_routed

        n = self.table.n_rows
        problems = list(res.problems)
        if sum(res.agg.values()) != n:
            problems.append(f"aggregates hold {sum(res.agg.values())} rows, "
                            f"input has {n}")
        if res.agg != self.table.expected:
            diff = (set(res.agg.items()) ^ set(self.table.expected.items()))
            problems.append(f"aggregate counts differ: {sorted(diff)[:4]}")
        state = (read_state(spark, os.path.join(res.out_dir, "state"))
                 .where(F.col("run_id") == res.run_id)
                 .groupBy("kind", "chunk")
                 .agg(F.count(F.lit(1)).alias("rows"),
                      F.sum("n_rows").alias("n")).collect())
        commits = {r["chunk"]: r["rows"] for r in state
                   if r["kind"] == "chunk_commit"}
        if commits != {c: 1 for c in range(res.n_chunks)}:
            problems.append(f"chunk_commit rows per chunk: {commits}")
        metric_rows = sum(r["n"] or 0 for r in state if r["kind"] == "metrics")
        if metric_rows != n:
            problems.append(f"state metrics count {metric_rows} rows of {n}")
        routed = read_routed(spark, res.out_dir)
        sample = self.table.sample
        rows = (routed.where(F.col("doc_id").isin(list(sample)))
                .withColumn("ts_us", F.unix_micros("ts")).collect())
        if sorted(r["doc_id"] for r in rows) != sorted(sample):
            problems.append(f"{len(rows)} routed rows for {len(sample)} "
                            "sampled doc ids")
        for r in rows:
            problems.extend(_row_problems(r, sample[r["doc_id"]]))
        if res.check_dups:
            ids = routed.select("doc_id")
            total, distinct = ids.count(), ids.distinct().count()
            if (total, distinct) != (n, n):
                problems.append(f"routed {total} rows, {distinct} distinct "
                                f"doc ids, input {n}")
        return problems

    def release(self, spark) -> None:
        self.bench.fresh_dir("out")

    # -- traced run --------------------------------------------------

    def traced(self, bench: Bench, m: Measurement) -> dict:
        """Per-layer metrics.  Three sessions, one after another: the run
        at one task slot (it also warms the JVM up), the untraced run at
        full width (the reference for trace overhead and scaling), then
        the traced session with the event log on: the traced run, the
        prefix cuts into a noop sink, the stop-and-resume leg and the
        parse kernel alone."""
        spark, _ = bench.setup(self, cpus=1)
        one = bench.attempt(m, self, spark, lambda: self.run(spark))
        spark.stop()

        spark, _ = bench.setup(self)
        ref = bench.attempt(m, self, spark, lambda: self.run(spark))
        spark.stop()

        ev_dir = bench.fresh_dir("trace", "events")
        spark, _ = bench.setup(self, event_dir=ev_dir)
        tracer = Tracer(spark, f"t{bench.seed}", True)
        clock = PhaseClock()

        def traced_run():
            with tracer.span("run"):
                return self.run(spark, tracer, timings=clock)
        tr = bench.attempt(m, self, spark, traced_run, keep=True)
        for name, start, end in clock.occurrences:
            tracer.add(f"pipeline.{name}", start, end, "run_pipeline")
        routed_bytes, routed_files = (
            gen.parquet_stats(os.path.join(tr.result.out_dir, "routed"))
            if tr else (0, 0))
        self.release(spark)

        cuts = self._cuts(spark, tracer)
        resume, scan_windows = self._resume_leg(bench, m, spark, tracer)
        kernel_us = self._kernel_us_per_row()
        spark.stop()
        log = EventLog(event_log_file(ev_dir))

        rid = tracer.run_id
        run_jobs = log.labelled(f"{rid}/run_pipeline")
        windows = {}
        for name, start, end in clock.occurrences:
            windows.setdefault(name, []).extend(
                log.within(run_jobs, start, end))
        attributed = {id(j) for js in windows.values() for j in js}
        tot = totals(run_jobs)
        unattributed = totals([j for j in run_jobs if id(j) not in attributed])
        n = self.table.n_rows
        out = {}
        stage_cpu = cuts["parse"].cpu.total_s - cuts["scan"].cpu.total_s
        out.update({
            "sources.scan_s": cuts["scan"].wall_s,
            "parse.stage_cpu_s": stage_cpu,
            "parse.boundary_cpu_s": stage_cpu - n * kernel_us * 1e-6,
            "enrich.stage_s": cuts["enrich"].wall_s - cuts["parse"].wall_s,
            "route.shuffle_s": (cuts["cluster"].wall_s
                                - cuts["enrich"].wall_s),
            "route.shuffle_bytes": totals(log.labelled(
                f"{rid}/cut.cluster"))["shuffle_write_bytes"],
        })
        if tr:
            prw = clock.get("parse_route_write", (0.0, 0.0))
            com = clock.get("commit_metrics", (0.0, 0.0))
            agg = clock.get("aggregate", (0.0, 0.0))
            dead = sum(v for k, v in tr.result.agg.items()
                       if k[0] == "dead_letter")
            out.update({
                "parse.kernel_us_per_row": kernel_us,
                "parse.python_cpu_s": tr.cpu.python_s,
                "parse.dead_letter_frac": dead / n,
                "route.write_s": prw[0] - cuts["cluster"].wall_s,
                "route.bytes_written": routed_bytes,
                "route.files": routed_files,
                "route.task_skew": task_skew(
                    windows.get("parse_route_write", [])),
                "route.sink_bytes_ratio": routed_bytes / self.table.input_bytes,
                "aggregate.s": agg[0],
                "aggregate.readback_bytes": totals(
                    windows.get("aggregate", []))["input_bytes"],
                "pipeline.parse_route_write_s": prw[0],
                "pipeline.parse_route_write_cpu_s": prw[1],
                "pipeline.commit_metrics_s": com[0],
                "pipeline.commit_metrics_cpu_s": com[1],
                "pipeline.aggregate_s": agg[0],
                "pipeline.aggregate_cpu_s": agg[1],
                "spark.jobs": tot["jobs"],
                "spark.tasks": tot["tasks"],
                "spark.gc_s": tot["gc_s"],
                "spark.executor_cpu_s": tot["cpu_s"],
                "spark.scheduler_delay_s": tot["sched_delay_s"],
                "proc.jvm_cpu_s": tr.cpu.jvm_s,
                "proc.python_cpu_s": tr.cpu.python_s,
                "trace.unattributed_cpu_frac": (
                    unattributed["cpu_s"] / tot["cpu_s"]
                    if tot["cpu_s"] else 0.0),
            })
            if ref:
                out["trace.overhead_frac"] = tr.wall_s / ref.wall_s - 1.0
            if ref and one:
                out["scaling.eff_1_to_3"] = one.wall_s / (
                    bench.cpus * ref.wall_s)
        if resume:
            leg_jobs = log.under(f"{rid}/resume.")
            scans = [j for start, end in scan_windows
                     for j in log.within(leg_jobs, start, end)]
            out["sources.input_read_ratio"] = (
                totals(scans)["input_records"] / n)
            out.update(resume)
        tracer.dump(bench.path("trace", f"spans-{self.name}.json"))
        return out

    def _cuts(self, spark, tracer: Tracer) -> dict:
        """Prefix cuts of the pipeline into a noop sink, each its own
        labelled call: scan, +parse, +enrich and sink, +REBALANCE."""
        from syslog_loose_spark.config import PipelineConfig
        from syslog_loose_spark.operators.enrich import enrich
        from syslog_loose_spark.operators.parse import parse_tokenized
        from syslog_loose_spark.operators.route import clustered_for_write, \
            with_sink
        from syslog_loose_spark.sources.tokenized import read_tokenized

        cfg = PipelineConfig()

        def scan():
            return read_tokenized(spark, self.table.path)

        plans = {
            "scan": scan,
            "parse": lambda: parse_tokenized(scan(), cfg.parse),
            "enrich": lambda: with_sink(enrich(parse_tokenized(scan(),
                                                               cfg.parse))),
            "cluster": lambda: clustered_for_write(
                with_sink(enrich(parse_tokenized(scan(), cfg.parse))), cfg),
        }
        out = {}
        for name, plan in plans.items():
            with tracer.span(f"cut.{name}"):
                out[name] = timed(lambda: plan().write.format("noop")
                                  .mode("overwrite").save())
        return out

    def _resume_leg(self, bench: Bench, m: Measurement, spark,
                    tracer: Tracer) -> tuple[dict, list]:
        """Stop after one of RESUME_CHUNKS chunks, resume with the same
        run id, and check the result like any run (plus no duplicate
        doc ids).  Returns the resume metrics and the [start, end] of
        every chunk's parse_route_write phase over both legs."""
        from syslog_loose_spark.operators.resume import completed_chunks
        from syslog_loose_spark.plans.pipeline import run_pipeline
        from syslog_loose_spark.sources.tokenized import read_tokenized

        out = bench.fresh_dir("out", "resume")
        state_dir = os.path.join(out, "state")
        first, second = PhaseClock(), PhaseClock()
        info = {}

        def go():
            tokens = read_tokenized(spark, self.table.path)
            with tracer.span("resume.first_leg"):
                try:
                    run_pipeline(spark, tokens, out, "resume",
                                 n_chunks=RESUME_CHUNKS, fail_after_chunk=1,
                                 timings=first)
                except RuntimeError:
                    pass
                else:
                    raise AssertionError("fail_after_chunk did not stop")
            with tracer.span("resume.completed_chunks"):
                done = timed(lambda: completed_chunks(spark, state_dir,
                                                      "resume"))
            with tracer.span("resume.leg"):
                leg = timed(lambda: _agg_counts(run_pipeline(
                    spark, tokens, out, "resume", n_chunks=RESUME_CHUNKS,
                    timings=second)))
            info.update(completed_chunks_s=done.wall_s, resume_s=leg.wall_s,
                        redone=len(second.walls("parse_route_write")))
            redo = RESUME_CHUNKS - len(done.result)
            problems = ([] if info["redone"] == redo else
                        [f"resume redid {info['redone']} chunks, {redo} "
                         "were uncommitted"])
            return PipelineRun(out, "resume", RESUME_CHUNKS, leg.result,
                               check_dups=True, problems=problems)

        if bench.attempt(m, self, spark, go) is None:
            return {}, []
        windows = []
        for leg, clock in (("resume.first_leg", first), ("resume.leg", second)):
            for name, start, end in clock.occurrences:
                tracer.add(f"pipeline.{name}", start, end, leg)
                if name == "parse_route_write":
                    windows.append((start, end))
        commits = first.walls("commit_metrics") + second.walls(
            "commit_metrics")
        return {
            "resume.resume_s": info["resume_s"],
            "resume.commit_s": _median(commits),
            "resume.commit_s_p90": _p90(commits),
            "resume.completed_chunks_s": info["completed_chunks_s"],
            "resume.chunks_redone": info["redone"],
        }, windows

    def _kernel_us_per_row(self) -> float:
        """CPU µs per row of ``parse_lines`` alone, in this process, on
        the seeded sample of the workload's lines (median of repeats)."""
        from syslog_loose_spark.config import ParseConfig
        from syslog_loose_spark.operators.parse import parse_lines

        lines = list(self.table.sample.values())
        cfg = ParseConfig()
        per_row = []
        for _ in range(KERNEL_REPEATS):
            c0 = time.thread_time()
            parse_lines(lines, lines, cfg)
            per_row.append((time.thread_time() - c0) / len(lines) * 1e6)
        return statistics.median(per_row)


# --- curation_neardup ---------------------------------------------------

@dataclass
class CurationRun:
    per_source: dict         # source -> (docs, tokens)
    emb_pairs: list          # (a, b, sim)
    arrow_rescore: bool
    kept1: object            # DataFrames, still backed by tracked blocks
    pairs: object
    final: object


class CurationNearDup:
    name = "curation_neardup"

    def __init__(self, bench: Bench):
        self.bench = bench

    def generate(self) -> None:
        b = self.bench
        self.inputs = gen.write_curation_inputs(
            b.fresh_dir("input"), CUR_DOCS, CUR_VECS, b.seed, dim=VEC_DIM)
        self.warm = gen.write_curation_inputs(
            b.fresh_dir("warm-input"), WARM_DOCS, WARM_VECS, b.seed + 1,
            dim=VEC_DIM, n_files=2)
        self.records = CUR_DOCS + CUR_VECS

    def warm_up(self, spark) -> None:
        # the warm inputs are far below the re-score size gate: force the
        # Arrow path so its Python workers start here, not in the run
        self._run(spark, self.warm, _NO_TRACE, arrow_rescore_bytes=0)
        self.release(spark)

    def run(self, spark, tracer: Tracer | None = None) -> CurationRun:
        return self._run(spark, self.inputs, tracer or _NO_TRACE)

    @staticmethod
    def _run(spark, inputs: gen.CurationInputs, tracer: Tracer,
             **embed_kw) -> CurationRun:
        """curation_v2 (as composed by the driver query) then the
        embedding near-dup search."""
        from pyspark.sql import functions as F

        from syslog_loose_spark.functions import dedup as D
        from syslog_loose_spark.functions import text as T
        from syslog_loose_spark.functions.similarity import (
            embedding_near_dups, plane_bands)

        docs = spark.read.parquet(inputs.docs_path)
        with tracer.span("text.quality_cut"):
            cut1 = T.calibrated_quality_cut_by(docs, group_col="source",
                                               keep_ppm=700_000)
            kept1 = D._track(docs.join(
                cut1.where(F.col("kept") == 1).select("doc_id"), "doc_id"))
        with tracer.span("dedup.winnow"):
            pairs = D.winnow_near_dups(kept1, k=4, w=5, min_shared=1)
            kept2 = D._track(kept1.join(
                pairs.select(F.col("b").alias("doc_id")).distinct(),
                "doc_id", "left_anti"))
        with tracer.span("text.budget_cut"):
            cut2 = T.token_budget_cut(kept2, budget_ppm=600_000)
            final = kept2.join(cut2.where(F.col("kept") == 1)
                               .select("doc_id"), "doc_id")
            per_source = {
                r["source"]: (r["n_docs"], r["n_tokens"])
                for r in final.groupBy("source").agg(
                    F.count(F.lit(1)).alias("n_docs"),
                    F.sum(T.token_count(F.col("text"))).alias("n_tokens"))
                .collect()}
        with tracer.span("similarity.embed_dups"):
            emb = embedding_near_dups(
                spark.read.parquet(inputs.vecs_path), threshold=0.95,
                planes=plane_bands(n_bands=2, n_planes=10, dim=VEC_DIM),
                **embed_kw)
            emb_pairs = [(r["a"], r["b"], r["sim"]) for r in emb.collect()]
        arrow = "MapInArrow" in emb._jdf.queryExecution().analyzed() \
            .toString()
        return CurationRun(per_source, emb_pairs, arrow, kept1, pairs, final)

    def check(self, spark, res: CurationRun) -> list:
        inp = self.inputs
        problems = []
        kept1_rows = res.kept1.select("doc_id", "source").collect()
        kept1 = {r["doc_id"] for r in kept1_rows}
        kept1_by = Counter(r["source"] for r in kept1_rows)
        for g, n_g in inp.docs_per_source.items():
            if kept1_by[g] < math.ceil(0.7 * n_g):
                problems.append(f"quality cut kept {kept1_by[g]} of {n_g} "
                                f"docs in {g}, contract is >= 70%")
        pairs = {(r["a"], r["b"]) for r in res.pairs.collect()}
        final = [r["doc_id"] for r in res.final.select("doc_id").collect()]
        final_set = set(final)
        for a, b in inp.doc_pairs:
            if a in kept1 and b in kept1:
                if (a, b) not in pairs:
                    problems.append(f"planted doc pair {(a, b)} not found")
                if b in final_set:
                    problems.append(f"near-dup doc {b} survived the drop")
        if len(final_set) != len(final) or not final_set <= kept1:
            problems.append("final docs duplicated or not in the cut")
        if not all(0 <= d < inp.n_docs for d in final_set):
            problems.append("final holds doc ids not in the input")
        if sum(n for n, _t in res.per_source.values()) != len(final):
            problems.append("per-source counts disagree with final docs")
        found = {(a, b) for a, b, sim in res.emb_pairs if sim >= 0.95}
        missing = [p for p in inp.vec_pairs if p not in found]
        if missing:
            problems.append(f"{len(missing)} planted vector pairs not found,"
                            f" e.g. {missing[:3]}")
        if any(not (0 <= a < b < inp.n_vecs) for a, b, _s in res.emb_pairs):
            problems.append("embedding pairs out of range or unordered")
        return problems

    def release(self, spark) -> None:
        from syslog_loose_spark.functions.dedup import unpersist_tracked

        unpersist_tracked()

    def traced(self, bench: Bench, m: Measurement) -> dict:
        """Per-layer metrics: two untraced runs, the second one the
        reference (the first still pays JVM warm-up, as the traced run
        later does not), then a traced run in a new context with the
        event log on and spans around each function call."""
        spark, _ = bench.setup(self)
        bench.attempt(m, self, spark, lambda: self.run(spark))
        ref = bench.attempt(m, self, spark, lambda: self.run(spark))
        spark.stop()

        ev_dir = bench.fresh_dir("trace", "events")
        spark, _ = bench.setup(self, event_dir=ev_dir)
        tracer = Tracer(spark, f"t{bench.seed}", True)

        def traced_run():
            with tracer.span("run"):
                return self.run(spark, tracer)
        tr = bench.attempt(m, self, spark, traced_run, keep=True)
        tracked_mb = _storage_mb(spark)
        self.release(spark)
        spark.stop()
        log = EventLog(event_log_file(ev_dir))
        rid = tracer.run_id
        run_jobs = log.under(f"{rid}/")
        tot = totals(run_jobs)
        out = {}
        if tr:
            def wall(name):
                return sum(s.wall_s for s in tracer.find(name))
            out.update({
                "text.quality_cut_s": wall("text.quality_cut"),
                "dedup.winnow_s": wall("dedup.winnow"),
                "text.budget_cut_s": wall("text.budget_cut"),
                "similarity.embed_dups_s": wall("similarity.embed_dups"),
                "dedup.checkpoint_jobs": sum(
                    1 for j in run_jobs
                    if any("heckpoint" in s.name for s in j.stages)),
                "dedup.tracked_mb": tracked_mb,
                "similarity.arrow_rescore": int(tr.result.arrow_rescore),
                "spark.jobs": tot["jobs"],
                "spark.tasks": tot["tasks"],
                "spark.gc_s": tot["gc_s"],
                "spark.executor_cpu_s": tot["cpu_s"],
                "spark.scheduler_delay_s": tot["sched_delay_s"],
                "proc.jvm_cpu_s": tr.cpu.jvm_s,
                "proc.python_cpu_s": tr.cpu.python_s,
                "trace.unattributed_cpu_frac": (
                    totals(log.labelled(f"{rid}/run"))["cpu_s"] / tot["cpu_s"]
                    if tot["cpu_s"] else 0.0),
            })
            if ref:
                out["trace.overhead_frac"] = tr.wall_s / ref.wall_s - 1.0
        tracer.dump(bench.path("trace", f"spans-{self.name}.json"))
        return out


def _storage_mb(spark) -> float:
    """Memory + disk of every persisted or checkpointed RDD right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos) / (1 << 20)


WORKLOADS = {w.name: w for w in (LogsMixed, CurationNearDup)}
