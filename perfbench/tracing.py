"""Spans around the benchmark's calls into the program, and the Spark
event log those calls leave behind.

A ``Tracer`` records one span per public layer call (name, start, end,
parent, run id) and, while a span is open, labels every Spark job the
call starts with ``run_id/span`` through ``setJobDescription``.  Spans
stay in memory until ``dump``.  A disabled tracer records and labels
nothing, so an untraced run pays nothing for it.

``EventLog`` reads the JSON-lines event log of one Spark application and
sums task metrics per job, so that each job — and through its label or
submission time, each stage — is assigned to the span that started it.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float            # epoch seconds
    end: float
    parent: str | None
    run_id: str

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool):
        self._sc = spark.sparkContext if enabled else None
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self._sc.setJobDescription(f"{self.run_id}/{name}")
        sp = Span(name, time.time(), 0.0, parent, self.run_id)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self.spans.append(sp)
            self._stack.pop()
            self._sc.setJobDescription(
                f"{self.run_id}/{self._stack[-1]}" if self._stack else None)

    def add(self, name: str, start: float, end: float,
            parent: str | None) -> None:
        """Record a span reconstructed after the fact (pipeline phases)."""
        if self.enabled:
            self.spans.append(Span(name, start, end, parent, self.run_id))

    def find(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f, indent=1)


class PhaseClock(dict):
    """A ``timings=`` dict for ``run_pipeline`` that also remembers when
    each phase ended.  ``run_pipeline`` stores a phase's accumulated
    (wall_sec, machine_cpu_sec) when the phase ends; the growth of the
    wall total since the previous store is that occurrence's duration,
    so each occurrence's [start, end] interval is recovered exactly."""

    def __init__(self):
        super().__init__()
        self.occurrences: list[tuple[str, float, float]] = []

    def __setitem__(self, name, value):
        prev = self.get(name, (0.0, 0.0))[0]
        now = time.time()
        self.occurrences.append((name, now - (value[0] - prev), now))
        super().__setitem__(name, value)

    def walls(self, name: str) -> list[float]:
        return [e - s for n, s, e in self.occurrences if n == name]


@dataclass
class StageSum:
    stage_id: int
    name: str
    tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    sched_delay_s: float = 0.0
    shuffle_write_bytes: int = 0
    input_bytes: int = 0
    input_records: int = 0
    output_bytes: int = 0
    task_durations: list = field(default_factory=list)


@dataclass
class JobSum:
    job_id: int
    label: str
    submit: float            # epoch seconds
    stages: list = field(default_factory=list)


def _event_lines(path: str):
    """Lines of a plain event log file, or of a rolling one (a directory
    of ``events_<n>_<app>`` files, read in order)."""
    if os.path.isdir(path):
        parts = sorted((n for n in os.listdir(path) if n.startswith("events_")),
                       key=lambda n: int(n.split("_")[1]))
        files = [os.path.join(path, n) for n in parts]
    else:
        files = [path]
    for name in files:
        with open(name) as f:
            yield from f


class EventLog:
    def __init__(self, path: str):
        stages: dict[int, StageSum] = {}
        jobs: dict[int, JobSum] = {}
        stage_job: dict[int, int] = {}
        for line in _event_lines(path):
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = JobSum(ev["Job ID"],
                             props.get("spark.job.description") or "",
                             ev["Submission Time"] / 1000.0)
                jobs[job.job_id] = job
                # a stage belongs to the first job that lists it: later
                # jobs list it again as a skipped parent
                for info in ev.get("Stage Infos", ()):
                    sid = info["Stage ID"]
                    stages.setdefault(
                        sid, StageSum(sid, info.get("Stage Name", "")))
                    stage_job.setdefault(sid, job.job_id)
            elif kind == "SparkListenerTaskEnd":
                self._add_task(stages, ev)
        for sid, jid in stage_job.items():
            if stages[sid].tasks:
                jobs[jid].stages.append(stages[sid])
        self.jobs = sorted(jobs.values(), key=lambda j: j.job_id)

    @staticmethod
    def _add_task(stages: dict, ev: dict) -> None:
        st = stages.setdefault(ev["Stage ID"], StageSum(ev["Stage ID"], ""))
        info = ev.get("Task Info") or {}
        m = ev.get("Task Metrics") or {}
        dur_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
        run_ms = m.get("Executor Run Time", 0)
        st.tasks += 1
        st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
        st.gc_s += m.get("JVM GC Time", 0) / 1000.0
        # the Spark UI's scheduler delay: task lifetime not spent
        # deserializing, running, serializing or fetching the result
        st.sched_delay_s += max(0, dur_ms - run_ms
                                - m.get("Executor Deserialize Time", 0)
                                - m.get("Result Serialization Time", 0)
                                - info.get("Getting Result Time", 0)) / 1e3
        st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}) \
            .get("Shuffle Bytes Written", 0)
        inp = m.get("Input Metrics") or {}
        st.input_bytes += inp.get("Bytes Read", 0)
        st.input_records += inp.get("Records Read", 0)
        st.output_bytes += (m.get("Output Metrics") or {}) \
            .get("Bytes Written", 0)
        st.task_durations.append(dur_ms / 1000.0)

    def labelled(self, label: str) -> list[JobSum]:
        """Jobs started while span ``label`` (``run_id/name``) was the
        innermost open span."""
        return [j for j in self.jobs if j.label == label]

    def under(self, prefix: str) -> list[JobSum]:
        return [j for j in self.jobs if j.label.startswith(prefix)]

    @staticmethod
    def within(jobs: list[JobSum], start: float, end: float) -> list[JobSum]:
        return [j for j in jobs if start <= j.submit <= end]


def totals(jobs: list[JobSum]) -> dict:
    stages = [s for j in jobs for s in j.stages]
    return {
        "jobs": len(jobs),
        "tasks": sum(s.tasks for s in stages),
        "cpu_s": sum(s.cpu_s for s in stages),
        "gc_s": sum(s.gc_s for s in stages),
        "sched_delay_s": sum(s.sched_delay_s for s in stages),
        "shuffle_write_bytes": sum(s.shuffle_write_bytes for s in stages),
        "input_bytes": sum(s.input_bytes for s in stages),
        "input_records": sum(s.input_records for s in stages),
        "output_bytes": sum(s.output_bytes for s in stages),
    }


def task_skew(jobs: list[JobSum]) -> float:
    """max / median task duration of the stage that wrote the most
    output bytes among ``jobs`` (0 when none wrote)."""
    stages = [s for j in jobs for s in j.stages if s.output_bytes]
    if not stages:
        return 0.0
    st = max(stages, key=lambda s: s.output_bytes)
    med = statistics.median(st.task_durations)
    return max(st.task_durations) / med if med > 0 else 0.0


def event_log_file(directory: str) -> str:
    names = [n for n in os.listdir(directory) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {directory}: {names}")
    return os.path.join(directory, names[0])
