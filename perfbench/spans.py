"""Spans around the benchmark's calls into the program, and the Spark
event-log parser that attributes Spark's own counters to them.

Spans are kept in memory and only turned into numbers when the run
ends. In a traced run every span that wraps a call into the program
sets a Spark job group (``sc.setJobGroup``) named after the span, so
each job in the event log can be traced back to the span that caused
it; a job submitted without that group (from a thread the program
starts itself) is attributed by time instead, which is exact here
because the benchmark is a single closed-loop client.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    layer: str
    start: float  # epoch seconds, comparable with event-log timestamps
    end: float = 0.0
    parent: int | None = None
    group: str | None = None
    ok: bool = True
    probe: bool = False  # work only a traced run does (forcing a lazy stage, reading Catalyst)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; with ``spark`` given, also sets a job group per
    span so the event log can be joined back to it."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str, probe: bool = False):
        idx = len(self.spans)
        group = f"pb{idx}:{name}" if self.spark is not None else None
        parent = self._stack[-1] if self._stack else None
        s = Span(name, layer, time.time(), parent=parent, group=group, probe=probe)
        self.spans.append(s)
        self._stack.append(idx)
        if group is not None:
            self.spark.sparkContext.setJobGroup(group, f"{layer} {name}")
        try:
            yield s
        except BaseException:
            s.ok = False
            raise
        finally:
            s.end = time.time()
            self._stack.pop()
            if self.spark is not None:
                if self._stack:
                    outer = self.spans[self._stack[-1]]
                    self.spark.sparkContext.setJobGroup(outer.group, f"{outer.layer} {outer.name}")
                else:
                    for key in ("spark.jobGroup.id", "spark.job.description"):
                        self.spark.sparkContext.setLocalProperty(key, None)


COUNTERS = (
    "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_write_bytes", "spill_bytes", "output_bytes",
)


@dataclass
class Job:
    job_id: int
    group: str | None
    start: float  # epoch seconds
    end: float
    stage_ids: list[int] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    cores: int = 0


def parse_event_log(path: str) -> EventLog:
    """Read an uncompressed, non-rolling Spark event log (one JSON
    event per line) into jobs, each with its interval, job group and
    the task-metric totals of the stages it ran."""
    log = EventLog()
    stages: dict[int, dict[str, float]] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                t = ev["Submission Time"] / 1000.0
                log.jobs[ev["Job ID"]] = Job(
                    ev["Job ID"], props.get("spark.jobGroup.id"), t, t, list(ev.get("Stage IDs", []))
                )
            elif kind == "SparkListenerJobEnd":
                job = log.jobs.get(ev["Job ID"])
                if job is not None:
                    job.end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                st = stages.setdefault(ev["Stage Info"]["Stage ID"], dict.fromkeys(COUNTERS, 0))
                st["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], dict.fromkeys(COUNTERS, 0))
                m = ev.get("Task Metrics") or {}
                st["tasks"] += 1
                st["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                st["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                st["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                st["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            elif kind == "SparkListenerExecutorAdded":
                log.cores += (ev.get("Executor Info") or {}).get("Total Cores", 0)
    owned: set[int] = set()
    for job in sorted(log.jobs.values(), key=lambda j: j.job_id):
        for sid in job.stage_ids:
            if sid in stages and sid not in owned:  # a shared stage counts once, for its first job
                owned.add(sid)
                for k, x in stages[sid].items():
                    job.counters[k] += x
    return log


def totals(jobs: list[Job]) -> dict[str, float]:
    out = dict.fromkeys(COUNTERS, 0)
    for j in jobs:
        for k, x in j.counters.items():
            out[k] += x
    return out


def jobs_by_span(spans: list[Span], log: EventLog) -> dict[int, list[Job]]:
    """Map span index -> the jobs it caused. A job belongs to the span
    whose group it carries; an ungrouped job to the innermost span whose
    interval contains its submission."""
    by_group = {s.group: i for i, s in enumerate(spans) if s.group}
    out: dict[int, list[Job]] = {i: [] for i in range(len(spans))}
    for job in log.jobs.values():
        idx = by_group.get(job.group)
        if idx is None:
            inside = [i for i, s in enumerate(spans) if s.start <= job.start <= s.end]
            if not inside:
                continue
            idx = max(inside, key=lambda i: spans[i].start)
        out[idx].append(job)
    return out


def covered_seconds(span: Span, jobs: list[Job]) -> float:
    """Length of the union of the jobs' intervals, clipped to the span."""
    ivs = sorted((max(j.start, span.start), min(j.end, span.end)) for j in jobs)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def net_seconds(spans: list[Span], idx: int) -> float:
    """A span's seconds less those of the probe spans under it (probes
    do not nest): what the call costs untraced, plus tracing itself."""
    under = descendants(spans, idx)[1:]
    return spans[idx].seconds - sum(spans[i].seconds for i in under if spans[i].probe)


def descendants(spans: list[Span], idx: int) -> list[int]:
    """``idx`` and every span nested under it (parents precede children)."""
    out = {idx}
    for i in range(idx + 1, len(spans)):
        if spans[i].parent in out:
            out.add(i)
    return sorted(out)
