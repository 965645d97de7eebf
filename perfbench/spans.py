"""Spans around the benchmark's calls into each layer, and an offline
reader that attributes Spark's event log to them.

A span is a named wall-clock interval on the driver. In a traced run each
span instance sets its own Spark job group, so every job the layer launches
carries the span's identity into the event log; :func:`attribute` joins the
log's job, stage and task records back to the spans once the log is
closed. The event log is attached to the running session only around the
traced work (:func:`event_log`), so set-up and warm-up stay out of it.
Storage memory held by persisted data is sampled at every span boundary
of a traced run.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench:"


@dataclass
class Span:
    name: str
    group: str
    t0: float
    t1: float = 0.0


@dataclass
class SpanLog:
    """Records spans; ``traced`` turns on the per-span job groups."""

    sc: object
    traced: bool = False
    spans: list[Span] = field(default_factory=list)
    cache_peak_bytes: int = 0

    def sample_cache(self) -> None:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        held = sum(int(i.memSize()) for i in infos)
        self.cache_peak_bytes = max(self.cache_peak_bytes, held)

    @contextmanager
    def span(self, name: str):
        group = f"{GROUP_PREFIX}{name}#{len(self.spans)}"
        if self.traced:
            self.sample_cache()
            self.sc.setJobGroup(group, name)
        s = Span(name, group, time.time())
        try:
            yield s
        finally:
            s.t1 = time.time()
            self.spans.append(s)
            if self.traced:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
                self.sample_cache()


@contextmanager
def event_log(sc, log_dir: str):
    """Write Spark's event log (uncompressed) into ``log_dir`` while the
    block runs. The listener is the one ``spark.eventLog.enabled`` would
    install at start-up, attached to the live session and removed once the
    listener bus has drained, so the log holds every event of the block."""
    jsc = sc._jsc.sc()
    conf = jsc.conf().clone().set("spark.eventLog.compress", "false")
    none = getattr(sc._jvm.scala, "None$").__getattr__("MODULE$")
    listener = sc._jvm.org.apache.spark.scheduler.EventLoggingListener(
        jsc.applicationId(), none, sc._jvm.java.net.URI(f"file://{log_dir}"),
        conf, jsc.hadoopConfiguration(),
    )
    listener.start()
    jsc.listenerBus().addToEventLogQueue(listener)
    try:
        yield
    finally:
        jsc.listenerBus().waitUntilEmpty()
        jsc.removeSparkListener(listener)
        listener.stop()


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


@dataclass
class JobRecord:
    group: str | None
    submitted: float
    completed: float = 0.0
    stages: list[int] = field(default_factory=list)
    task_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0


def _log_lines(log_dir: str):
    """Lines of the one application's event log in ``log_dir``: a single
    file, or Spark's rolling layout (a directory of ``events_<n>_*``
    files, read in order of n)."""
    apps = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(apps) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {apps}")
    path = os.path.join(log_dir, apps[0])
    if os.path.isdir(path):
        parts = sorted(
            (f for f in os.listdir(path) if f.startswith("events_")),
            key=lambda f: int(f.split("_")[1]),
        )
        paths = [os.path.join(path, f) for f in parts]
    else:
        paths = [path]
    for p in paths:
        with open(p, encoding="utf-8") as fh:
            yield from fh


def read_event_log(log_dir: str) -> dict[int, JobRecord]:
    """Jobs of the application log in ``log_dir``, with their tasks' run
    time, shuffle bytes written and bytes spilled to disk."""
    jobs: dict[int, JobRecord] = {}
    stage_job: dict[int, int] = {}
    tasks: list[tuple[int, dict]] = []
    for line in _log_lines(log_dir):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = JobRecord(
                props.get("spark.jobGroup.id"),
                ev["Submission Time"] / 1000.0,
                stages=list(ev.get("Stage IDs", [])),
            )
            jobs[ev["Job ID"]] = job
            for sid in job.stages:
                # a stage reused by a later job is skipped there: its
                # tasks ran in the first job that listed it
                stage_job.setdefault(sid, ev["Job ID"])
        elif kind == "SparkListenerJobEnd":
            jobs[ev["Job ID"]].completed = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            tasks.append((ev["Stage ID"], ev.get("Task Metrics") or {}))
    for sid, m in tasks:
        job = jobs.get(stage_job.get(sid, -1))
        if job is None:
            continue
        job.task_s += m.get("Executor Run Time", 0) / 1000.0
        job.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        job.spill_bytes += m.get("Disk Bytes Spilled", 0)
    return jobs


def attribute(spans: list[Span], jobs: dict[int, JobRecord], window: tuple[float, float]):
    """Per-span-name totals from the event log, plus the number of jobs
    submitted inside ``window`` that carry no span's job group.

    Returns ({name: {"n", "wall_s", "jobs", "task_s", "driver_s",
    "shuffle_mb", "spill_mb"}}, unattributed_jobs)."""
    by_group = {s.group: s for s in spans}
    per_span: dict[str, list[JobRecord]] = {s.group: [] for s in spans}
    unattributed = 0
    for job in jobs.values():
        if not window[0] <= job.submitted <= window[1]:
            continue
        if job.group in per_span:
            per_span[job.group].append(job)
        else:
            unattributed += 1
    out: dict[str, dict] = {}
    for group, js in per_span.items():
        s = by_group[group]
        wall = s.t1 - s.t0
        busy = _union_len(
            [(max(j.submitted, s.t0), min(j.completed or s.t1, s.t1)) for j in js]
        )
        agg = out.setdefault(
            s.name,
            {"n": 0, "wall_s": 0.0, "jobs": 0, "task_s": 0.0, "driver_s": 0.0,
             "shuffle_mb": 0.0, "spill_mb": 0.0},
        )
        agg["n"] += 1
        agg["wall_s"] += wall
        agg["jobs"] += len(js)
        agg["task_s"] += sum(j.task_s for j in js)
        agg["driver_s"] += max(0.0, wall - busy)
        agg["shuffle_mb"] += sum(j.shuffle_bytes for j in js) / 1e6
        agg["spill_mb"] += sum(j.spill_bytes for j in js) / 1e6
    return out, unattributed
