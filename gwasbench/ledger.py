"""Spans recorded around calls into the program, and the Spark event-log
ledger that attributes jobs, tasks and bytes to them.

A span is (name, start, end) in wall-clock milliseconds, kept in memory.
The benchmark drives the program from one closed-loop client, so spans
never overlap, and a job belongs to the span whose interval holds its
submission time. That also attributes jobs the program submits from its
own thread pools, which carry no job group.

The event log is Spark's own (`spark.eventLog.enabled`), written
uncompressed and parsed here with plain `json` after the session stops.
"""

from __future__ import annotations

import bisect
import json
import math
import os
import time
from contextlib import contextmanager

EVENT_LOG_CONF = (
    "--conf spark.eventLog.enabled=true "
    "--conf spark.eventLog.compress=false "
    "--conf spark.eventLog.rolling.enabled=false "
    "--conf spark.eventLog.dir=file://{dir} "
    "pyspark-shell"
)


def now_ms() -> float:
    return time.time() * 1000.0


def cpu_ticks() -> tuple[int, int]:
    """(busy, steal) jiffies of the whole machine from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    # user nice system idle iowait irq softirq steal
    return f[0] + f[1] + f[2] + f[5] + f[6], f[7]


def steal_share(t0: tuple, t1: tuple) -> float:
    """Share of runnable vCPU time the hypervisor took between two
    `cpu_ticks()` readings."""
    busy, steal = t1[0] - t0[0], t1[1] - t0[1]
    return steal / (busy + steal) if busy + steal > 0 else 0.0


class Spans:
    """In-memory span list. Each span records its wall interval, the CPU
    steal share over it, and the Spark jobs submitted in it (`jobs` is a
    callable returning the session's next job id). `extra` carries
    per-call facts (rows returned) that become per-layer ratios."""

    def __init__(self):
        self.items: list[dict] = []
        self.jobs = lambda: 0

    @contextmanager
    def span(self, name: str, **extra):
        rec = {"name": name, **extra}
        t0, j0 = cpu_ticks(), self.jobs()
        rec["start"] = now_ms()
        try:
            yield rec
        finally:
            rec["end"] = now_ms()
            rec["jobs"] = self.jobs() - j0
            rec["steal"] = steal_share(t0, cpu_ticks())
            self.items.append(rec)


def adjusted_ms(rec: dict) -> float:
    """Span wall time less the share the hypervisor stole: the latency
    the call would have had on the vCPUs it was given. On a shared host
    the steal share moves between runs by tens of percent and wall time
    with it; the adjusted figure holds still."""
    return (rec["end"] - rec["start"]) * (1.0 - rec["steal"])


def next_job_id(spark):
    """Callable reading the session's next Spark job id: the difference
    across a call is the jobs it submitted, from any thread."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    return lambda: int(dag.nextJobId())


class EventLogSwitch:
    """Attach or detach the session's event-log listener between calls.
    A pass started without the event log has no listener, and `set`
    always answers False (untraced)."""

    def __init__(self, spark=None):
        self.listener = self.bus = None
        if spark is not None:
            sc = spark.sparkContext._jsc.sc()
            opt = sc.eventLogger()
            if opt.isDefined():
                self.listener, self.bus = opt.get(), sc.listenerBus()
        self.on = self.listener is not None

    def set(self, on: bool) -> bool:
        if self.listener is None:
            return False
        if on != self.on:
            if on:
                self.bus.addToEventLogQueue(self.listener)
            else:
                self.bus.removeListener(self.listener)  # drains queued events first
            self.on = on
        return on


# -- event-log parsing ----------------------------------------------------

def _task_numbers(metrics: dict) -> dict:
    sw = metrics.get("Shuffle Write Metrics") or {}
    inp = metrics.get("Input Metrics") or {}
    return {
        "gc_ms": metrics.get("JVM GC Time", 0),
        "spill_bytes": metrics.get("Memory Bytes Spilled", 0) + metrics.get("Disk Bytes Spilled", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "input_bytes": inp.get("Bytes Read", 0),
        "input_records": inp.get("Records Read", 0),
    }


def read_event_log(log_dir: str) -> list[dict]:
    """Jobs in submission order: {"id", "submit_ms", "tasks", and the
    summed task numbers}. Tasks map to jobs through their stage: a stage
    belongs to the first job that lists it (a reused shuffle stage runs
    only once)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for fname in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fname)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "id": jid,
                        "submit_ms": ev["Submission Time"],
                        "tasks": 0,
                        **{k: 0 for k in _task_numbers({})},
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev.get("Stage ID")))
                    if job is None:
                        continue
                    job["tasks"] += 1
                    for k, v in _task_numbers(ev.get("Task Metrics") or {}).items():
                        job[k] += v
    return sorted(jobs.values(), key=lambda j: j["submit_ms"])


def attribute(jobs: list[dict], spans: list[dict], window: tuple[float, float]):
    """Assign each job to the span holding its submission time. Returns
    (jobs by span index, unattributed jobs inside the window)."""
    order = sorted(range(len(spans)), key=lambda i: spans[i]["start"])
    starts = [math.floor(spans[i]["start"]) for i in order]
    by_span: dict[int, list[dict]] = {}
    loose = []
    for j in jobs:
        t = j["submit_ms"]
        k = bisect.bisect_right(starts, t) - 1
        if k >= 0 and t <= math.ceil(spans[order[k]]["end"]):
            by_span.setdefault(order[k], []).append(j)
        elif window[0] <= t <= window[1]:
            loose.append(j)
    return by_span, loose
