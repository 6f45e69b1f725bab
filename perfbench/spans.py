"""Spans, counters and Spark attribution for the traced run.

Spans are recorded from the benchmark's side, around the program's
public functions at the places the engine calls them; nothing inside
the program is re-implemented. A span's self time is its duration minus
the part of it that its child spans cover, so over one operation the
self times of all its spans add up to the operation's wall time.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Any, Callable, Iterator

#: py4j command prefix of the memory-release messages the Python GC sends
#: for dropped Java references; they are not the caller's work
_PY4J_RELEASE = "m\n"


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    t0: float                     # perf_counter seconds
    wall0: float                  # epoch seconds, to match Spark's clock
    t1: float = 0.0
    wall1: float = 0.0
    py4j: int = 0                 # py4j commands sent by this thread

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1000.0


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._ids = 0
        self._patches: list[tuple[Any, str, Any]] = []

    # -------------------------------------------------------------- spans
    def _stack(self) -> list[Span]:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    def _py4j_count(self) -> int:
        return getattr(self._tls, "py4j", 0)

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        stack = self._stack()
        with self._lock:
            self._ids += 1
            sid = self._ids
        rec = Span(sid, stack[-1].id if stack else None, name,
                   time.perf_counter(), time.time())
        n0 = self._py4j_count()
        stack.append(rec)
        try:
            yield rec
        finally:
            rec.t1, rec.wall1 = time.perf_counter(), time.time()
            rec.py4j = self._py4j_count() - n0
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, fn: Callable, name: str) -> Callable:
        def traced(*args: Any, **kwargs: Any) -> Any:
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    # ------------------------------------------------------------ patches
    def _patch(self, owner: Any, attr: str, new: Any) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self, spark: Any) -> None:
        """Wrap the cube path's public functions where the engine calls
        them, and count py4j commands per thread."""
        import maha_spark.curators.curators as curators
        import maha_spark.engine as engine
        from maha_spark.plans.planner import Planner

        self._patch(engine, "parse_request",
                    self.wrap(engine.parse_request, "request.parse"))
        self._patch(engine, "build_request_model",
                    self.wrap(engine.build_request_model, "model.build"))
        self._patch(engine, "to_json_response",
                    self.wrap(engine.to_json_response, "output.envelope"))
        self._patch(curators, "run_curators",
                    self.wrap(curators.run_curators, "curators.run"))
        build = Planner.build
        tracer = self

        def traced_build(planner: Any, *args: Any, **kwargs: Any) -> Any:
            with tracer.span("plans.build"):
                df = build(planner, *args, **kwargs)
            # analysis, optimization and physical planning, forced here so
            # they are timed apart from execution; the QueryExecution is
            # memoized, so the later collect does not plan again
            with tracer.span("spark.plan"):
                df._jdf.queryExecution().executedPlan()
            return df
        self._patch(Planner, "build", traced_build)

        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command
        tls = self._tls

        def counted(command: str, *args: Any, **kwargs: Any) -> Any:
            if not command.startswith(_PY4J_RELEASE):
                tls.py4j = getattr(tls, "py4j", 0) + 1
            return send(command, *args, **kwargs)
        self._patch(client, "send_command", counted)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, old = self._patches.pop()
            setattr(owner, attr, old)

    # ------------------------------------------------------------ reading
    def children(self) -> dict[int | None, list[Span]]:
        out: dict[int | None, list[Span]] = {}
        for s in self.spans:
            out.setdefault(s.parent, []).append(s)
        return out

    def descendants(self, root: Span) -> list[Span]:
        kids = self.children()
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.id, ()))
        return out


def self_ms(span: Span, children: list[Span]) -> float:
    """``span``'s duration minus the union of its children's intervals
    (clipped to the span)."""
    ivs = sorted((max(c.t0, span.t0), min(c.t1, span.t1)) for c in children)
    covered, end = 0.0, span.t0
    for a, b in ivs:
        a = max(a, end)
        if b > a:
            covered += b - a
            end = b
    return (span.t1 - span.t0 - covered) * 1000.0


def layer_self_ms(tracer: Tracer, root: Span) -> dict[str, float]:
    """Self time per span name over ``root`` and its descendants."""
    kids = tracer.children()
    out: dict[str, float] = {}
    for s in tracer.descendants(root):
        out[s.name] = out.get(s.name, 0.0) + self_ms(s, kids.get(s.id, []))
    return out


# ------------------------------------------------------------------ JVM

def jvm_times_ms(spark: Any) -> tuple[float, float]:
    """(GC time, JIT compile time) of the driver JVM since it started,
    from its management beans; local mode runs the executors in the same
    JVM."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    gc = sum(max(0, b.getCollectionTime())
             for b in mf.getGarbageCollectorMXBeans())
    return float(gc), float(mf.getCompilationMXBean().getTotalCompilationTime())


# ------------------------------------------------------------ event log

def read_event_log(log_dir: str) -> tuple[list[dict], dict[int, list[dict]]]:
    """Jobs (id, submission epoch ms, stage ids) and per-stage task
    records from the Spark event log(s) under ``log_dir``."""
    jobs: list[dict] = []
    stages: dict[int, list[dict]] = {}
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append({"id": ev["Job ID"],
                                 "submitted": ev["Submission Time"],
                                 "stages": ev["Stage IDs"]})
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    run = m.get("Executor Run Time", 0)
                    overhead = (m.get("Executor Deserialize Time", 0)
                                + m.get("Result Serialization Time", 0)
                                + info.get("Getting Result Time", 0))
                    dur = info["Finish Time"] - info["Launch Time"]
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    stages.setdefault(ev["Stage ID"], []).append({
                        "ms": dur,
                        "run_ms": run,
                        "cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
                        "sched_ms": max(0, dur - run - overhead),
                        "shuffle_b": (sr.get("Remote Bytes Read", 0)
                                      + sr.get("Local Bytes Read", 0)
                                      + sw.get("Shuffle Bytes Written", 0)),
                        "spill_b": (m.get("Memory Bytes Spilled", 0)
                                    + m.get("Disk Bytes Spilled", 0)),
                    })
    return jobs, stages


def spark_metrics(jobs: list[dict], stages: dict[int, list[dict]],
                  wall0: float, wall1: float) -> dict[str, float]:
    """Job, stage and task figures for the jobs submitted within
    ``[wall0, wall1]`` (epoch seconds)."""
    lo, hi = wall0 * 1000.0, wall1 * 1000.0
    mine = [j for j in jobs if lo <= j["submitted"] <= hi]
    sids = {s for j in mine for s in j["stages"] if s in stages}
    tasks = [t for s in sids for t in stages[s]]
    skew = 0.0
    if sids:
        longest = max(sids, key=lambda s: sum(t["ms"] for t in stages[s]))
        ms = [t["ms"] for t in stages[longest]]
        med = statistics.median(ms)
        skew = max(ms) / med if med > 0 else 1.0
    return {
        "spark.jobs": float(len(mine)),
        "spark.stages": float(len(sids)),
        "spark.tasks": float(len(tasks)),
        "spark.task_ms": float(sum(t["run_ms"] for t in tasks)),
        "spark.task_cpu_ms": sum(t["cpu_ms"] for t in tasks),
        "spark.shuffle_mb": sum(t["shuffle_b"] for t in tasks) / 2**20,
        "spark.spill_mb": sum(t["spill_b"] for t in tasks) / 2**20,
        "spark.skew": skew,
        "spark.sched_delay_ms": (sum(t["sched_ms"] for t in tasks)
                                 / len(tasks) if tasks else 0.0),
    }
