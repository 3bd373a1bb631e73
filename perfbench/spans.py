"""Spans around the engine's public functions, plus the Spark event-log
reduction that attributes jobs, tasks and bytes to them.

A span is opened by a wrapper installed on a module attribute (the
engine's own modules look functions up through their module, so no
engine code changes). Every Spark job started inside a span carries the
span id in the ``perfbench.span`` local property; after the session
stops, :func:`reduce_event_log` reads the log and sums task metrics per
span. In a traced run each wrapper also materializes a returned
DataFrame inside its span, so the span times the work and not only the
plan construction, and row counters run afterwards under their own
``trace`` span so they land in no layer.
"""

from __future__ import annotations

import contextlib
import glob
import importlib
import json
import os
import time
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame

PROP = "perfbench.span"

#: Spark event-log quantities reduced per span: (metric suffix, unit).
SPARK_METRICS = [
    ("jobs", "count"),
    ("tasks", "count"),
    ("executor_run_s", "s"),
    ("executor_cpu_s", "s"),
    ("gc_s", "s"),
    ("shuffle_read_bytes", "bytes"),
    ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"),
    ("driver_gap_s", "s"),
]


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    start: float
    end: float = 0.0
    #: row counters recorded after the span closed
    counts: dict[str, int] = field(default_factory=dict)


class Tracer:
    """Records spans and tags the Spark jobs run inside them."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[Any, str, Any]] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        sp = Span(len(self.spans), name, layer,
                  self._stack[-1].id if self._stack else None, time.time())
        self.spans.append(sp)
        self._stack.append(sp)
        self._sc.setLocalProperty(PROP, str(sp.id))
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._sc.setLocalProperty(
                PROP, str(self._stack[-1].id) if self._stack else None
            )

    def wrap(
        self,
        module: str,
        attr: str,
        layer: str,
        counters: Callable[[Any, tuple], dict[str, int]] | None = None,
    ) -> None:
        """Replace ``module.attr`` with a spanned version until :meth:`unwrap`."""
        mod = importlib.import_module(module)
        fn = getattr(mod, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(attr, layer) as sp:
                out = fn(*args, **kwargs)
                if isinstance(out, DataFrame):
                    out = out.localCheckpoint(eager=True)
            if counters is not None:
                with tracer.span(f"{attr}.count", "trace"):
                    sp.counts.update(counters(out, args))
            return out

        setattr(mod, attr, traced)
        self._patched.append((mod, attr, fn))

    def unwrap(self) -> None:
        for mod, attr, fn in reversed(self._patched):
            setattr(mod, attr, fn)
        self._patched.clear()


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def reduce_event_log(log_dir: str) -> dict[int, dict[str, Any]]:
    """Per span id: job intervals and summed task metrics from the log."""
    paths = glob.glob(os.path.join(log_dir, "*"))
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    job_span: dict[int, int] = {}
    stage_span: dict[int, int] = {}
    out: dict[int, dict[str, Any]] = {}

    def entry(sid: int) -> dict[str, Any]:
        return out.setdefault(sid, {"jobs": {}, "tasks": 0, "executor_run_s": 0.0,
                                    "executor_cpu_s": 0.0, "gc_s": 0.0,
                                    "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
                                    "spill_bytes": 0})

    with open(paths[0], encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                sid = (ev.get("Properties") or {}).get(PROP)
                if sid is None:
                    continue
                sid = int(sid)
                job_span[ev["Job ID"]] = sid
                for st in ev["Stage IDs"]:
                    stage_span[st] = sid
                entry(sid)["jobs"][ev["Job ID"]] = [ev["Submission Time"] / 1e3, None]
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_span:
                e = entry(job_span[ev["Job ID"]])
                e["jobs"][ev["Job ID"]][1] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_span:
                m = ev.get("Task Metrics")
                if not m:
                    continue
                e = entry(stage_span[ev["Stage ID"]])
                e["tasks"] += 1
                e["executor_run_s"] += m["Executor Run Time"] / 1e3
                e["executor_cpu_s"] += m["Executor CPU Time"] / 1e9
                e["gc_s"] += m["JVM GC Time"] / 1e3
                sr = m["Shuffle Read Metrics"]
                e["shuffle_read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                e["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                e["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
    return out


def layer_totals(
    tracer: Tracer, roots: list[int], evlog: dict[int, dict[str, Any]]
) -> dict[str, dict[str, float]]:
    """Per layer, summed over the spans under ``roots``: ``self_s`` (span
    wall minus child spans) and the Spark metrics. Jobs a root runs
    outside every child span count to layer ``pipeline``."""
    children: dict[int, list[Span]] = {}
    for sp in tracer.spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append(sp)
    totals: dict[str, dict[str, float]] = {}

    def visit(sp: Span, layer: str) -> None:
        t = totals.setdefault(layer, {"self_s": 0.0, **{m: 0.0 for m, _ in SPARK_METRICS}})
        kids = children.get(sp.id, [])
        t["self_s"] += (sp.end - sp.start) - sum(k.end - k.start for k in kids)
        ev = evlog.get(sp.id)
        covered = 0.0
        if ev:
            jobs = [(max(s, sp.start), min(e, sp.end)) for s, e in ev["jobs"].values()
                    if e is not None]
            covered = _union_s([j for j in jobs if j[1] > j[0]])
            t["jobs"] += len(ev["jobs"])
            for m, _ in SPARK_METRICS:
                if m not in ("jobs", "driver_gap_s"):
                    t[m] += ev[m]
        # a span's driver gap: its self wall that no job of its own covers
        kid_wall = sum(k.end - k.start for k in kids)
        t["driver_gap_s"] += max(0.0, (sp.end - sp.start) - kid_wall - covered)
        for k in kids:
            visit(k, k.layer)

    for r in roots:
        visit(tracer.spans[r], tracer.spans[r].layer)
    return totals
