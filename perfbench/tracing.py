"""Benchmark-side tracing: spans around each layer's calls, job groups,
and task metrics from Spark's event log.

A span names the layer whose public function the benchmark (or a traced
wrapper) is calling. While a span is open its name is also the Spark job
group (``<phase>:<layer>``), so every job, stage and task the call
launches is attributed to that layer. Self time is a span's duration
minus the time of the spans nested inside it: ``plans`` excludes the
``catalog`` loads a spec makes while it builds.

With tracing off a span is a no-op, so the untraced run measures the
program alone; the traced run's own ``trace.wall_s`` minus the untraced
``wall_s`` of the same workload and seed is the tracing overhead.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from collections import defaultdict


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.phase = "setup"
        self.sc = None  # set once a SparkContext exists
        self.self_s: dict[str, float] = defaultdict(float)
        self._stack: list[list] = []  # [layer, start, child seconds]

    @contextlib.contextmanager
    def span(self, layer: str):
        if not self.enabled:
            yield
            return
        sc = self.sc
        prev = sc.getLocalProperty("spark.jobGroup.id") if sc else None
        if sc:
            sc.setLocalProperty("spark.jobGroup.id", f"{self.phase}:{layer}")
        frame = [layer, time.perf_counter(), 0.0]
        self._stack.append(frame)
        try:
            yield
        finally:
            self._stack.pop()
            took = time.perf_counter() - frame[1]
            if self.phase == "timed":
                self.self_s[layer] += took - frame[2]
            if self._stack:
                self._stack[-1][2] += took
            if sc:
                sc.setLocalProperty("spark.jobGroup.id", prev)

    def wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer):
                return fn(*args, **kwargs)

        return traced


def patch_everywhere(tracer: Tracer, package: str, fn, layer: str) -> None:
    """Wrap ``fn`` in every loaded module of ``package`` that bound it by
    ``from ... import``; those names do not see a patch on the source."""
    import sys

    wrapped = tracer.wrap(layer, fn)
    for mod_name, mod in list(sys.modules.items()):
        if mod_name.split(".")[0] != package or mod is None:
            continue
        for attr, value in list(vars(mod).items()):
            if value is fn:
                setattr(mod, attr, wrapped)


class LayerTotals:
    """Per job-group totals parsed from one application's event log."""

    def __init__(self):
        self.jobs: dict[str, int] = defaultdict(int)
        self.tasks: dict[str, int] = defaultdict(int)
        self.run_s: dict[str, float] = defaultdict(float)
        self.cpu_s: dict[str, float] = defaultdict(float)
        self.gc_s: dict[str, float] = defaultdict(float)
        self.shuffle_write_b: dict[str, int] = defaultdict(int)


def read_event_log(path: str) -> LayerTotals:
    totals = LayerTotals()
    stage_group: dict[int, str] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "none"
                totals.jobs[group] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"), "none")
                m = ev.get("Task Metrics") or {}
                totals.tasks[group] += 1
                totals.run_s[group] += m.get("Executor Run Time", 0) / 1e3
                totals.cpu_s[group] += m.get("Executor CPU Time", 0) / 1e9
                totals.gc_s[group] += m.get("JVM GC Time", 0) / 1e3
                sw = m.get("Shuffle Write Metrics") or {}
                totals.shuffle_write_b[group] += sw.get("Shuffle Bytes Written", 0)
    return totals

