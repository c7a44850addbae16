"""Per-layer tracing for the traced run.

Spans are recorded here, in the benchmark, around calls into the program's
modules: either explicitly (the workload wraps a call and the action that
forces its result) or by wrapping a module's public function for the
traced passes. A span's time is inclusive, and a span nested inside one of
the same name is not counted twice. Spark-side counts come from the event
log, attributed to passes and phases through Spark job groups.

Where a layer's call only builds a plan, the traced pass may force its
result once more inside the span: a probe. Probe jobs run under a job
group named ``probe-...`` and are left out of every Spark count, so the
counts describe the job an untraced pass runs.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager


PROBE = "probe-"


class NullTracer:
    """Tracing off: spans and job groups cost nothing."""

    enabled = False

    def begin_pass(self) -> None:
        pass

    def end_pass(self, ok: bool) -> None:
        pass

    @contextmanager
    def span(self, name: str):
        yield

    @contextmanager
    def group(self, name: str):
        yield


class Tracer:
    """Collects span time per pass. Between ``begin_pass`` and
    ``end_pass`` each span adds its wall time to that pass under its name;
    outside a pass, spans record nothing. ``labels`` holds each kept pass's
    job-group prefix."""

    enabled = True

    def __init__(self, spark_context):
        self.sc = spark_context
        self.passes: list[dict[str, float]] = []
        self.labels: list[str] = []
        self._count = 0
        self._recording = False
        self._open: set[str] = set()
        self._group = ""

    def begin_pass(self) -> None:
        self._count += 1
        self.passes.append(defaultdict(float))
        self.labels.append(f"pass-{self._count}/")
        self._recording = True

    def end_pass(self, ok: bool) -> None:
        """Close the pass; a failed pass's spans are dropped."""
        self._recording = False
        if not ok:
            self.passes.pop()
            self.labels.pop()

    @contextmanager
    def span(self, name: str):
        if not self._recording or name in self._open:
            yield
            return
        self._open.add(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.passes[-1][name] += time.perf_counter() - t0
            self._open.discard(name)

    @contextmanager
    def group(self, name: str):
        """Tag the Spark jobs started inside with ``pass-<n>/<name>``."""
        outer = self._group
        self._group = self.labels[-1] + name
        self.sc.setJobGroup(self._group, self._group)
        try:
            yield
        finally:
            self._group = outer
            self.sc.setJobGroup(outer, outer)

    def wrap(self, owner, attr: str, name: str, force=None) -> None:
        """Replace ``owner.attr`` (a function or method) with one that runs
        inside span ``name``. With ``force``, a traced pass also calls
        ``force(result)`` inside the span, as a probe. For a module
        function, every module of the program that imported it by name is
        rebound too."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                out = orig(*args, **kwargs)
                if force is not None and self._recording:
                    with self.group(PROBE + attr):
                        force(out)
                return out

        if isinstance(owner, type):
            setattr(owner, attr, traced)
            return
        package = owner.__name__.split(".")[0]
        for mod_name, mod in list(sys.modules.items()):
            if mod_name.split(".")[0] == package and getattr(mod, attr, None) is orig:
                setattr(mod, attr, traced)


def median_span(passes: list[dict[str, float]], name: str) -> float:
    vals = sorted(p.get(name, 0.0) for p in passes)
    if not vals:
        return 0.0
    mid = len(vals) // 2
    return vals[mid] if len(vals) % 2 else (vals[mid - 1] + vals[mid]) / 2


# Scope names Spark gives the operators that run the Python fit stage.
PYTHON_SCOPES = ("MapInPandas", "MapInArrow", "FlatMapGroupsInPandas", "ArrowEvalPython")


class EventLog:
    """Spark's JSON event log, reduced to what the trace reports: jobs,
    submitted stages and task metrics per job group."""

    def __init__(self, lines):
        self.jobs: dict[str, int] = defaultdict(int)
        self.stages: dict[str, int] = defaultdict(int)
        self.python_tasks: dict[str, int] = defaultdict(int)
        self.tasks: dict[str, int] = defaultdict(int)
        self.cpu_ns: dict[str, int] = defaultdict(int)
        self.gc_ms: dict[str, int] = defaultdict(int)
        self.shuffle_write: dict[str, int] = defaultdict(int)
        self.spill: dict[str, int] = defaultdict(int)
        stage_group: dict[int, str] = {}
        for line in lines:
            if not line.strip():
                continue
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                self.jobs[_group_of(ev)] += 1
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                group = _group_of(ev)
                stage_group[info["Stage ID"]] = group
                self.stages[group] += 1
                scopes = " ".join(str(r.get("Scope", "")) for r in info.get("RDD Info", []))
                if any(s in scopes for s in PYTHON_SCOPES):
                    self.python_tasks[group] += int(info["Number of Tasks"])
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"], "")
                m = ev.get("Task Metrics") or {}
                self.tasks[group] += 1
                self.cpu_ns[group] += int(m.get("Executor CPU Time", 0))
                self.gc_ms[group] += int(m.get("JVM GC Time", 0))
                self.spill[group] += int(m.get("Memory Bytes Spilled", 0)) + int(
                    m.get("Disk Bytes Spilled", 0)
                )
                sw = m.get("Shuffle Write Metrics") or {}
                self.shuffle_write[group] += int(sw.get("Shuffle Bytes Written", 0))

    @classmethod
    def read_dir(cls, path: str) -> "EventLog":
        lines: list[str] = []
        for name in sorted(glob.glob(os.path.join(path, "**", "*"), recursive=True)):
            if os.path.isfile(name) and not os.path.basename(name).startswith("appstatus"):
                with open(name) as f:
                    lines.extend(f)
        return cls(lines)

    @staticmethod
    def total(counter: dict[str, int], prefix: str) -> int:
        """Sum over job groups that start with ``prefix``, probes left out."""
        return sum(v for g, v in counter.items() if g.startswith(prefix) and "/" + PROBE not in g)


def _group_of(ev: dict) -> str:
    return (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
