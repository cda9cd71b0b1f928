"""Tracing from outside the library.

Spans are recorded by wrapping the library's public layer functions
(``io.load_table``, ``io.series_frame``, ``session.tune_session``,
``cache.release_all``) wherever a library module holds a reference to
them, and by the workload driver around each registry call (build) and
its noop write (exec). Spans live in memory as (name, start, end,
parent, op) tuples. Each span also gets its own Spark job group, so the
Spark status store, read once after the timed window, attributes every
job to the operation and layer that launched it.
"""

from __future__ import annotations

import functools
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass

#: (layer name, module, function) wrapped while tracing is on
WRAPPED = (
    ("io.load_table", "metevents_spark.io", "load_table"),
    ("io.series_frame", "metevents_spark.io", "series_frame"),
    ("session.tune_session", "metevents_spark.session", "tune_session"),
    ("cache.release_all", "metevents_spark.cache", "release_all"),
)

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int


class Tracer:
    """In-memory span recorder; ``install``/``uninstall`` switch the
    layer wrappers on and off."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.frames: list[int] = []  # release_all's return values
        self._stack: list[int] = []
        self._op = -1
        self._patched: list[tuple[object, str, object]] = []

    # -- span recording ------------------------------------------------
    @contextmanager
    def span(self, name: str, op: int | None = None):
        """Record a span and run its body under a job group naming it;
        the group is ``<parent group>|<name>`` so nested layers stay
        attributable to their operation."""
        if op is not None:
            self._op = op
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self._op))
        outer = self.sc.getLocalProperty(GROUP_KEY)
        nested = outer and parent is not None
        group = f"{outer}|{name}" if nested else f"op{self._op}|{name}"
        self.sc.setLocalProperty(GROUP_KEY, group)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.sc.setLocalProperty(GROUP_KEY, outer)
            self.spans[idx].end = time.perf_counter()

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kw):
            with self.span(name):
                out = fn(*args, **kw)
            if name == "cache.release_all":
                self.frames.append(int(out))
            return out

        return wrapper

    def install(self) -> None:
        """Swap every library reference to a wrapped function for its
        span-recording wrapper (modules that did ``from x import f``
        hold their own reference, so all of them are patched)."""
        if self._patched:
            return
        for name, modname, attr in WRAPPED:
            orig = getattr(sys.modules[modname], attr)
            wrapper = self._wrap(name, orig)
            for mod in list(sys.modules.values()):
                if getattr(mod, "__name__", "").startswith("metevents_spark") and (
                    getattr(mod, attr, None) is orig
                ):
                    setattr(mod, attr, wrapper)
                    self._patched.append((mod, attr, orig))

    def uninstall(self) -> None:
        for mod, attr, orig in self._patched:
            setattr(mod, attr, orig)
        self._patched.clear()


def self_times(spans: list[Span], label, keep) -> dict[str, float]:
    """Self time per layer over the spans ``keep(span)`` selects: each
    span's duration minus the time its direct children cover.
    ``label(span)`` names the layer."""
    child = [0.0] * len(spans)
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.end - s.start
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        if not keep(s):
            continue
        key = label(s)
        out[key] = out.get(key, 0.0) + (s.end - s.start) - child[i]
    return out


def _seq(scala_seq) -> list[int]:
    text = scala_seq.mkString(",")
    return [int(x) for x in text.split(",")] if text else []


def _each(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


def read_status_store(sc) -> tuple[list[dict], dict[int, dict]]:
    """Every job and stage the Spark status store retained, as plain
    dicts: jobs carry group, description, stage ids and task count;
    stages carry executor run/cpu/GC time, shuffle write and spill."""
    store = sc._jsc.sc().statusStore()
    jobs = []
    for j in _each(store.jobsList(None)):
        group = j.jobGroup()
        desc = j.description()
        jobs.append({
            "id": j.jobId(),
            "group": group.get() if group.isDefined() else "",
            "desc": desc.get() if desc.isDefined() else "",
            "stages": _seq(j.stageIds()),
            "tasks": j.numTasks(),
        })
    stages = {}
    gw = sc._gateway
    no_quantiles = gw.new_array(gw.jvm.double, 0)
    all_stages = store.stageList(
        None, False, False, no_quantiles, gw.jvm.java.util.ArrayList()
    )
    for s in _each(all_stages):
        stages[s.stageId()] = {
            "tasks": s.numTasks(),
            "run_ms": s.executorRunTime(),
            "cpu_ns": s.executorCpuTime(),
            "gc_ms": s.jvmGcTime(),
            "shuffle_write": s.shuffleWriteBytes(),
            "spill": s.memoryBytesSpilled() + s.diskBytesSpilled(),
        }
    return jobs, stages


def engine_totals(jobs: list[dict], stages: dict[int, dict]) -> dict[str, float]:
    """Spark engine counters summed over ``jobs`` (stages counted once)."""
    ids = sorted({sid for j in jobs for sid in j["stages"] if sid in stages})
    st = [stages[i] for i in ids]
    return {
        "jobs": len(jobs),
        "stages": len(st),
        "tasks": sum(s["tasks"] for s in st),
        "executor_run_s": sum(s["run_ms"] for s in st) / 1e3,
        "executor_cpu_s": sum(s["cpu_ns"] for s in st) / 1e9,
        "gc_s": sum(s["gc_ms"] for s in st) / 1e3,
        "shuffle_write_bytes": sum(s["shuffle_write"] for s in st),
        "spill_bytes": sum(s["spill"] for s in st),
    }
