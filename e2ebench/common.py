"""Shared pieces of the workloads: the per-layer metric catalogue, the
result record, repeated set-up and the warm-up stop rule."""

from __future__ import annotations

import gc
import os
import statistics
import time
from dataclasses import dataclass, field

FAMILIES = (
    "operators", "relational", "text", "similarity", "quality",
    "multimodal", "functions",
)

#: every per-layer metric with its unit; a workload that does not touch
#: a layer reports 0 for it
PER_LAYER: dict[str, str] = {
    "session.start_s": "s",
    "session.tune_session.calls": "count",
    "session.tune_session.s": "s",
    "io.load_table.calls": "count",
    "io.load_table.s": "s",
    "io.load_table.jobs": "count",
    "io.series_frame.calls": "count",
    "io.series_frame.s": "s",
    "cache.release_all.calls": "count",
    "cache.release_all.s": "s",
    "cache.release_all.frames": "count",
    "queries.build_s": "s",
    "queries.exec_s": "s",
    "queries.build_jobs": "count",
    "queries.exec_jobs": "count",
    **{f"{f}.{m}": u for f in FAMILIES
       for m, u in (("build_s", "s"), ("exec_s", "s"), ("jobs", "count"))},
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.busy_ratio": "ratio",
    "streaming.addBatch_ms": "ms",
    "streaming.queryPlanning_ms": "ms",
    "streaming.walCommit_ms": "ms",
    "streaming.commitOffsets_ms": "ms",
    "streaming.latestOffset_ms": "ms",
    "streaming.state_commit_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "streaming.state_store_instances": "count",
    "streaming.tasks_per_trigger": "count",
    "setup.session_s": "s",
    "setup.gen_s": "s",
    "setup.warmup_s": "s",
    "setup.warmup_ops": "count",
    "ops.tail_s": "s",
    "ops.tail_pct": "pct",
    "ops.samples": "count",
    "host.cpu_probe_s": "s",
    "host.load1": "load",
    "trace.overhead_ratio": "ratio",
}


@dataclass
class Result:
    end_to_end: dict[str, float] = field(default_factory=dict)
    per_layer: dict[str, float] = field(
        default_factory=lambda: {k: 0.0 for k in PER_LAYER}
    )
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    notes: list[str] = field(default_factory=list)


def repeated(fn, times: int = 3) -> tuple[float, list]:
    """Run ``fn(i)`` ``times`` times; (median seconds, results)."""
    secs, outs = [], []
    for i in range(times):
        t = time.perf_counter()
        outs.append(fn(i))
        secs.append(time.perf_counter() - t)
    return statistics.median(secs), outs


def settled(history: list[float], window: int, tol: float = 0.10) -> bool:
    """Warm-up stop rule: the median of the last ``window`` samples is
    within ``tol`` of the median of the ``window`` before them."""
    if len(history) < 2 * window:
        return False
    last = statistics.median(history[-window:])
    prev = statistics.median(history[-2 * window : -window])
    return abs(last - prev) <= tol * prev


def cpu_probe_s() -> float:
    """Median time of a fixed pure-Python loop: a host-speed record,
    never used to rescale a metric."""
    times = []
    for _ in range(5):
        t = time.perf_counter()
        sum(i * i for i in range(200_000))
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def tree_rss_mb() -> dict[str, float]:
    """Resident memory (MB) of this process and all its descendants, by
    kind: ``driver`` (this process), ``jvm``, ``python_workers`` (the
    PySpark daemon and its forks), plus ``workers`` (their count)."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier += kids
    out = {"driver": 0.0, "jvm": 0.0, "python_workers": 0.0, "workers": 0}
    for pid in tree:
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
            with open(f"/proc/{pid}/status") as f:
                kb = next((int(x.split()[1]) for x in f if x.startswith("VmRSS:")), 0)
        except OSError:
            continue
        if pid == os.getpid():
            out["driver"] += kb / 1024
        elif b"pyspark.daemon" in cmd:
            out["python_workers"] += kb / 1024
            out["workers"] += 1
        else:
            out["jvm"] += kb / 1024
    return out


def settled_rss_mb(spark) -> tuple[float, str]:
    """RSS after a full collection in Python and in the JVM: (total MB,
    a one-line breakdown)."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(0.5)
    parts = tree_rss_mb()
    total = parts["driver"] + parts["jvm"] + parts["python_workers"]
    return total, (
        f"rss {total:.0f} MB: driver {parts['driver']:.0f}, jvm {parts['jvm']:.0f}, "
        f"{parts['workers']} python processes {parts['python_workers']:.0f}"
    )


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest whole percentile that still has
    at least ten samples above it (0 when there are ten or fewer)."""
    n = len(values)
    pct = max(0, (100 * (n - 10)) // n) if n else 0
    if not values:
        return 0.0, 0.0
    ordered = sorted(values)
    return float(pct), ordered[min(n - 1, (pct * n) // 100)]
