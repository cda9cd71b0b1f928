"""The ``stream`` workload: ``streaming.stream_zscore`` (constant
per-station state) over hourly rainfall, fed one pre-staged parquet
file per trigger.

Every file (all stations, ``HOURS_PER_FILE`` hours each) is generated
during set-up into a staging directory beside the watched one. One
operation is one trigger: an atomic rename of the next staged file into
the watched directory, then ``processAllAvailable()``. The loop is
closed, with one client. Emitted rows are checked afterwards against a
batch recomputation over every row fed.
"""

from __future__ import annotations

import os
import re
import statistics
import time

import gen
from common import Result, repeated, settled, settled_rss_mb, tail
from spans import engine_totals, read_status_store

STATIONS = 240
HOURS_PER_FILE = 24
FILES = 64
WARMUP_WINDOW = 4
#: trigger latency falls for about 15 triggers after the first, then
#: only noise is left; a shorter minimum made the warm-up length, and
#: with it setup_s, swing from run to run
WARMUP_MIN, WARMUP_MAX = 16, 20
PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset")


def run(spark, args, work: str, session_s: float) -> Result:
    from metevents_spark.streaming import stream_zscore

    import checks

    res = Result()
    gen_s, rows = repeated(lambda i: gen.rain_files(
        f"{work}/staging-{i}", args.seed, STATIONS, FILES, HOURS_PER_FILE))
    staging, watched = f"{work}/staging-0", f"{work}/watched"
    os.makedirs(watched)
    files = sorted(os.listdir(staging))

    t0 = time.perf_counter()
    src = (
        spark.readStream.schema("sid string, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(watched)
    )
    query = (
        stream_zscore(src)
        .writeStream.format("memory")
        .queryName("emitted")
        .outputMode("append")
        .option("checkpointLocation", f"{work}/checkpoint")
        .start()
    )
    fed: list[str] = []

    def trigger(traced: bool = False) -> float:
        """One operation; a traced one also reads the trigger's progress
        record, the per-trigger cost of tracing from outside."""
        name = files[len(fed)]
        res.attempted += 1
        t = time.perf_counter()
        os.rename(os.path.join(staging, name), os.path.join(watched, name))
        query.processAllAvailable()
        if traced:
            query.lastProgress
        fed.append(name)
        return time.perf_counter() - t

    warm: list[float] = []
    try:
        while len(warm) < WARMUP_MAX and not (
            len(warm) >= WARMUP_MIN and settled(warm, WARMUP_WINDOW)
        ):
            warm.append(trigger())
        warmup_s = time.perf_counter() - t0

        lat: list[float] = []
        traced_lat: list[float] = []
        t0 = time.perf_counter()
        while len(fed) < len(files) and (
            len(lat) < 5 or time.perf_counter() - t0 < args.seconds
        ):
            if args.trace and len(lat) > len(traced_lat):
                traced_lat.append(trigger(traced=True))
            else:
                lat.append(trigger())
        rss, rss_note = settled_rss_mb(spark)
        progress = [p for p in query.recentProgress if p.numInputRows > 0]
        emitted = spark.sql("SELECT * FROM emitted").toPandas()
    except Exception as exc:  # noqa: BLE001 - a dead query fails the run
        res.failed += 1
        res.problems.append(f"stream: {type(exc).__name__}: {exc}"[:300])
        return res
    finally:
        query.stop()

    # the emitted rows against a batch recomputation over every row fed
    import pyarrow.parquet as pq

    res.attempted += 1
    paths = [os.path.join(watched, f) for f in fed]
    fed_rows = pq.ParquetDataset(paths).read().to_pandas()
    problems = checks.compare_zscores(emitted, checks.expected_zscores(fed_rows))
    if problems:
        res.failed += 1
        res.problems += [f"check stream: {p}" for p in problems[:5]]
    if len(progress) != len(fed):
        res.failed += 1
        res.problems.append(
            f"{len(fed)} files fed but {len(progress)} triggers reported")

    timed = progress[len(warm):]
    all_lat = lat + traced_lat
    engine = [p.durationMs["triggerExecution"] / 1e3 for p in timed]
    res.end_to_end = {
        "setup_s": session_s + gen_s + warmup_s,
        "pass_s": statistics.median(lat),
        "op_p50_s": statistics.median(engine),
        "peak_rss_mb": rss,
    }
    pct, tail_s = tail(all_lat)
    pl = res.per_layer
    pl.update({
        "session.start_s": session_s,
        "setup.session_s": session_s,
        "setup.gen_s": gen_s,
        "setup.warmup_s": warmup_s,
        "setup.warmup_ops": len(warm),
        "ops.tail_s": tail_s,
        "ops.tail_pct": pct,
        "ops.samples": len(all_lat),
    })
    res.notes += [
        f"stream: seed {args.seed}, {STATIONS} stations, "
        f"{rows[0]} rows staged "
        f"in {FILES} files, {len(fed)} fed",
        f"stream: warm-up {len(warm)} triggers in {warmup_s:.2f} s "
        f"(first {warm[0]:.3f} s, last {warm[-1]:.3f} s); "
        f"{len(all_lat)} timed triggers, "
        f"{len(emitted)} rows emitted",
        rss_note,
    ]
    if args.trace:
        ratio = statistics.median(traced_lat) / statistics.median(lat)
        pl["trace.overhead_ratio"] = ratio
        trace_layers(spark, timed, res)
    return res


def _state(p) -> dict[str, float]:
    ops = p.stateOperators
    return {
        "commit_ms": sum(o.commitTimeMs for o in ops),
        "rows": sum(o.numRowsTotal for o in ops),
        "bytes": sum(o.memoryUsedBytes for o in ops),
        "instances": sum(o.numStateStoreInstances for o in ops),
    }


def trace_layers(spark, timed, res: Result) -> None:
    """Per-trigger medians of the engine's own phase timings and state
    numbers, engine counters per trigger from the status store, and the
    phase with the most time."""
    pl = res.per_layer
    med = {
        ph: statistics.median(p.durationMs.get(ph, 0) for p in timed) for ph in PHASES
    }
    for ph, v in med.items():
        pl[f"streaming.{ph}_ms"] = v
    states = [_state(p) for p in timed]
    pl["streaming.state_commit_ms"] = statistics.median(s["commit_ms"] for s in states)
    pl["streaming.state_rows"] = states[-1]["rows"]
    pl["streaming.state_bytes"] = states[-1]["bytes"]
    pl["streaming.state_store_instances"] = states[-1]["instances"]

    batch_ids = {p.batchId for p in timed}
    jobs, stages = read_status_store(spark.sparkContext)
    mine = []
    for j in jobs:
        m = re.search(r"batch = (\d+)", j["desc"])
        if m and int(m.group(1)) in batch_ids:
            mine.append(j)
    eng = engine_totals(mine, stages)
    n = len(timed)
    for k, v in eng.items():
        pl[f"spark.{k}"] = v / n
    pl["streaming.tasks_per_trigger"] = eng["tasks"] / n
    wall = sum(p.durationMs["triggerExecution"] for p in timed) / 1e3
    cores = spark.sparkContext.defaultParallelism
    pl["spark.busy_ratio"] = eng["executor_run_s"] / (cores * wall) if wall else 0.0

    # the state commit runs inside addBatch, summed over the state-store
    # instances; spread over the cores it is that phase's share of wall
    slots = min(cores, max(1, states[-1]["instances"]))
    commit_wall = pl["streaming.state_commit_ms"] / slots
    layers = dict(med)
    layers["addBatch"] = max(0.0, med["addBatch"] - commit_wall)
    layers["state_commit"] = commit_wall
    ranked = sorted(layers.items(), key=lambda kv: -kv[1])
    res.notes.append(
        "stream time per trigger (median ms): "
        + ", ".join(f"{k}={v:.1f}" for k, v in ranked)
    )
    top = ranked[0][0]
    res.notes.append(
        f"stream top layer: {top}; expected state commit: "
        + ("match" if top == "state_commit" else "MISMATCH (finding)")
    )
