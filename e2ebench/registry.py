"""The ``registry`` workload: a fixed, family-stratified list of registry
keys over a seeded star schema whose ``events`` table is a daily station
table with heavy-tailed series lengths and planted defects.

One operation is one registry call (build: the ``QUERIES`` call that
returns a DataFrame) followed by its noop write (exec). One pass runs
every key once, in a seeded random order. The loop is closed: one
client, next operation when the last has finished.
"""

from __future__ import annotations

import itertools
import random
import statistics
import time

import gen
from common import Result, repeated, settled_rss_mb, tail
from spans import Tracer, engine_totals, read_status_store, self_times

#: the keys, and the layer each one stresses
KEYS = [
    "extreme_value",        # operators: window runs over the station table
    "storm_find",           # operators: Arrow kernel, shared with the stream
    "copurchase_bfs_hops",  # operators: driver loop, one job per hop
    "region_revenue",       # relational: six-table join
    "pricing_summary",      # relational: single-table aggregate
    "exact_dedup",          # text
    "label_centroids",      # similarity
    "mutual_information",   # quality
    "media_dedup",          # multimodal
    "freq_infer",           # functions
]
#: warm passes after the collecting one. Pass time falls by about 20%
#: over the first three, then by a few percent a pass for longer than a
#: run can afford, so no stop rule settles reliably; a fixed count keeps
#: the warm-up, and with it setup_s, the same length in every run. Two
#: take most of the steep part and keep a run inside its time budget.
WARMUP_PASSES = 2
#: timed passes at least, so every key's median has three samples even
#: when a pass is slower than a third of --seconds
TIMED_MIN = 3
#: keys whose registry entry is a wrapper defined in queries.py
WRAPPER_FAMILY = {
    "extreme_value": "operators",
    "storm_find": "operators",
    "media_dedup": "multimodal",
    "freq_infer": "functions",
}


def family(key: str, fn) -> str:
    mod = fn.__wrapped__.__module__.split(".")[1]
    return WRAPPER_FAMILY.get(key, mod) if mod == "queries" else mod


class Driver:
    def __init__(self, spark, data: str, res: Result):
        from metevents_spark.queries import QUERIES

        self.spark, self.data, self.res = spark, data, res
        self.queries = QUERIES
        self.tracer = Tracer(spark.sparkContext)
        self.ids = itertools.count()
        self.kind_of: dict[int, str] = {}

    def op(self, kind: str, collect: bool = False):
        """One operation; returns (op id, seconds, collected frame)."""
        op = next(self.ids)
        self.kind_of[op] = kind
        self.res.attempted += 1
        out = None
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op", op):
                with self.tracer.span("build"):
                    df = self.queries[kind](self.spark, self.data)
                with self.tracer.span("exec"):
                    if collect:
                        out = df.toPandas()
                    else:
                        df.write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001 - count it and go on
            self.res.failed += 1
            self.res.problems.append(f"{kind}: {type(exc).__name__}: {exc}"[:300])
        return op, time.perf_counter() - t0, out

    def round(self, order: list[str]) -> list[tuple[int, str, float]]:
        return [(op, k, sec) for k in order for op, sec, _ in [self.op(k)]]


def run(spark, args, work: str, session_s: float) -> Result:
    from metevents_spark.queries import ORACLE_SQL, QUERIES

    from checks import Oracle

    res = Result()
    gen_s, rows = repeated(lambda i: gen.star_schema(f"{work}/data-{i}", args.seed))
    data = f"{work}/data-0"
    drv = Driver(spark, data, res)
    fam = {k: family(k, QUERIES[k]) for k in KEYS}
    rng = random.Random(args.seed)

    # warm-up: one collecting pass (its outputs are checked later), then
    # WARMUP_PASSES more
    t0 = time.perf_counter()
    outputs = {k: drv.op(k, collect=True)[2] for k in KEYS}
    passes = [sum(s for _, _, s in drv.round(KEYS)) for _ in range(WARMUP_PASSES)]
    warmup_s = time.perf_counter() - t0
    warmup_ops = len(drv.kind_of)

    # timed window: whole passes, as many as fit in --seconds but at
    # least TIMED_MIN; with --trace 1 every second pass runs with the
    # layer wrappers installed
    timed: list[tuple[int, str, float, bool]] = []
    t0, last, n = time.perf_counter(), 0.0, 0
    while n < TIMED_MIN or time.perf_counter() - t0 + last <= args.seconds:
        traced = bool(args.trace) and n % 2 == 1
        drv.tracer.install() if traced else drv.tracer.uninstall()
        order = KEYS[:]
        rng.shuffle(order)
        p0 = time.perf_counter()
        timed += [(op, k, s, traced) for op, k, s in drv.round(order)]
        last, n = time.perf_counter() - p0, n + 1
    drv.tracer.uninstall()

    rss, rss_note = settled_rss_mb(spark)

    # output checks against the DuckDB oracles
    oracle = Oracle(args.root, data, work)
    try:
        for k in KEYS:
            res.attempted += 1
            if outputs[k] is None:
                problem = "no output collected"
            elif k not in ORACLE_SQL:
                problem = "no oracle SQL"
            else:
                problem = oracle.compare(outputs[k], ORACLE_SQL[k])
            if problem:
                res.failed += 1
                res.problems.append(f"check {k}: {problem}")
    finally:
        oracle.close()

    def medians(traced: bool) -> dict[str, float]:
        by: dict[str, list[float]] = {}
        for _, k, s, t in timed:
            if t == traced:
                by.setdefault(k, []).append(s)
        return {k: statistics.median(v) for k, v in by.items()}

    plain = medians(False)
    res.end_to_end = {
        "setup_s": session_s + gen_s + warmup_s,
        "pass_s": sum(plain.values()),
        "op_p50_s": statistics.median(plain.values()),
        "peak_rss_mb": rss,
    }
    lat = [s for _, _, s, _ in timed]
    pct, tail_s = tail(lat)
    pl = res.per_layer
    pl.update({
        "session.start_s": session_s,
        "setup.session_s": session_s,
        "setup.gen_s": gen_s,
        "setup.warmup_s": warmup_s,
        "setup.warmup_ops": warmup_ops,
        "ops.tail_s": tail_s,
        "ops.tail_pct": pct,
        "ops.samples": len(lat),
    })
    res.notes += [
        f"registry: seed {args.seed}, rows per table {rows[0]}",
        f"registry: {n} timed passes, {len(lat)} timed operations, "
        f"warm-up {warmup_ops} operations in {warmup_s:.2f} s "
        f"(pass times {[round(p, 3) for p in passes]})",
        rss_note,
        "registry: per-key median s "
        + ", ".join(f"{k}={plain[k]:.3f}" for k in KEYS if k in plain),
    ]
    if args.trace:
        traced_ops = {op for op, _, _, t in timed if t}
        n_tr = max(1, n // 2)
        traced_pass = sum(medians(True).values())
        pl["trace.overhead_ratio"] = traced_pass / res.end_to_end["pass_s"]
        trace_layers(spark, drv, traced_ops, n_tr, fam, res)
    return res


def trace_layers(spark, drv: Driver, traced_ops: set, n_pass: int, fam, res) -> None:
    """Per-pass layer numbers from the spans and the status store of the
    traced passes, and the layer with the most self time."""
    pl = res.per_layer
    spans = [s for s in drv.tracer.spans if s.op in traced_ops]
    for s in spans:
        dur = (s.end - s.start) / n_pass
        if s.name in ("build", "exec"):
            f = fam[drv.kind_of[s.op]]
            pl[f"queries.{s.name}_s"] += dur
            pl[f"{f}.{s.name}_s"] += dur
        elif s.name != "op":
            pl[f"{s.name}.calls"] += 1 / n_pass
            pl[f"{s.name}.s"] += dur
    pl["cache.release_all.frames"] = sum(drv.tracer.frames) / n_pass

    jobs, stages = read_status_store(spark.sparkContext)
    mine = []
    for j in jobs:
        parts = j["group"].split("|")
        if parts[0].startswith("op") and int(parts[0][2:]) in traced_ops:
            mine.append(j)
            f = fam[drv.kind_of[int(parts[0][2:])]]
            pl[f"{f}.jobs"] += 1 / n_pass
            if "build" in parts:
                pl["queries.build_jobs"] += 1 / n_pass
            if "exec" in parts:
                pl["queries.exec_jobs"] += 1 / n_pass
            if parts[-1] == "io.load_table":
                pl["io.load_table.jobs"] += 1 / n_pass
    eng = engine_totals(mine, stages)
    for k, v in eng.items():
        pl[f"spark.{k}"] = v / n_pass
    wall = sum(s.end - s.start for s in spans if s.name == "op")
    cores = spark.sparkContext.defaultParallelism
    pl["spark.busy_ratio"] = eng["executor_run_s"] / (cores * wall) if wall else 0.0

    def label(s) -> str:
        if s.name in ("build", "exec"):
            return f"{fam[drv.kind_of[s.op]]}.{s.name}"
        return "bench.op" if s.name == "op" else s.name

    selft = self_times(drv.tracer.spans, label, lambda s: s.op in traced_ops)
    ranked = sorted(selft.items(), key=lambda kv: -kv[1])
    total = sum(v for _, v in ranked) or 1.0
    res.notes.append(
        "registry self time per pass: "
        + ", ".join(
            f"{k}={v / n_pass:.3f}s ({100 * v / total:.0f}%)" for k, v in ranked[:8]
        )
    )
    top = ranked[0][0]
    expected = top.endswith(".build") or top.startswith("io.")
    res.notes.append(
        f"registry top self-time layer: {top}; expected plan build or io: "
        + ("match" if expected else "MISMATCH (finding)")
    )
