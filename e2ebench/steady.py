"""Steadiness self-check: two sets of runs of the same code per workload.

    python3 e2ebench/steady.py [--runs 10] [--sets 2]

Run from the root of a checkout. Each set runs every workload of
BENCHMARK.json ``--runs`` times (workloads interleaved, a fresh seed per
run) with its command, ``run_seconds`` and bounds. For every end-to-end
metric it prints each set's median and quartiles and flags:

- ``SPREAD``: the quartile distance exceeds the metric's bound as a share
  of the median, and ``noisy`` when it exceeds a third of the bound;
- ``DRIFT``: a later set's median differs from the first set's, in
  either direction, by more than the bound.

Every run's result line is kept, with the host load and a CPU probe
taken before it, in ``.bench_work/steady-<time>.jsonl``. Exits 1 when
anything is flagged or a run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from common import cpu_probe_s  # noqa: E402


def one_run(cmd: list[str], workload: str, seed: int, seconds: int) -> dict:
    host = {"load1": os.getloadavg()[0], "cpu_probe_s": cpu_probe_s()}
    t = time.perf_counter()
    proc = subprocess.run(
        cmd + ["--workload", workload, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", "0"],
        capture_output=True, text=True, timeout=900,
    )
    wall = time.perf_counter() - t
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        result = None
    return {"workload": workload, "seed": seed, "exit": proc.returncode,
            "wall_s": wall, "host": host, "result": result}


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, quartile distance / median)"""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--sets", type=int, default=2)
    args = p.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    workloads = [w["name"] for w in bench["workloads"]]
    metrics = bench["end_to_end"]
    os.makedirs(".bench_work", exist_ok=True)
    log = os.path.join(".bench_work", f"steady-{time.strftime('%Y%m%d-%H%M%S')}.jsonl")

    values: dict = {}  # (set, workload, metric) -> [values]
    failed = 0
    with open(log, "w") as out:
        for s in range(args.sets):
            for i in range(args.runs):
                for w in workloads:
                    seed = 1 + s * args.runs + i
                    rec = one_run(bench["command"], w, seed, bench["run_seconds"])
                    rec["set"] = s
                    out.write(json.dumps(rec) + "\n")
                    out.flush()
                    res = rec["result"]
                    ok = rec["exit"] == 0 and res and res["correct"]
                    print(f"set {s} {w} seed {seed}: {'ok' if ok else 'FAILED'} "
                          f"in {rec['wall_s']:.1f} s, load1 {rec['host']['load1']:.2f}",
                          flush=True)
                    if not ok:
                        failed += 1
                        continue
                    for m in metrics:
                        values.setdefault((s, w, m["name"]), []).append(
                            res["metrics"][m["name"]]["value"])

    flags = 0
    for w in workloads:
        for m in metrics:
            name, bound = m["name"], m["bound"]
            first = None
            for s in range(args.sets):
                vals = values.get((s, w, name), [])
                if len(vals) < 2:
                    continue
                med, q1, q3, sp = spread(vals)
                note = ""
                if sp > bound:
                    note, flags = " SPREAD", flags + 1
                elif sp > bound / 3:
                    note = " noisy"
                if first is None:
                    first = med
                else:
                    drift = (med - first) / first
                    if abs(drift) > bound:
                        note, flags = note + f" DRIFT {drift:+.1%}", flags + 1
                print(f"{w:10s} {name:12s} set {s}: median {med:.4f} "
                      f"[{q1:.4f}, {q3:.4f}] spread {sp:.1%} "
                      f"(bound {bound:.0%}){note}")
    print(f"runs kept in {log}; {failed} failed runs, {flags} flags")
    return 1 if failed or flags else 0


if __name__ == "__main__":
    sys.exit(main())
