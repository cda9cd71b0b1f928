"""End-to-end benchmark for metevents-spark.

    python3 e2ebench/run.py --workload registry --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The workload's inputs are generated
from ``--seed`` during set-up, the timed window lasts ``--seconds``
(for registry, at least three whole passes), outputs are checked
afterwards, and the last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
With ``--trace 0`` the metrics are the end-to-end ones, with
``--trace 1`` the per-layer ones (see BENCHMARK.json and
e2ebench/README.md). Every file the run writes stays under
``.bench_work/`` in the checkout, and the run exits non-zero when any
operation or output check failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "peak_rss_mb": "MB",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["registry", "stream"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def prepare_env(work: str) -> None:
    """Point every scratch location of Spark, the JVM, Python and the
    library at ``work``, and fix the engine's size. Two task slots leave
    the rest of a small host to the driver, the JIT and the collector,
    which keeps run-to-run spread down. Shuffle partitions match the
    slots: at the library's default of 32, every Arrow UDF stage runs 32
    Python round trips on two slots, and a run no longer fits its time
    budget (see e2ebench/README.md). The heap-free ratios let a full
    collection hand unused heap back, so settled RSS tracks live data."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = min(2, os.cpu_count() or 1)
    java_opts = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        f"-XX:ErrorFile={tmp}/hs_err_%p.log "
        "-XX:MinHeapFreeRatio=5 -XX:MaxHeapFreeRatio=10"
    )
    confs = {
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    submit = ["--driver-java-options", java_opts]
    for k, v in confs.items():
        submit += ["--conf", f"{k}={v}"]
    os.environ.update({
        "TMPDIR": tmp,
        # spark-submit's launcher JVM, which the driver options miss
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_SHUFFLE": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join([ROOT] + [
            p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p
        ]),
        "PYSPARK_SUBMIT_ARGS": shlex.join(submit) + " pyspark-shell",
    })


def start_session():
    from metevents_spark.session import get_spark

    spark = get_spark(app_name="e2ebench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - last resort, then reap
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    args.root = ROOT
    if not os.path.isdir(os.path.join(ROOT, "metevents_spark")):
        print("e2ebench: run from the root of a metevents-spark checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import registry
    import stream
    from common import PER_LAYER, cpu_probe_s

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    work = os.path.join(ROOT, ".bench_work", run_id)
    prepare_env(work)

    workload = registry if args.workload == "registry" else stream
    host = {"host.cpu_probe_s": cpu_probe_s(), "host.load1": os.getloadavg()[0]}
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session()
        session_s = time.perf_counter() - t0
        res = workload.run(spark, args, work, session_s)
        res.per_layer.update(host)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    for line in res.notes:
        print(line)
    for line in res.problems:
        print(f"FAILED {line}")
    if not res.end_to_end:  # the workload died before it measured anything
        return 1
    if args.trace:
        chosen = {k: (v, PER_LAYER[k]) for k, v in res.per_layer.items()}
    else:
        chosen = {k: (res.end_to_end[k], u) for k, u in END_TO_END.items()}
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()}
    correct = res.failed == 0 and not res.problems
    print(json.dumps({
        "correct": correct,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
