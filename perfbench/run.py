"""Benchmark entry point.

    python3 perfbench/run.py --workload exporter_poll --seed 1 --seconds 10 --trace 0

Runs one workload in one Spark session on ``local[<cores>]`` and prints,
as the last line of standard output, one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``).  A human
report goes to standard error.  Every input is generated from
``--seed``; every file the run writes lives under ``.perfbench_work/``
in the checkout and is removed at exit.  The exit code is 0 only when
every output check passed and no op failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

WORKLOADS = ("exporter_poll", "dashboard_refresh")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="length of the timed window (ops run back to back)")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--spans", default=None, metavar="FILE",
                   help="with --trace 1: also write every span as JSON lines")
    p.add_argument("--self-check", action="store_true",
                   help="deliberately wrong expectation: the run must fail")
    return p.parse_args(argv)


class Context:
    """What a workload gets: the session, its inputs' seed, the timed
    window, the tracer and a private work directory."""

    def __init__(self, args, spark, session_start_s, work):
        from perfbench.common import SparkCounters, Tracer

        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.self_check = args.self_check
        self.spark = spark
        self.session_start_s = session_start_s
        self.work = work
        self.tracer = Tracer(enabled=self.trace)
        self.counters = SparkCounters(spark) if self.trace else None


def start_session(work: str, cores: int):
    """Start the engine's session with every scratch path inside ``work``."""
    from kafka_metrics_exporter_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit (it
    exits when its stdin closes; its Python workers follow it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import pyspark  # noqa: F401

        import kafka_metrics_exporter_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    from perfbench import workloads
    from perfbench.common import env_cpus

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    cores = env_cpus()
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # workers inherit this at session start (cluster.fetch_logged)
    os.environ["PERFBENCH_FETCH_LOG"] = os.path.join(work, "fetchlog")
    os.makedirs(os.environ["PERFBENCH_FETCH_LOG"])
    spark = None
    walls = {}
    try:
        t0 = time.perf_counter()
        spark = start_session(work, cores)
        spark.sparkContext.setLogLevel("ERROR")
        ctx = Context(args, spark, time.perf_counter() - t0, work)
        run = workloads.run(args.workload, ctx)
        walls["workload"] = time.perf_counter() - t0
        if args.trace and args.spans:
            ctx.tracer.write(args.spans)
    except Exception:  # noqa: BLE001  (boundary: report, exit non-zero)
        traceback.print_exc()
        return 1
    finally:
        t1 = time.perf_counter()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        walls["teardown"] = time.perf_counter() - t1

    run.notes.append("wall seconds: " + " ".join(f"{k}={v:.1f}" for k, v in walls.items()))
    for note in run.notes:
        print(f"[{args.workload} seed={args.seed} trace={args.trace}] {note}",
              file=sys.stderr)
    for name, (value, unit) in sorted(run.metrics.items()):
        print(f"  {name:34s} {value:14.6g} {unit}", file=sys.stderr)
    print(json.dumps({
        "correct": run.correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in run.metrics.items()},
    }))
    return 0 if run.correct and run.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
