"""Product-ETL benchmark: the command-line entry point.

    python3 perfbench/run.py --workload full_scrape --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Generates the workload's inputs from
the seed, starts the program's own Spark session
(omfietser_etl_spark.session.get_spark) at local[<cores>], runs the
workload, checks every operation's output and prints one JSON object
as the last line of standard output. With ``--trace 0`` it holds the
end-to-end metrics, with ``--trace 1`` the per-layer metrics of a
traced run. Everything the run writes goes under ``.perfbench/`` in
the checkout; the work directory is removed at exit and only the span
file of a traced run is kept.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench")


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _cores() -> int:
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def _stop(spark) -> None:
    """Stop the session and the JVM behind it, and wait for it to exit."""
    from pyspark import SparkContext

    from py4j.protocol import Py4JError

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    except Py4JError:  # the JVM connection is already gone (a terminated run)
        pass
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, ROOT)
    import omfietser_etl_spark  # noqa: F401  fails fast outside a checkout

    from perfbench.trace import Tracer
    from perfbench.workloads import PER_LAYER, WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(OUT, f"work-{os.getpid()}")
    os.makedirs(work)
    # keep every temporary file of Python, the JVM and Spark inside the checkout
    for sub in ("tmp", "jvm", "spark"):
        os.makedirs(os.path.join(work, sub))
    jvm_opts = f"-Djava.io.tmpdir={os.path.join(work, 'jvm')} -XX:-UsePerfData"
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts  # spark-submit's own short-lived JVM
    spark = None
    try:
        from omfietser_etl_spark.session import get_spark

        start = time.perf_counter()
        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            master=f"local[{_cores()}]",
            extra_conf={
                "spark.driver.memory": "3g",
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.driver.extraJavaOptions": jvm_opts,
                "spark.ui.showConsoleProgress": "false",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - start
        tracer = Tracer(spark.sparkContext, f"{args.workload}-{args.seed}") if args.trace else None
        run = Run(spark, args.seed, args.seconds, work, tracer)
        e2e = WORKLOADS[args.workload](run)
    finally:
        try:
            if spark is not None:
                _stop(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    for err in run.errors[:20]:
        print(f"[{args.workload}] FAIL {err}", file=sys.stderr)
    info = " ".join(f"{k}={v:.6g}" if isinstance(v, float) else f"{k}={v}"
                    for k, v in run.info.items())
    lats = ",".join(f"{x:.3f}" for x in run.latencies)
    print(f"[{args.workload}] seed={args.seed} ops={run.attempted} failed={run.failed} "
          f"session_s={session_s:.3f} setup_work_s={run.setup_work_s:.3f} {info} latencies_s={lats}")
    if args.trace:
        tracer.write(os.path.join(OUT, f"spans-{args.workload}-{args.seed}.jsonl"))
        from perfbench.workloads import layer_metrics

        values = layer_metrics(run, session_s)
        metrics = {n: {"value": values.get(n, 0), "unit": u} for n, u in PER_LAYER}
    else:
        setup_s = session_s + run.setup_work_s
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "items_per_s": {"value": e2e["items_per_s"], "unit": "1/s"},
            "op_p50_s": {"value": e2e["op_p50_s"], "unit": "s"},
        }
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
