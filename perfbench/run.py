"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_ingest --seed 1 --seconds 15 --trace 0

Run from the root of a checkout of the repository. Prints a config line,
then as its last line one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "etl_pipeline_orchestration_spark"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"run from the repository root: no {PACKAGE}/ in {root}", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    # Python workers (pandas UDFs) import the package: they inherit this.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = work
    sys.path[:0] = [HERE, root]
    try:
        result = run(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


def run(args, root: str, work: str) -> dict:
    import report
    from tracing import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    from etl_pipeline_orchestration_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)  # the package's shuffle-partition default
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}",
        "spark.ui.showConsoleProgress": "false",
    }
    event_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(event_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_dir}",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        })

    t = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{cpus}]", extra_conf=conf)
    session_s = time.perf_counter() - t
    try:
        wl = WORKLOADS[args.workload](spark, work, args.seed, root)
        t = time.perf_counter()
        wl.setup()
        inputs_s = time.perf_counter() - t
        warm = wl.warm_up()
        setup_s = time.perf_counter() - T_START
        ops = wl.op_list(args.seconds)
        tracer = None
        if args.trace:
            tracer = Tracer()
            wl.install(tracer)
            timed, traced = report.run_traced(wl, tracer, ops)
        else:
            timed, traced = [wl.run_op(op) for op in ops], []
    finally:
        _stop(spark)

    config = {"workload": args.workload, "seed": args.seed, "cpus": cpus,
              "master": f"local[{cpus}]", "n_ops": len(ops), **wl.config(),
              "session_s": round(session_s, 3), "inputs_s": round(inputs_s, 3),
              "warm_ops": len(warm), "warm_op_s": [round(r.latency_s, 3) for r in warm]}
    print("config " + json.dumps(config))
    for r in warm + timed + traced:
        if r.error:
            print(f"op failed: {r.error}", file=sys.stderr)
    if args.trace:
        metrics = report.layer_metrics(timed, traced, tracer, event_dir, cpus, session_s)
    else:
        metrics = report.end_to_end(timed, setup_s)
        print("extra " + json.dumps(report.extras(wl, timed)))
    return {**report.summary(warm, timed + traced), "metrics": metrics}


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits on EOF
    gateway.proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
