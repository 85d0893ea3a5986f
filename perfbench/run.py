"""The repository benchmark: one seeded, closed-loop workload per run,
one client in one process on a ``local[<cpus>]`` Spark session.

    python3 perfbench/run.py --workload ingest_lww --seed 1 \\
        --seconds 24 --trace 0

Run from the root of a checkout.  With ``--trace 0`` the last stdout
line carries the end-to-end metrics; with ``--trace 1`` the run repeats
its measurement with tracing on and the last line carries the per-layer
metrics.  The line before it is a details record (host load, sample
counts, the workload's own figures).  Exits 1 if any result is wrong,
2 if the library sources are not beside it and 3 if the run outlives
``TIME_LIMIT_S``."""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MODULES = {"ingest_lww": "ingest", "llm_pipeline": "pipeline"}
NEEDED = ("tiledb_py_spark", "__spark_entry__.py", "bench.py",
          "tools/gen_sf.py", "tools/check_correctness.py")
DRIVER_MEM = "3g"
TIME_LIMIT_S = 170          # a run must end within 180 s


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(MODULES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure(work: str) -> None:
    """Keep Spark inside ``work`` and size it to this host's cores."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell")
    # Python workers import the library from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def watchdog(limit_s: int) -> None:
    """After ``limit_s`` seconds, kill the driver JVM (its Python
    workers exit with it) and exit with code 3: a wedged Spark job must
    not outlive the run."""

    def expire(signum, frame):
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.kill()
            proc.wait()
        print(f"perfbench: no result after {limit_s} s", file=sys.stderr)
        os._exit(3)

    signal.signal(signal.SIGALRM, expire)
    signal.alarm(limit_s)


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [p for p in NEEDED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: {missing} not found under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    watchdog(TIME_LIMIT_S)
    work = os.path.join(HERE, ".work")
    shutil.rmtree(work, ignore_errors=True)
    configure(work)

    import common
    import metrics

    workload = importlib.import_module(MODULES[args.workload])
    from tiledb_py_spark.session import get_spark
    from tiledb_py_spark.sources.spark_datasource import register

    cpu = common.tree_cpu_s()
    t = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    register(spark)
    session_s = time.perf_counter() - t
    session_cpu_s = common.tree_cpu_s() - cpu
    spark.sparkContext.setLogLevel("ERROR")
    try:
        ctx = common.Ctx(root=ROOT, work=work, seed=args.seed,
                         seconds=args.seconds, trace=bool(args.trace),
                         spark=spark, session_s=session_s,
                         session_cpu_s=session_cpu_s)
        out = workload.run(ctx)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    values = out.layers if args.trace else {"setup_s": out.setup_s, **out.e2e}
    catalogue = metrics.PER_LAYER if args.trace else metrics.END_TO_END
    details = {"workload": args.workload, "seed": args.seed,
               "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
               "setup_s": round(out.setup_s, 4),
               "setup_wall_s": round(out.setup_wall_s, 4), **out.details}
    if out.errors:
        details["errors"] = out.errors
    print(json.dumps(details, default=str))
    print(metrics.result_line(out.failed == 0, out.attempted, out.failed,
                              values, catalogue))
    return 0 if out.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
