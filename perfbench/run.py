"""Benchmark of the docker_aktin_dwh_spark engine.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload query_mix --seed 1 \\
        --seconds 10 --trace 0

Workloads: ``query_mix`` and ``txn_ingest`` (see BENCHMARK.json and
perfbench/NOTES.md for why each exists).  The run generates its input tables
from ``--seed`` under ``.perfbench_work/`` in the checkout, starts one
engine session on ``local[<cores>]``, runs its set-up, measures for about
``--seconds`` seconds with one closed-loop client, checks the outputs and
prints one JSON line as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics read from Spark's status stores after each operation
and writes the run's spans to ``.perfbench_work/spans/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("query_mix", "txn_ingest")
#: input scale: sf=0.02 is 120k lineitem rows, 30k orders, 1k documents
SF = 0.02


def _prepare_env(root: str, work: str, cpus: int) -> None:
    """Keep every file the run writes inside the checkout, and put the
    checkout on the Python workers' path: the change-feed stream source
    imports the package from its worker, which fails otherwise."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "docker_aktin_dwh_spark",
                                       "__init__.py")):
        print("perfbench: run from the root of a source checkout "
              "(docker_aktin_dwh_spark/ not found)", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    base = os.path.join(root, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-seed{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(root, work, cpus)
    sys.path[:0] = [HERE, root, os.path.join(root, "tests")]

    import fixtures
    import workloads

    data = os.path.join(work, "data")
    rows = fixtures.write(data, args.seed, SF)

    # set-up starts here: engine import, session, fixtures, warm pass
    t_setup0 = time.perf_counter()
    os.chdir(work)                  # warehouse and metastore files land here
    from docker_aktin_dwh_spark.session import build_session
    spark = build_session(app_name=f"perfbench-{args.workload}", cpus=cpus)
    session_s = time.perf_counter() - t_setup0
    try:
        bench = workloads.Bench(spark, data, work, args.seed,
                                bool(args.trace), cpus)
        if args.workload == "query_mix":
            out = workloads.query_workload(
                bench, workloads.QUERY_MIX, args.seconds, t_setup0,
                session_s, args.workload)
        else:
            out = workloads.txn_workload(bench, args.seconds, t_setup0,
                                         session_s, rows["orders"])
    finally:
        t_stop = time.perf_counter()
        _stop(spark)
        os.chdir(root)
        shutil.rmtree(work, ignore_errors=True)
    print(f"perfbench: {args.workload} seed {args.seed}: "
          f"{time.perf_counter() - t_setup0:.1f} s from session start, "
          f"{time.perf_counter() - t_stop:.1f} s of it stopping",
          file=sys.stderr)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
