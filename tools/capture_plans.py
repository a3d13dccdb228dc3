"""Capture explain('formatted') + warm timings + work counters for keys.

Usage: python capture_plans.py <suffix> key1 key2 ...   (or 'ALL' for headline set)
Writes $PLANS_DIR/<key>_<suffix>.txt (default plans/r16 in the checkout
this script sits in, which is also the package it imports) and prints
per-key medians plus load-invariant work counters: job count, executor task
time, input bytes, shuffle read/write bytes, task count — diffed around the
LAST (steady-state) run, so control-plane optimizations (fewer driver
round-trips) leave artifact evidence, not just wall-clock prose (VERDICT r15
item 7).  ``build_jobs`` counts the jobs submitted while ``fn(spark, sf)``
builds the frame, before any action (eager control-plane work such as
schema inference or a materialize barrier).  A counter whose status-store
read fails is written as null, never as 0.
"""
import os, sys, time, json
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
from docker_aktin_dwh_spark.registry import build_registry
from docker_aktin_dwh_spark.session import build_session
from pyspark.sql import functions as F
from py4j.protocol import Py4JError
import pandas as pd

suffix = sys.argv[1]
keys = sys.argv[2:]
sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
plans_dir = os.environ.get("PLANS_DIR", os.path.join(REPO, "plans", "r16"))
spark = build_session(app_name="plancap")
registry = build_registry()
if keys == ["ALL"]:
    import bench
    keys = list(bench.HEADLINE)

registry["jn_01"].fn(spark, sf).count()
@F.pandas_udf("double")
def _warm(x: pd.Series) -> pd.Series:
    return x
spark.range(1000).repartition(32).select(_warm(F.col("id").cast("double"))).count()


def _counters():
    """Cumulative work from the AppStatusStore + the DAGScheduler's job
    counter (total jobs submitted so far — monotone, so a diff around a
    run is that run's job count)."""
    sc = spark.sparkContext
    try:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
    except Exception:
        time.sleep(0.2)
    executor_fields = ("task_time_ms", "input_bytes", "shuffle_read_bytes",
                       "shuffle_write_bytes", "tasks")
    out = dict.fromkeys(executor_fields, 0)
    try:
        store = sc._jsc.sc().statusStore()
        lst = store.executorList(False)
        for i in range(lst.size()):
            e = lst.apply(i)
            out["task_time_ms"] += e.totalDuration()
            out["input_bytes"] += e.totalInputBytes()
            out["shuffle_read_bytes"] += e.totalShuffleRead()
            out["shuffle_write_bytes"] += e.totalShuffleWrite()
            out["tasks"] += e.totalTasks()
    except Py4JError:
        out = dict.fromkeys(executor_fields)
    out["jobs"] = _job_id()
    return out


def _job_id():
    """The DAGScheduler's next job id (monotone: a diff is a job count),
    or None when the read fails."""
    try:
        return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())
    except Py4JError:
        return None


def _diff(a, b):
    return None if a is None or b is None else b - a


os.makedirs(plans_dir, exist_ok=True)
out = {}
for key in keys:
    fn = registry[key].fn
    runs = []
    work = None
    for i in range(3):
        c0 = _counters() if i == 2 else None
        t0 = time.perf_counter()
        j0 = _job_id()
        df = fn(spark, sf)
        build_jobs = _diff(j0, _job_id())
        df.count()
        runs.append(time.perf_counter() - t0)
        if i == 2:
            c1 = _counters()
            work = {k: _diff(c0[k], c1[k]) for k in c1}
            work["build_jobs"] = build_jobs
    # plan of the last build (cheap: _explainString, no execution)
    try:
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
    except Exception:
        import io, contextlib
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
    with open(f"{plans_dir}/{key}_{suffix}.txt", "w") as f:
        f.write(plan)
        f.write("\n-- work counters (steady-state run 3 of 3): "
                + json.dumps(work) + "\n")
    runs.sort()
    out[key] = {"med": round(runs[1], 3), "min": round(runs[0], 3),
                "max": round(runs[2], 3), "work": work}
    print(f"{key:16s} med={runs[1]:7.3f} min={runs[0]:7.3f} max={runs[2]:7.3f}"
          f" jobs={work['jobs']} build_jobs={work['build_jobs']}"
          f" task_ms={work['task_time_ms']}", flush=True)
print(json.dumps(out))
spark.stop()
