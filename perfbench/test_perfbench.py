"""Self-tests of the benchmark's probes and input generator.

Run from the root of a source checkout:

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import fixtures  # noqa: E402
import workloads  # noqa: E402
from probes import StatusProbe, Tracer, parse_duration_ms, union_ms  # noqa: E402


def test_metric_names_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == \
        list(workloads.END_TO_END)
    assert [m["name"] for m in spec["per_layer"]] == \
        workloads.per_layer_names()


def test_parse_duration_ms():
    assert parse_duration_ms("997 ms") == 997.0
    assert parse_duration_ms(
        "total (min, med, max (stageId: taskId))\n1.5 s (517 ms, 967 ms, "
        "967 ms (stage 1.0: task 1))") == 1500.0
    assert parse_duration_ms("2.0 m") == 120000.0
    assert parse_duration_ms("n/a") is None
    assert parse_duration_ms(None) is None


def test_union_ms_counts_overlap_once():
    assert union_ms([]) == 0.0
    assert union_ms([(0, 10), (5, 15), (20, 25)]) == 20.0
    assert union_ms([(0, 10), (2, 3)]) == 10.0


def test_self_time_subtracts_children():
    t = Tracer()
    t.begin_op()
    root = t.add("op", 0.0, 100.0, None)
    child = t.add("registry.build", 10.0, 60.0, root)
    t.add("spark.job", 20.0, 40.0, child)
    t.add("spark.job", 30.0, 50.0, child)
    t.add("collect", 55.0, 90.0, root)        # overlaps the first child
    got = t.self_ms()
    assert got["op"] == pytest.approx(100.0 - 80.0)
    assert got["registry.build"] == pytest.approx(50.0 - 30.0)
    assert got["spark.job"] == pytest.approx(40.0)
    assert got["collect"] == pytest.approx(35.0)


def test_fixtures_follow_the_seed():
    a = fixtures.tables(7, 0.001)
    b = fixtures.tables(7, 0.001)
    c = fixtures.tables(8, 0.001)
    assert set(a) == set(fixtures.TABLES)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["orders"].equals(c["orders"])
    assert a["lineitem"].num_rows == 6000


@pytest.fixture(scope="module")
def spark():
    from docker_aktin_dwh_spark.session import build_session
    s = build_session(app_name="perfbench-selftest", cpus=4)
    yield s
    s.stop()


def test_run_ms_sums_task_time(spark):
    """8 tasks sleeping 1 s each on local[4]: summed stage run time is at
    least 8 s, although only about 2 s of wall time pass."""
    probe = StatusProbe(spark)
    probe.settle()
    m0 = probe.mark()
    spark.sparkContext.parallelize(range(8), 8) \
        .foreach(lambda _: time.sleep(1.0))
    probe.settle()
    m1 = probe.mark()
    tot = probe.stages(m0, m1)
    assert tot is not None
    assert tot["spark.tasks"] == 8
    assert tot["spark.run_ms"] >= 8000
    assert m1.job - m0.job == 1
    jobs = probe.jobs(m0, m1)
    assert jobs is not None and len(jobs) == 1


def test_failed_read_is_null(spark):
    """A stage range the store does not hold reads as None, not zeros."""
    probe = StatusProbe(spark)
    m = probe.mark()
    far = type(m)(m.job, m.stage + 10_000, m.execution, m.wall_ms)
    late = type(m)(m.job, m.stage + 10_001, m.execution, m.wall_ms)
    assert probe.stages(far, late) is None
