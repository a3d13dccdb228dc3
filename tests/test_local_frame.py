"""Driver-side frames (session.local_frame): every frame the engine
builds from driver-held rows is a JVM ``LocalRelation`` — no job to
build it, no Python worker to scan or broadcast it — including the
deletion-vector (DV) side of every txnlog read and rewrite.  Also the
guard that keeps ``createDataFrame`` and ``parallelize`` out of the
package, and value parity with the ``createDataFrame(list)`` form the
helper replaced."""

from __future__ import annotations

import ast
import datetime
import os
import textwrap
import time
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from docker_aktin_dwh_spark.session import local_frame
from docker_aktin_dwh_spark.sources import pgwire, txnlog

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "docker_aktin_dwh_spark")


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _assert_local(plan: str) -> None:
    """No Python-RDD leaf anywhere in the optimized ``plan``, and at
    least one LocalRelation (the driver-built side)."""
    assert "LogicalRDD" not in plan and "ExistingRDD" not in plan, plan
    assert "LocalRelation" in plan, plan


# ------------------------------------------------------------ plan shape

@pytest.mark.parametrize("rows", [[("a", [(1, 2), (5, 9)]), ("b", [])], []],
                         ids=["rows", "empty"])
def test_local_frame_is_a_local_relation(spark, rows):
    df = local_frame(spark, rows,
                     "f string, r array<struct<s: bigint, e: bigint>>")
    _assert_local(_plan(df))
    assert [(r.f, [tuple(x) for x in r.r]) for r in df.collect()] == rows


def _one_file_table(spark, tdir):
    """100 rows in ONE data file, so a 10-key merge takes the DV arm
    (10% < DV_MAX_FILE_FRACTION) and a later 40-key merge folds it."""
    df = spark.range(0, 100).coalesce(1).select(
        F.col("id").alias("k"),
        F.concat(F.lit("a"), F.col("id").cast("string")).alias("v"))
    txnlog.create_table(spark, df, tdir, key="k")


def _batch(spark, lo, hi):
    return spark.range(lo, hi).coalesce(1).select(
        F.col("id").alias("k"),
        F.concat(F.lit("b"), F.col("id").cast("string")).alias("v"))


def test_dv_masked_read_and_change_feed_plans_are_local(spark, tmp_path):
    tdir = str(tmp_path / "tbl")
    _one_file_table(spark, tdir)
    txnlog.merge(spark, tdir, _batch(spark, 10, 20), key="k")    # v1
    assert any(s.get("dv") for s in txnlog.snapshot(tdir).files.values()), \
        "scenario must leave a deletion vector"
    read = txnlog.read_table(spark, tdir)
    _assert_local(_plan(read))
    assert read.count() == 100
    # v0 → v1 diff reads the DV delta through the keep_dead arm, and
    # its empty old-only side is a driver-built frame too
    feed = txnlog.table_changes(spark, tdir, 0, 1, key="k")
    _assert_local(_plan(feed))
    assert {(r.k, r.change_type) for r in feed.collect()} == \
        {(k, t) for k in range(10, 20)
         for t in ("update_preimage", "update_postimage")}


def test_merge_fold_read_plan_is_local(spark, tmp_path, monkeypatch):
    tdir = str(tmp_path / "tbl")
    _one_file_table(spark, tdir)
    txnlog.merge(spark, tdir, _batch(spark, 10, 20), key="k")    # DV
    (folded,) = [n for n, s in txnlog.snapshot(tdir).files.items()
                 if s.get("dv")]
    staged = []
    stage = txnlog._stage_data_files

    def spy(spark_, df, *a, **kw):
        staged.append(_plan(df))
        return stage(spark_, df, *a, **kw)

    monkeypatch.setattr(txnlog, "_stage_data_files", spy)
    txnlog.merge(spark, tdir, _batch(spark, 20, 60), key="k")    # fold
    assert folded not in txnlog.snapshot(tdir).files, \
        "the DV'd file must fold (rewrite) in this commit"
    (plan,) = staged
    _assert_local(plan)
    got = {r.k: r.v for r in txnlog.read_table(spark, tdir).collect()}
    assert len(got) == 100 and got[5] == "a5" and got[15] == "b15" \
        and got[59] == "b59" and got[60] == "a60"


# ------------------------------------------------------------ value parity

_PARITY_DDL = (
    "s string, b bigint, i int, d double, z boolean, y binary, "
    "a array<string>, r array<struct<s: bigint, e: bigint>>, "
    "n array<array<array<double>>>")
_PARITY_ROWS = [
    ("x", 2 ** 40, -7, 1.5, True, b"\x00\xff", ["p", None],
     [(1, 2), (5, 9)], [[[1.0, -2.5]], []]),
    ("", -1, 0, float("inf"), False, b"", [], [], [[[]]]),
    (None,) * 9,
]


def test_local_frame_collects_like_create_dataframe(spark):
    want = spark.createDataFrame(_PARITY_ROWS, _PARITY_DDL)
    got = local_frame(spark, _PARITY_ROWS, _PARITY_DDL)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_local_frame_rejects_ragged_rows(spark):
    with pytest.raises(ValueError, match="2 values for 1 field"):
        local_frame(spark, [("a", "b")], "s string")


def test_pgwire_decoded_values_collect_like_create_dataframe(spark):
    """Dates and naive timestamps as the pgwire decoders produce them
    keep their values under a session zone and a process zone that
    differ from each other and from UTC."""
    texts = {"timestamp": ["1996-03-31 01:30:00.123456",
                           "2024-10-27 02:30:00", None],
             "date": ["1996-02-29", "2024-10-27", None],
             "decimal(38,18)": ["1.5", "-0.000000000000000001", None],
             "smallint": ["3", "-32768", None],
             "float": ["2.5", "-0.125", None]}
    by_ddl = {t: dec for t, dec in pgwire._TYPES.values()}
    cols = list(texts)
    rows = [tuple(None if texts[t][i] is None else by_ddl[t](texts[t][i])
                  for t in cols) for i in range(3)]
    assert isinstance(rows[0][0], datetime.datetime)
    assert isinstance(rows[0][2], Decimal)
    ddl = ", ".join(f"`c{j}` {t}" for j, t in enumerate(cols))
    zone = spark.conf.get("spark.sql.session.timeZone")
    tz_env = os.environ.get("TZ")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        os.environ["TZ"] = "Europe/Berlin"
        time.tzset()
        want = spark.createDataFrame(rows, ddl).collect()
        got = local_frame(spark, rows, ddl).collect()
        assert got == want
        assert got[0][0] == rows[0][0]
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)
        if tz_env is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = tz_env
        time.tzset()


# ------------------------------------------------------------ source guard

def _frame_builders(tree: ast.Module, module: str) -> list[str]:
    """Every ``.createDataFrame(...)`` call outside
    ``session.local_frame`` and every ``.parallelize(...)`` call in
    ``tree``, as ``module:line name``."""
    bad: list[str] = []

    def walk(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name if func is None else func
        if isinstance(node, ast.Call) and \
                isinstance(node.func, ast.Attribute):
            name = node.func.attr
            if name == "parallelize" or (
                    name == "createDataFrame"
                    and (module, func) != ("session", "local_frame")):
                bad.append(f"{module}:{node.lineno} {name}")
        for child in ast.iter_child_nodes(node):
            walk(child, func)

    walk(tree, None)
    return bad


def test_driver_frames_are_built_only_by_local_frame():
    bad = []
    for dirpath, _dirs, files in os.walk(PACKAGE):
        for fname in sorted(files):
            if fname.endswith(".py"):
                full = os.path.join(dirpath, fname)
                with open(full) as f:
                    tree = ast.parse(f.read())
                mod = os.path.relpath(full, PACKAGE)[:-3] \
                    .replace(os.sep, ".")
                bad += _frame_builders(tree, mod)
    assert not bad, ("build driver-side frames with session.local_frame: "
                     f"{bad}")


def test_frame_builder_guard_catches_synthetic_module():
    src = textwrap.dedent("""
        def local_frame(spark, rows, schema):
            return spark.createDataFrame(rows, schema)
        def helper(spark):
            def inner():
                return spark.createDataFrame([], "a int")
            return spark.sparkContext.parallelize([1])
    """)
    tree = ast.parse(src)
    assert _frame_builders(tree, "session") == [
        "session:6 createDataFrame", "session:7 parallelize"]
    assert _frame_builders(tree, "operators.x") == [
        "operators.x:3 createDataFrame", "operators.x:6 createDataFrame",
        "operators.x:7 parallelize"]
