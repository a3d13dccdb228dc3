"""The one commit-log core (sources/logcore.py): its import rule, the
DataSource committer that now runs through it, and the deployment the
rule exists for — Spark's data-source worker processes reaching the
txnlog sources without the package on their path."""

from __future__ import annotations

import ast
import json
import os
import subprocess
import sys
import textwrap

import pytest

from docker_aktin_dwh_spark.sources import txnbatch, txnlog

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCES = os.path.join(REPO, "docker_aktin_dwh_spark", "sources")
#: modules whose classes travel to Spark's worker processes by value
SHIPPED = ("logcore", "txnbatch", "txnstream", "cdcstream", "deltastream")

_SCHEMA = json.dumps({"type": "struct", "fields": [
    {"name": "k", "type": "long", "nullable": True, "metadata": {}}]})


def _package_imports(tree: ast.Module) -> list[str]:
    """Every import of this package anywhere in ``tree`` (module level
    or inside functions), as the dotted name relative to sources/."""
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out += [a.name for a in node.names
                    if a.name.split(".")[0] == "docker_aktin_dwh_spark"]
        elif isinstance(node, ast.ImportFrom):
            if node.level == 0:
                if (node.module or "").split(".")[0] == \
                        "docker_aktin_dwh_spark":
                    out.append(node.module)
            elif node.level == 1 and node.module:
                out.append(f"docker_aktin_dwh_spark.sources.{node.module}")
            elif node.level == 1:
                out += [f"docker_aktin_dwh_spark.sources.{a.name}"
                        for a in node.names]
            else:
                out.append("." * node.level + (node.module or ""))
    return out


@pytest.mark.parametrize("name", SHIPPED)
def test_shipped_modules_import_only_logcore(name):
    """The DataSource modules import nothing from the package except
    logcore (which imports nothing from it at all), and each registers
    itself for pickling by value — otherwise Spark's streaming-source
    runner and batch planner fail with ModuleNotFoundError."""
    with open(os.path.join(SOURCES, f"{name}.py")) as f:
        tree = ast.parse(f.read())
    allowed = set() if name == "logcore" else {
        "docker_aktin_dwh_spark.sources.logcore"}
    bad = [m for m in _package_imports(tree) if m not in allowed]
    assert not bad, f"{name}.py imports {bad} from the package"
    ships = [n for n in tree.body
             if isinstance(n, ast.Expr) and isinstance(n.value, ast.Call)
             and getattr(n.value.func, "id", None) == "ship_by_value"]
    assert ships, f"{name}.py does not call ship_by_value(__name__)"


def test_import_guard_catches_function_level_package_import():
    tree = ast.parse(textwrap.dedent("""
        from .logcore import replay
        def partitions():
            from . import txnlog
            from ..session import build_session
    """))
    assert _package_imports(tree) == [
        "docker_aktin_dwh_spark.sources.logcore",
        "docker_aktin_dwh_spark.sources.txnlog", "..session"]


def _create(tbl: str, n_commits: int) -> None:
    """A txnlog table of ``n_commits`` commits whose every add carries
    key bounds, built with the commit primitive (no Spark)."""
    os.makedirs(txnlog._log_dir(tbl))
    for v in range(n_commits):
        payload = {"op": "create" if v == 0 else "append",
                   "add": [{"file": f"f{v}.parquet", "rows": 1,
                            "kmin": v, "kmax": v, "cols": {}}],
                   "remove": []}
        if v == 0:
            payload.update(key="k", schema=_SCHEMA)
        assert txnlog._try_commit(tbl, v, payload)


def _writer(tbl: str):
    return txnbatch.TxnlogBatchWriter(tbl, "k", False, False, _SCHEMA)


def test_datasource_checkpoint_keeps_key_bounds(tmp_path):
    """Regression: the DataSource committer's checkpoint dropped every
    file's kmin/kmax, so snapshots replayed from it stopped merge and
    update key-pruning without any error."""
    tbl = str(tmp_path / "tbl")
    _create(tbl, 10)
    _writer(tbl).commit([txnbatch._TxnWriteMessage([
        {"file": "w.parquet", "rows": 1, "kmin": 10, "kmax": 10,
         "cols": {}}])])
    with open(os.path.join(txnlog._log_dir(tbl),
                           txnlog._ckpt_name(10))) as f:
        ck = json.load(f)
    snap = txnlog.snapshot(tbl)
    assert snap.version == 10 and len(snap.files) == 11
    for files in (ck["files"], snap.files):
        for name, st in files.items():
            assert {"kmin", "kmax"} <= set(st), (name, st)
            assert st["kmin"] is not None and st["kmax"] is not None


def test_datasource_claim_below_truncation_floor_refused(tmp_path,
                                                         monkeypatch):
    """Regression: the DataSource committer lacked the truncation-floor
    guard — a committer stalled since v2 re-claimed the dropped v3
    after truncate_history, which txnlog's own commit refuses."""
    tbl = str(tmp_path / "tbl")
    _create(tbl, 18)
    stale = txnlog.snapshot(tbl, 2)
    r = txnlog.truncate_history(tbl, keep_last=1, retention_seconds=0)
    assert r["cut"] == 17
    v3 = os.path.join(txnlog._log_dir(tbl), txnlog._commit_name(3))
    # the committer, holding the stale view, never resurrects v3
    monkeypatch.setattr(txnbatch, "_meta", lambda table, version: stale)
    with pytest.raises(RuntimeError, match="version races"):
        _writer(tbl).commit([txnbatch._TxnWriteMessage([])])
    assert not os.path.exists(v3)
    # nor does its claim called directly
    from docker_aktin_dwh_spark.sources import logcore
    assert not logcore.commit(tbl, 3, {"op": "append", "add": [],
                                       "remove": []},
                              logcore.posix_link_claim)
    assert not os.path.exists(v3)
    assert txnlog._list_versions(tbl) == [17]


_DEPLOY = textwrap.dedent("""
    import json, os, sys
    sys.path.insert(0, sys.argv[1])
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master("local[2]")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.shuffle.partitions", "2").getOrCreate())
    from docker_aktin_dwh_spark.sources import (cdcstream, txnbatch,
                                                txnlog, txnstream)
    for m in (cdcstream, txnbatch, txnstream):
        m.register(spark)

    def rows(lo, hi, tag):
        return spark.range(lo, hi, numPartitions=1).selectExpr(
            "id AS k", f"'{tag}' AS v")

    def drain(fmt, tbl, **opts):
        r = spark.readStream.format(fmt).option("path", tbl)
        for k, v in opts.items():
            r = r.option(k, v)
        q = (r.load().writeStream.format("memory").queryName(fmt)
             .option("checkpointLocation", os.path.abspath(f"ck_{fmt}"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return spark.sql(f"SELECT * FROM {fmt}").count()

    out = {}
    tbl = os.path.abspath("tbl")
    txnlog.create_table(spark, rows(0, 100, "a"), tbl, key="k")
    txnlog.append(spark, rows(100, 150, "b"), tbl, key="k")
    for fmt, call in (("txnlog_stream", lambda: drain("txnlog_stream", tbl)),
                      ("txnlog", lambda: spark.read.format("txnlog")
                       .option("path", tbl).load().count())):
        try:
            out[fmt] = call()
        except Exception as e:
            out[fmt] = repr(e)[:300]
    txnlog.merge(spark, tbl, rows(0, 10, "m"), key="k")
    try:
        out["txnlog_cdc"] = drain("txnlog_cdc", tbl, key="k")
    except Exception as e:
        out["txnlog_cdc"] = repr(e)[:300]
    print("RESULT " + json.dumps(out))
    spark.stop()
""")


def test_sources_work_without_package_on_worker_path(tmp_path):
    """The deployment the import rule exists for: a Spark application
    that finds the repo only through its own sys.path, run from a
    foreign cwd with PYTHONPATH unset, so no Spark worker process can
    import the package.  The three txnlog DataSources still work: the append tail
    drains 150 rows, the batch source reads 150, and the change feed
    drains the append's 50 inserts plus the merge's 10 pre- and 10
    post-images."""
    script = tmp_path / "deploy.py"
    script.write_text(_DEPLOY)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    proc = subprocess.run([sys.executable, str(script), REPO],
                          cwd=tmp_path, env=env, capture_output=True,
                          text=True, timeout=600)
    lines = [ln for ln in proc.stdout.splitlines()
             if ln.startswith("RESULT ")]
    assert lines, proc.stderr[-3000:]
    got = json.loads(lines[-1][len("RESULT "):])
    assert got == {"txnlog_stream": 150, "txnlog": 150,
                   "txnlog_cdc": 70}, got
