"""Delta interop conformance matrix (r15, VERDICT r14 item 1).

No third-party Delta engine is installable in this image (no network:
DuckDB's delta extension, delta-rs and delta-spark jars are all
unreachable — re-probed here so the matrix lights up the moment one
appears), so the matrix closes the interop loop the declared fallback
way:

- **Roundtrip arm**: every export shape (plain, partitioned,
  column-mapped, live-DV inline AND on-disk, type-widened,
  checkpointed history) goes txnlog → export_delta_log →
  ``delta_import.import_delta_log`` → a NEW txnlog table, pinned equal
  to both the original table and the zero-shared-code independent
  reader over the export.  Import is a different code path from the
  reader (package-side, writes txnlog commits), so agreement is a
  THREE-way differential per shape.
- **Golden foreign fixtures arm**: Delta logs authored BY HAND in this
  file against the public PROTOCOL.md with shapes our exporter never
  emits — data files written by DuckDB (a foreign parquet writer),
  non-hive flat layouts for partitioned tables, commitInfo actions and
  unknown action fields, run-encoded DVs, vacuumed (checkpoint-only)
  histories, column mapping — read through BOTH the importer and the
  independent reader.
- **Refusal arm**: unknown reader features, columnMapping mode "id",
  absolute-path DV storage refuse loudly instead of mis-decoding.

Reference analogue: the broker exchange format is produced for AND
consumed from systems the DWH doesn't control (src/build.sh:255).
"""

import json
import os
import re
import struct
import sys
import tempfile

import duckdb
import pytest
from pyspark.sql import functions as F

from docker_aktin_dwh_spark.sources import (delta_export,
                                            delta_import, txnlog)

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from independent_delta_reader import read_delta_table  # noqa: E402


@pytest.fixture()
def tdir():
    with tempfile.TemporaryDirectory(prefix="deltaconf_") as d:
        yield os.path.join(d, "tbl")


def _mk(spark, lo, hi, tag="a"):
    return (spark.range(lo, hi).coalesce(2).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("int").alias("p"),
        F.concat(F.lit(tag), F.col("id").cast("string")).alias("v")))


def _rows(df):
    return sorted((tuple(r) for r in df.collect()),
                  key=lambda r: tuple((v is None, str(type(v)), v)
                                      for v in r))


def _three_way(spark, table, export):
    """Original txnlog table ≡ independent reader over the export ≡
    txnlog read over a fresh import of the export."""
    cols, ind_rows, _ = read_delta_table(export)
    imp_path = export + "_imp"
    delta_import.import_delta_log(spark, export, imp_path)
    got_orig = _rows(txnlog.read_table(spark, table).select(*cols))
    got_imp = _rows(txnlog.read_table(spark, imp_path).select(*cols))
    assert [tuple(r) for r in ind_rows] == [tuple(r) for r in got_orig]
    assert got_imp == got_orig
    return imp_path


def test_third_party_engines_still_absent():
    """The re-probe VERDICT asks for: if any third-party Delta reader
    becomes importable, this XPASSES and the matrix should grow a
    fourth arm through it."""
    probes = []
    try:
        import deltalake  # noqa: F401
        probes.append("deltalake")
    except ImportError:
        pass
    try:
        con = duckdb.connect()
        con.execute("LOAD delta")
        probes.append("duckdb-delta")
    except Exception:
        pass
    assert not probes, (
        f"third-party Delta engines now available: {probes} — add a "
        f"conformance arm reading every export shape through them")


# ------------------------------------------------------ roundtrip arm

def test_roundtrip_plain(spark, tdir):
    txnlog.create_table(spark, _mk(spark, 0, 300), tdir, key="k")
    txnlog.append(spark, _mk(spark, 300, 400, tag="b"), tdir, key="k")
    _three_way(spark, tdir, delta_export.export_delta_log(
        tdir, tdir + "_d"))


def test_roundtrip_partitioned(spark, tdir):
    snap = txnlog.create_table(spark, _mk(spark, 0, 300), tdir,
                               key="k", partition_by=["p"])
    assert snap.partition_by == ["p"]
    imp = _three_way(spark, tdir, delta_export.export_delta_log(
        tdir, tdir + "_d"))
    isnap = txnlog.snapshot(imp)
    assert isnap.partition_by == ["p"]
    # the imported table is a REAL partitioned txnlog table: pruning
    # and partition-scoped verbs work on it
    keep = txnlog.prune_files(isnap, [("p", "=", 1)])
    assert keep and all(n.startswith("p=1/") for n in keep)


def test_roundtrip_live_dv_inline_and_on_disk(spark, tdir):
    df = (spark.range(0, 2000).coalesce(1).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("int").alias("par"),
        F.concat(F.lit("a"), F.col("id").cast("string")).alias("v")))
    txnlog.create_table(spark, df, tdir, key="k")
    # sparse DV (inline) then scattered DV (> threshold, on-disk)
    txnlog.delete_range(spark, tdir, key="k", lo=5, hi=8)
    txnlog.delete_where(spark, tdir, key="k",
                        filters=[("par", "=", 2)])
    dest = delta_export.export_delta_log(tdir, tdir + "_d")
    imp = _three_way(spark, tdir, dest)
    # the import decoded DVs back to txnlog ranges — dead rows stay
    # dead through a subsequent write on the IMPORTED table
    txnlog.append(spark, df.filter("k = 5000"), imp, key="k")
    assert txnlog.read_table(spark, imp).filter("par = 2").count() == 0


def test_roundtrip_column_mapping_and_widened(spark, tdir):
    txnlog.create_table(spark, _mk(spark, 0, 200)
                        .withColumn("n", F.col("k").cast("int")),
                        tdir, key="k")
    txnlog.rename_column(spark, tdir, old="v", new="val")
    txnlog.widen_column_type(spark, tdir, column="n", to="long")
    dest = delta_export.export_delta_log(tdir, tdir + "_d")
    imp = _three_way(spark, tdir, dest)
    isnap = txnlog.snapshot(imp)
    assert isnap.colmap and isnap.colmap.get("val")
    got = txnlog.read_table(spark, imp)
    assert dict(got.dtypes)["n"] == "bigint", \
        "typeWidening: imported logical schema is the WIDE type"


def test_export_refuses_unreadable_file_of_widened_table(spark, tdir):
    """The only physically-narrow file of a widened column cannot be
    opened: the export raises naming it instead of exporting the
    column without its delta.typeChanges."""
    txnlog.create_table(spark, _mk(spark, 0, 50).coalesce(1)
                        .withColumn("n", F.col("k").cast("int")),
                        tdir, key="k")
    txnlog.widen_column_type(spark, tdir, column="n", to="long")
    [narrow] = txnlog.snapshot(tdir).files
    txnlog.append(spark, _mk(spark, 50, 60).withColumn("n", F.col("k")),
                  tdir, key="k")
    with open(os.path.join(tdir, narrow), "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(ValueError, match=re.escape(narrow)):
        delta_export.export_delta_log(tdir, tdir + "_d")


def test_roundtrip_checkpointed_history(spark, tdir):
    txnlog.create_table(spark, _mk(spark, 0, 50), tdir, key="k")
    for i in range(12):
        txnlog.append(spark, _mk(spark, 100 + 10 * i, 105 + 10 * i,
                                 tag=f"t{i}"), tdir, key="k")
    txnlog.merge(spark, tdir, _mk(spark, 0, 5, tag="m"), key="k")
    dest = delta_export.export_delta_history(tdir, tdir + "_h")
    assert os.path.exists(os.path.join(
        dest, "_delta_log", "_last_checkpoint"))
    _three_way(spark, tdir, dest)


def test_roundtrip_import_txns_survive(spark, tdir):
    txnlog.create_table(spark, _mk(spark, 0, 50), tdir, key="k")
    txnlog.append(spark, _mk(spark, 100, 110, tag="s"), tdir,
                  key="k", txn=("app-x", 7))
    dest = delta_export.export_delta_log(tdir, tdir + "_d")
    imp = _three_way(spark, tdir, dest)
    txns = txnlog.snapshot(imp).txns
    sync_markers = {a for a in txns if a.startswith("delta-import:")}
    assert len(sync_markers) == 1, \
        "import must leave exactly one sync progress marker"
    assert {a: v for a, v in txns.items()
            if a not in sync_markers} == {"app-x": 7}, \
        "exactly-once appIds must survive export → import"


# ------------------------------------------- golden foreign fixtures

def _duck_parquet(path, sql):
    con = duckdb.connect()
    con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")
    con.close()


def _write_log(log_dir, version, actions):
    os.makedirs(log_dir, exist_ok=True)
    with open(os.path.join(log_dir, f"{version:020d}.json"),
              "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")


_PROTO = {"minReaderVersion": 1, "minWriterVersion": 2}


def _meta(schema_fields, partition_cols=(), config=None, mid="m-1"):
    return {"id": mid, "format": {"provider": "parquet",
                                  "options": {}},
            "schemaString": json.dumps(
                {"type": "struct", "fields": schema_fields}),
            "partitionColumns": list(partition_cols),
            "configuration": config or {}, "createdTime": 0}


def _fld(name, typ, metadata=None):
    return {"name": name, "type": typ, "nullable": True,
            "metadata": metadata or {}}


def test_foreign_plain_duckdb_files(spark, tdir):
    """A Delta table written by a FOREIGN stack: DuckDB parquet files,
    commitInfo actions, unknown action fields, adds without stats —
    the importer and the independent reader agree with DuckDB's own
    view of the files."""
    t = os.path.join(tdir, "ft")
    os.makedirs(t)
    _duck_parquet(os.path.join(t, "part-0001.snappy.parquet"),
                  "SELECT range AS k, 'x' || range AS v "
                  "FROM range(0, 50)")
    _duck_parquet(os.path.join(t, "part-0002.snappy.parquet"),
                  "SELECT range AS k, 'y' || range AS v "
                  "FROM range(50, 80)")
    _write_log(os.path.join(t, "_delta_log"), 0, [
        {"commitInfo": {"operation": "WRITE",
                        "engineInfo": "foreign-engine/9.9"}},
        {"protocol": _PROTO},
        {"metaData": _meta([_fld("k", "long"), _fld("v", "string")])},
        {"add": {"path": "part-0001.snappy.parquet",
                 "partitionValues": {}, "size": 1, "tags": {"z": "1"},
                 "modificationTime": 0, "dataChange": True}},
        {"add": {"path": "part-0002.snappy.parquet",
                 "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ])
    # a second commit REMOVES one file (remove carries spec-optional
    # extendedFileMetadata fields the replay must tolerate)
    _write_log(os.path.join(t, "_delta_log"), 1, [
        {"commitInfo": {"operation": "DELETE"}},
        {"remove": {"path": "part-0002.snappy.parquet",
                    "deletionTimestamp": 1, "dataChange": True,
                    "extendedFileMetadata": True,
                    "partitionValues": {}, "size": 1}},
    ])
    cols, rows, _ = read_delta_table(t)
    assert cols == ["k", "v"] and len(rows) == 50
    imp = delta_import.import_delta_log(spark, t, t + "_imp", key="k")
    got = _rows(txnlog.read_table(spark, t + "_imp"))
    assert [tuple(r) for r in rows] == got
    assert imp.key == "k"
    # the imported table takes ordinary txnlog writes ([lo, hi))
    txnlog.delete_range(spark, t + "_imp", key="k", lo=0, hi=10)
    assert txnlog.read_table(spark, t + "_imp").count() == 40


def test_foreign_partitioned_non_hive_layout(spark, tdir):
    """Delta does NOT require hive dir layout — partition values live
    in the log.  Foreign fixture: FLAT file names, partition column
    absent from the files, one null partition value.  The importer
    rebuilds txnlog's hive layout from the log."""
    t = os.path.join(tdir, "fp")
    os.makedirs(t)
    _duck_parquet(os.path.join(t, "f1.parquet"),
                  "SELECT range AS k, 'a' || range AS v "
                  "FROM range(0, 10)")
    _duck_parquet(os.path.join(t, "f2.parquet"),
                  "SELECT range AS k, 'b' || range AS v "
                  "FROM range(10, 20)")
    _duck_parquet(os.path.join(t, "f3.parquet"),
                  "SELECT range AS k, 'c' || range AS v "
                  "FROM range(20, 25)")
    _write_log(os.path.join(t, "_delta_log"), 0, [
        {"protocol": _PROTO},
        {"metaData": _meta(
            [_fld("k", "long"), _fld("cat", "string"),
             _fld("v", "string")], partition_cols=["cat"])},
        {"add": {"path": "f1.parquet",
                 "partitionValues": {"cat": "x y"}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
        {"add": {"path": "f2.parquet",
                 "partitionValues": {"cat": "p=q%r"}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
        {"add": {"path": "f3.parquet",
                 "partitionValues": {"cat": None}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ])
    cols, rows, _ = read_delta_table(t)
    snap = delta_import.import_delta_log(spark, t, t + "_imp")
    got = txnlog.read_table(spark, t + "_imp")
    assert _rows(got.select(*cols)) == [tuple(r) for r in rows]
    assert {r.cat for r in got.select("cat").distinct().collect()} \
        == {"x y", "p=q%r", None}
    assert snap.partition_by == ["cat"]
    keep = txnlog.prune_files(snap, [("cat", "=", "x y")])
    assert len(keep) == 1, "imported pv must drive partition pruning"


def test_foreign_run_encoded_dv(spark, tdir):
    """A foreign writer that run-encodes DVs even where an array would
    be smaller (delta-spark's RoaringBitmapArray does exactly this for
    consecutive deletes) — hand-packed run bitmap, not our
    serializer."""
    t = os.path.join(tdir, "fd")
    os.makedirs(t)
    _duck_parquet(os.path.join(t, "d1.parquet"),
                  "SELECT range AS k, 'v' || range AS v "
                  "FROM range(0, 30)")
    # dead rows 3..7 and 12 as ONE run container (2 runs)
    bm = struct.pack("<HH", 12347, 0)            # run cookie, 1 cont.
    bm += bytes([0b1])                           # run flag
    bm += struct.pack("<HH", 0, 5)               # key 0, card-1
    bm += struct.pack("<H", 2)                   # 2 runs
    bm += struct.pack("<HH", 3, 4)               # 3..7
    bm += struct.pack("<HH", 12, 0)              # 12..12
    data = (struct.pack("<i", 1681511377) + struct.pack("<q", 1)
            + struct.pack("<i", 0) + bm)
    desc = {"storageType": "i",
            "pathOrInlineDv": delta_export.z85_encode(data),
            "sizeInBytes": len(data), "cardinality": 6}
    _write_log(os.path.join(t, "_delta_log"), 0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]}},
        {"metaData": _meta([_fld("k", "long"), _fld("v", "string")])},
        {"add": {"path": "d1.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 0, "dataChange": True,
                 "deletionVector": desc}},
    ])
    cols, rows, _ = read_delta_table(t)
    assert len(rows) == 24
    delta_import.import_delta_log(spark, t, t + "_imp")
    got = txnlog.read_table(spark, t + "_imp")
    assert _rows(got.select(*cols)) == [tuple(r) for r in rows]
    assert {r.k for r in got.select("k").collect()} \
        == set(range(30)) - {3, 4, 5, 6, 7, 12}


def test_foreign_vacuumed_checkpoint_only_history(spark, tdir):
    """A foreign table whose pre-checkpoint JSON commits were vacuumed
    away: _last_checkpoint + N.checkpoint.parquet + newer commits only.
    The checkpoint is authored with pyarrow in a field order and
    row order our exporter never uses."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = os.path.join(tdir, "fc")
    log_dir = os.path.join(t, "_delta_log")
    os.makedirs(log_dir)
    _duck_parquet(os.path.join(t, "c1.parquet"),
                  "SELECT range AS k, range * 2 AS twice "
                  "FROM range(0, 40)")
    _duck_parquet(os.path.join(t, "c2.parquet"),
                  "SELECT range AS k, range * 2 AS twice "
                  "FROM range(40, 60)")
    meta = _meta([_fld("k", "long"), _fld("twice", "long")])
    # checkpoint rows: txn FIRST, adds before protocol/meta — order is
    # free per spec; struct fields in a foreign order
    rows = [
        {"txn": {"appId": "stream-7", "version": 42}, "add": None,
         "metaData": None, "protocol": None, "remove": None},
        {"add": {"path": "c1.parquet", "partitionValues": [],
                 "size": 9, "modificationTime": 5, "dataChange": True,
                 "stats": None, "deletionVector": None},
         "txn": None, "metaData": None, "protocol": None,
         "remove": None},
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2,
                      "readerFeatures": None, "writerFeatures": None},
         "txn": None, "add": None, "metaData": None, "remove": None},
        {"metaData": {**meta,
                      "configuration": [],
                      "format": {"provider": "parquet",
                                 "options": []}},
         "txn": None, "add": None, "protocol": None, "remove": None},
    ]
    dv = pa.struct([("storageType", pa.string()),
                    ("pathOrInlineDv", pa.string()),
                    ("offset", pa.int32()),
                    ("sizeInBytes", pa.int32()),
                    ("cardinality", pa.int64())])
    schema = pa.schema([
        ("txn", pa.struct([("appId", pa.string()),
                           ("version", pa.int64())])),
        ("add", pa.struct([
            ("path", pa.string()),
            ("partitionValues", pa.map_(pa.string(), pa.string())),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
            ("stats", pa.string()),
            ("deletionVector", dv)])),
        ("metaData", pa.struct([
            ("id", pa.string()),
            ("format", pa.struct([
                ("provider", pa.string()),
                ("options", pa.map_(pa.string(), pa.string()))])),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", pa.map_(pa.string(), pa.string())),
            ("createdTime", pa.int64())])),
        ("protocol", pa.struct([
            ("minReaderVersion", pa.int32()),
            ("minWriterVersion", pa.int32()),
            ("readerFeatures", pa.list_(pa.string())),
            ("writerFeatures", pa.list_(pa.string()))])),
        ("remove", pa.struct([("path", pa.string()),
                              ("deletionTimestamp", pa.int64()),
                              ("dataChange", pa.bool_())])),
    ])
    pq.write_table(pa.Table.from_pylist(rows, schema=schema),
                   os.path.join(log_dir,
                                f"{3:020d}.checkpoint.parquet"))
    with open(os.path.join(log_dir, "_last_checkpoint"), "w") as f:
        json.dump({"version": 3, "size": len(rows)}, f)
    # commits 0..3 vacuumed; only commit 4 (a newer add) remains
    _write_log(log_dir, 4, [
        {"add": {"path": "c2.parquet", "partitionValues": {},
                 "size": 9, "modificationTime": 6,
                 "dataChange": True}},
    ])
    cols, rows_r, txns = read_delta_table(t)
    assert len(rows_r) == 60 and txns == {"stream-7": 42}
    snap = delta_import.import_delta_log(spark, t, t + "_imp")
    got = txnlog.read_table(spark, t + "_imp")
    assert _rows(got.select(*cols)) == [tuple(r) for r in rows_r]
    assert {a: v for a, v in snap.txns.items()
            if not a.startswith("delta-import:")} == \
        {"stream-7": 42}, \
        "appId watermarks must survive a checkpoint-only import"


def test_foreign_column_mapping_name_mode(spark, tdir):
    """Foreign column-mapped table: physical file columns are opaque
    ids, logical names only in the schema metadata."""
    t = os.path.join(tdir, "fm")
    os.makedirs(t)
    _duck_parquet(os.path.join(t, "m1.parquet"),
                  "SELECT range AS \"col-7f3a\", "
                  "'n' || range AS \"col-9b2c\" FROM range(0, 15)")
    fields = [
        _fld("id", "long", {"delta.columnMapping.id": 1,
                            "delta.columnMapping.physicalName":
                            "col-7f3a"}),
        _fld("name", "string", {"delta.columnMapping.id": 2,
                                "delta.columnMapping.physicalName":
                                "col-9b2c"}),
    ]
    _write_log(os.path.join(t, "_delta_log"), 0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["columnMapping"],
                      "writerFeatures": ["columnMapping"]}},
        {"metaData": _meta(fields, config={
            "delta.columnMapping.mode": "name",
            "delta.columnMapping.maxColumnId": "2"})},
        {"add": {"path": "m1.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 0,
                 "dataChange": True}},
    ])
    cols, rows, _ = read_delta_table(t)
    assert cols == ["id", "name"]
    snap = delta_import.import_delta_log(spark, t, t + "_imp",
                                         key="id")
    assert snap.colmap == {"id": "col-7f3a", "name": "col-9b2c"}
    got = txnlog.read_table(spark, t + "_imp")
    assert got.columns == ["id", "name"]
    assert _rows(got) == [tuple(r) for r in rows]
    # logical rename on the IMPORTED mapping still works
    txnlog.rename_column(spark, t + "_imp", old="name", new="label")
    assert txnlog.read_table(spark, t + "_imp").columns \
        == ["id", "label"]


# ------------------------------------------------------- refusal arm

def _tiny_foreign(tdir, protocol, config=None, dv_desc=None):
    t = os.path.join(tdir, "rf")
    os.makedirs(t, exist_ok=True)
    _duck_parquet(os.path.join(t, "r1.parquet"),
                  "SELECT range AS k FROM range(0, 5)")
    add = {"path": "r1.parquet", "partitionValues": {}, "size": 1,
           "modificationTime": 0, "dataChange": True}
    if dv_desc:
        add["deletionVector"] = dv_desc
    _write_log(os.path.join(t, "_delta_log"), 0, [
        {"protocol": protocol},
        {"metaData": _meta([_fld("k", "long")], config=config)},
        {"add": add},
    ])
    return t


_V2_CHECKPOINT = {"minReaderVersion": 3, "minWriterVersion": 7,
                  "readerFeatures": ["v2Checkpoint"],
                  "writerFeatures": ["v2Checkpoint"]}


@pytest.mark.parametrize("entry", ["import", "sync", "stream"])
def test_refuses_unknown_reader_feature(spark, tdir, entry):
    """One reader-protocol gate: the import refuses a v0 protocol with
    an unknown reader feature; the sync and a running stream refuse
    the same protocol arriving as a v1 upgrade."""
    if entry == "import":
        t = _tiny_foreign(tdir, _V2_CHECKPOINT)
        with pytest.raises(NotImplementedError, match="v2Checkpoint"):
            delta_import.import_delta_log(spark, t, t + "_imp")
        with pytest.raises(NotImplementedError, match="v2Checkpoint"):
            read_delta_table(t)
        return
    t = _tiny_foreign(tdir, _PROTO)
    log = os.path.join(t, "_delta_log")
    if entry == "sync":
        delta_import.import_delta_log(spark, t, t + "_imp")
        _write_log(log, 1, [{"protocol": _V2_CHECKPOINT}])
        with pytest.raises(NotImplementedError, match="v2Checkpoint"):
            delta_import.sync_delta_log(spark, t, t + "_imp")
        return
    from docker_aktin_dwh_spark.sources import deltastream
    deltastream.register(spark)
    q = (spark.readStream.format("delta_stream").option("path", t)
         .load().writeStream.format("memory")
         .queryName("delta_stream_gate")
         .option("checkpointLocation", os.path.join(tdir, "ck"))
         .trigger(processingTime="200 milliseconds").start())
    try:
        q.processAllAvailable()
        assert spark.table("delta_stream_gate").count() == 5
        _write_log(log, 1, [{"protocol": _V2_CHECKPOINT}])
        with pytest.raises(Exception, match="v2Checkpoint"):
            q.processAllAvailable()
    finally:
        q.stop()


def test_refuses_id_column_mapping(spark, tdir):
    t = _tiny_foreign(tdir, _PROTO,
                      config={"delta.columnMapping.mode": "id"})
    with pytest.raises(NotImplementedError, match="id"):
        delta_import.import_delta_log(spark, t, t + "_imp")


def test_refuses_absolute_path_dv(spark, tdir):
    t = _tiny_foreign(
        tdir,
        {"minReaderVersion": 3, "minWriterVersion": 7,
         "readerFeatures": ["deletionVectors"],
         "writerFeatures": ["deletionVectors"]},
        dv_desc={"storageType": "p",
                 "pathOrInlineDv": "s3a://bucket/dv.bin",
                 "sizeInBytes": 40, "cardinality": 6})
    with pytest.raises(NotImplementedError, match="storageType"):
        delta_import.import_delta_log(spark, t, t + "_imp")


def test_import_refuses_bad_key_and_existing_dest(spark, tdir):
    t = _tiny_foreign(tdir, _PROTO)
    with pytest.raises(ValueError, match="not a schema column"):
        delta_import.import_delta_log(spark, t, t + "_i1",
                                      key="nope")
    delta_import.import_delta_log(spark, t, t + "_i2")
    with pytest.raises(txnlog.CommitConflictError,
                       match="already created"):
        delta_import.import_delta_log(spark, t, t + "_i2")


# --------------------------------------- incremental sync (r15 late)

def _sync_fixture_v0(t):
    """Foreign partitioned table, flat (non-hive) layout: f0 p=0
    k 0..29, f1 p=1 k 100..119."""
    os.makedirs(t)
    _duck_parquet(os.path.join(t, "f0.parquet"),
                  "SELECT range AS k, 'a' || range AS v "
                  "FROM range(0, 30)")
    _duck_parquet(os.path.join(t, "f1.parquet"),
                  "SELECT range AS k, 'b' || range AS v "
                  "FROM range(100, 120)")
    _write_log(os.path.join(t, "_delta_log"), 0, [
        {"protocol": _PROTO},
        {"metaData": _meta(
            [_fld("k", "long"), _fld("v", "string"),
             _fld("p", "integer")], partition_cols=["p"])},
        {"add": {"path": "f0.parquet", "partitionValues": {"p": "0"},
                 "size": 1, "modificationTime": 0,
                 "dataChange": True}},
        {"add": {"path": "f1.parquet", "partitionValues": {"p": "1"},
                 "size": 1, "modificationTime": 0,
                 "dataChange": True}},
    ])


def _assert_synced(spark, t, dest):
    cols, rows, _ = read_delta_table(t)
    got = _rows(txnlog.read_table(spark, dest).select(*cols))
    assert [tuple(r) for r in rows] == got, \
        "sync must track the foreign table's current state"


def test_sync_foreign_incremental(spark, tdir):
    """Continuous replication off an externally-written Delta log:
    append, rewrite-delete, DV-on-existing-file and schema-evolution
    commits land AFTER the import, each synced as one txnlog commit,
    pinned ≡ the independent reader at every step; progress rides the
    exactly-once txn channel so re-sync is a no-op."""
    t = os.path.join(tdir, "ft")
    _sync_fixture_v0(t)
    dest = t + "_imp"
    delta_import.import_delta_log(spark, t, dest, key="k")
    assert delta_import.sync_delta_log(spark, t, dest) is None

    # foreign v1: append + an exactly-once txn watermark
    _duck_parquet(os.path.join(t, "f2.parquet"),
                  "SELECT range AS k, 'c' || range AS v "
                  "FROM range(200, 205)")
    _write_log(os.path.join(t, "_delta_log"), 1, [
        {"commitInfo": {"operation": "WRITE"}},
        {"txn": {"appId": "up-1", "version": 3}},
        {"add": {"path": "f2.parquet", "partitionValues": {"p": "0"},
                 "size": 1, "modificationTime": 1,
                 "dataChange": True}},
    ])
    snap = delta_import.sync_delta_log(spark, t, dest)
    assert snap.txns["up-1"] == 3
    _assert_synced(spark, t, dest)

    # foreign v2: rewrite-delete of the p=1 file (k 112..114 gone)
    _duck_parquet(os.path.join(t, "f3.parquet"),
                  "SELECT range AS k, 'b' || range AS v "
                  "FROM range(100, 120) WHERE range NOT IN "
                  "(112, 113, 114)")
    _write_log(os.path.join(t, "_delta_log"), 2, [
        {"remove": {"path": "f1.parquet", "deletionTimestamp": 2,
                    "dataChange": True}},
        {"add": {"path": "f3.parquet", "partitionValues": {"p": "1"},
                 "size": 1, "modificationTime": 2,
                 "dataChange": True}},
    ])
    # foreign v3: merge-on-read delete — f0 gains a run-encoded DV
    # (dead ranks 3..7 and 12), the hand-packed foreign form
    bm = struct.pack("<HH", 12347, 0)
    bm += bytes([0b1])
    bm += struct.pack("<HH", 0, 5)
    bm += struct.pack("<H", 2)
    bm += struct.pack("<HH", 3, 4)
    bm += struct.pack("<HH", 12, 0)
    data = (struct.pack("<i", 1681511377) + struct.pack("<q", 1)
            + struct.pack("<i", 0) + bm)
    desc = {"storageType": "i",
            "pathOrInlineDv": delta_export.z85_encode(data),
            "sizeInBytes": len(data), "cardinality": 6}
    _write_log(os.path.join(t, "_delta_log"), 3, [
        {"remove": {"path": "f0.parquet", "deletionTimestamp": 3,
                    "dataChange": True}},
        {"add": {"path": "f0.parquet", "partitionValues": {"p": "0"},
                 "size": 1, "modificationTime": 3,
                 "dataChange": True, "deletionVector": desc}},
    ])
    v_before = txnlog.snapshot(dest).version
    snap = delta_import.sync_delta_log(spark, t, dest)
    # one txnlog commit per foreign version (CDC at native granularity)
    assert snap.version == v_before + 2
    _assert_synced(spark, t, dest)
    ks = {r.k for r in txnlog.read_table(spark, dest)
          .select("k").collect()}
    assert ks == ((set(range(30)) - {3, 4, 5, 6, 7, 12})
                  | (set(range(100, 120)) - {112, 113, 114})
                  | set(range(200, 205)))

    # foreign v4: schema evolution (added column) + a file carrying it
    _duck_parquet(os.path.join(t, "f4.parquet"),
                  "SELECT range AS k, 'd' || range AS v, "
                  "'w' || range AS w FROM range(300, 305)")
    _write_log(os.path.join(t, "_delta_log"), 4, [
        {"metaData": _meta(
            [_fld("k", "long"), _fld("v", "string"),
             _fld("w", "string"), _fld("p", "integer")],
            partition_cols=["p"])},
        {"add": {"path": "f4.parquet", "partitionValues": {"p": "1"},
                 "size": 1, "modificationTime": 4,
                 "dataChange": True}},
    ])
    delta_import.sync_delta_log(spark, t, dest)
    _assert_synced(spark, t, dest)
    got = txnlog.read_table(spark, dest)
    assert "w" in got.columns
    assert got.filter(F.col("w").isNotNull()).count() == 5

    # exactly-once: nothing new → None, state untouched
    assert delta_import.sync_delta_log(spark, t, dest) is None
    _assert_synced(spark, t, dest)
    # the synced table keeps taking ordinary txnlog writes
    txnlog.delete_range(spark, dest, key="k", lo=200, hi=205)
    assert txnlog.read_table(spark, dest).count() == \
        len(ks) - 5 + 5   # -f2's five, +f4's five


def test_sync_refuses_gap_and_foreign_tables(spark, tdir):
    t = os.path.join(tdir, "ft")
    _sync_fixture_v0(t)
    dest = t + "_imp"
    delta_import.import_delta_log(spark, t, dest, key="k")
    # a non-imported txnlog table has no progress marker
    other = os.path.join(tdir, "plain")
    txnlog.create_table(spark, _mk(spark, 0, 10), other, key="k")
    with pytest.raises(ValueError, match="import_delta_log"):
        delta_import.sync_delta_log(spark, t, other)
    # source vacuumed past the cursor: v1 missing, v2 present
    _duck_parquet(os.path.join(t, "f9.parquet"),
                  "SELECT range AS k, 'z' AS v FROM range(400, 405)")
    _write_log(os.path.join(t, "_delta_log"), 2, [
        {"add": {"path": "f9.parquet", "partitionValues": {"p": "0"},
                 "size": 1, "modificationTime": 9,
                 "dataChange": True}},
    ])
    with pytest.raises(ValueError, match="gap"):
        delta_import.sync_delta_log(spark, t, dest)


def test_sync_feeds_live_stream_replication(spark, tdir):
    """The composition the sync exists for: a FOREIGN engine writes a
    Delta table; sync_delta_log replicates its commits into txnlog;
    a Structured Streaming query over the commit-log source tails the
    synced table into a downstream txnlog sink exactly-once — a live
    pipeline off a table some other engine owns, with a restart
    replaying nothing."""
    from docker_aktin_dwh_spark.sources import txnbatch, txnstream
    txnbatch.register(spark)
    txnstream.register(spark)
    t = os.path.join(tdir, "ft")
    _sync_fixture_v0(t)
    dest = t + "_imp"
    replica = t + "_replica"
    delta_import.import_delta_log(spark, t, dest, key="k")

    def run():
        q = (spark.readStream.format("txnlog_stream")
             .option("path", dest).load()
             .drop("_commit_version")
             .writeStream.format("txnlog")
             .option("path", replica).option("key", "k")
             .option("txnAppId", "fsync-repl")
             .option("checkpointLocation",
                     os.path.join(tdir, "ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination()

    run()
    assert txnlog.read_table(spark, replica).count() == 50
    # the foreign engine appends; sync + next trigger propagate it
    _duck_parquet(os.path.join(t, "f2.parquet"),
                  "SELECT range AS k, 'c' || range AS v "
                  "FROM range(200, 205)")
    _write_log(os.path.join(t, "_delta_log"), 1, [
        {"add": {"path": "f2.parquet", "partitionValues": {"p": "0"},
                 "size": 1, "modificationTime": 1,
                 "dataChange": True}},
    ])
    delta_import.sync_delta_log(spark, t, dest)
    run()
    rep = txnlog.read_table(spark, replica)
    assert rep.count() == 55
    cols, rows, _ = read_delta_table(t)
    assert _rows(rep.select(*cols)) == [tuple(r) for r in rows]
    # restart delivers nothing new
    run()
    assert txnlog.read_table(spark, replica).count() == 55
    # the foreign engine OPTIMIZEs (dataChange=false rewrite): the
    # synced commit is marked no-data and the stream SKIPS it —
    # no error, no re-delivery (Delta stream parity)
    _duck_parquet(os.path.join(t, "opt.parquet"),
                  "SELECT * FROM read_parquet("
                  f"['{t}/f0.parquet', '{t}/f2.parquet'])")
    _write_log(os.path.join(t, "_delta_log"), 2, [
        {"commitInfo": {"operation": "OPTIMIZE"}},
        {"remove": {"path": "f0.parquet", "deletionTimestamp": 2,
                    "dataChange": False}},
        {"remove": {"path": "f2.parquet", "deletionTimestamp": 2,
                    "dataChange": False}},
        {"add": {"path": "opt.parquet", "partitionValues": {"p": "0"},
                 "size": 1, "modificationTime": 2,
                 "dataChange": False}},
    ])
    snap = delta_import.sync_delta_log(spark, t, dest)
    assert "p=0/opt.parquet" in snap.files and len(snap.files) == 2
    run()
    rep = txnlog.read_table(spark, replica)
    assert rep.count() == 55
    cols, rows, _ = read_delta_table(t)
    assert _rows(rep.select(*cols)) == [tuple(r) for r in rows]


def test_export_history_marks_compact_no_data(spark, tdir):
    """txnlog compact → export_delta_history: that version's exported
    file actions carry dataChange=false (Delta's OPTIMIZE contract),
    and the full replay still reconciles."""
    txnlog.create_table(spark, _mk(spark, 0, 40), tdir, key="k")
    txnlog.append(spark, _mk(spark, 40, 80, tag="b"), tdir, key="k")
    txnlog.compact(spark, tdir, key="k", target_files=1)
    dest = delta_export.export_delta_history(tdir, tdir + "_h")
    with open(os.path.join(dest, "_delta_log",
                           f"{2:020d}.json")) as f:
        acts = [json.loads(l) for l in f if l.strip()]
    file_acts = [a for a in acts if "add" in a or "remove" in a]
    assert file_acts and all(
        (a.get("add") or a["remove"])["dataChange"] is False
        for a in file_acts), \
        "compact's exported actions must be dataChange=false"
    _three_way(spark, tdir, dest)


def test_sync_concurrent_callers_apply_each_version_once(spark, tdir):
    """Two sync_delta_log callers race over the same three pending
    foreign commits: whatever the interleaving, every foreign version
    lands as EXACTLY ONE sync commit (the claim loop re-reads the
    progress watermark and drops already-replicated versions), so the
    change feed never sees a foreign commit twice."""
    from concurrent.futures import ThreadPoolExecutor

    t = os.path.join(tdir, "ft")
    _sync_fixture_v0(t)
    dest = t + "_imp"
    delta_import.import_delta_log(spark, t, dest, key="k")
    for i in (1, 2, 3):
        _duck_parquet(os.path.join(t, f"g{i}.parquet"),
                      f"SELECT {1000 * i} + range AS k, "
                      f"'g' AS v FROM range(10)")
        _write_log(os.path.join(t, "_delta_log"), i, [
            {"add": {"path": f"g{i}.parquet",
                     "partitionValues": {"p": "0"}, "size": 1,
                     "modificationTime": i, "dataChange": True}},
        ])
    with ThreadPoolExecutor(max_workers=2) as ex:
        list(ex.map(
            lambda _i: delta_import.sync_delta_log(spark, t, dest),
            range(2)))
    snap = txnlog.snapshot(dest)
    assert snap.txns["delta-import:m-1"] == 3
    hist = txnlog.describe_history(spark, dest).collect()
    assert sum(1 for r in hist if r.op == "sync") == 3, \
        "each foreign version must be replicated exactly once"
    assert txnlog.read_table(spark, dest).count() == 80
    _assert_synced(spark, t, dest)


def test_import_version_validation_and_retry(spark, tdir):
    """Post-review r15: a pinned version above the latest foreign
    commit (or over a hole) refuses instead of silently importing a
    different state and poisoning the sync cursor; a refusal mid-
    materialization leaves a RETRYABLE dest (hardlinks are
    idempotent, the log dir is created last)."""
    t = os.path.join(tdir, "ft")
    _sync_fixture_v0(t)
    dest = t + "_imp"
    with pytest.raises(ValueError, match="missing commit"):
        delta_import.import_delta_log(spark, t, dest, version=50)
    # the failed attempt left no log dir → the same dest retries fine
    snap = delta_import.import_delta_log(spark, t, dest, key="k")
    assert snap.version == 0
    assert txnlog.read_table(spark, dest).count() == 50
    # a hole INSIDE the replay run also refuses (v1 missing, v2 on)
    _duck_parquet(os.path.join(t, "h2.parquet"),
                  "SELECT range AS k, 'h' AS v FROM range(500, 505)")
    _write_log(os.path.join(t, "_delta_log"), 2, [
        {"add": {"path": "h2.parquet", "partitionValues": {"p": "0"},
                 "size": 1, "modificationTime": 2,
                 "dataChange": True}},
    ])
    with pytest.raises(ValueError, match="missing"):
        delta_import.import_delta_log(spark, t, t + "_imp2")
    with pytest.raises(ValueError, match="gap"):
        delta_import.sync_delta_log(spark, t, dest)


def test_import_marker_ignores_commit_racing_the_import(
        spark, tdir, monkeypatch):
    """A foreign commit landing while the import materializes files is
    the next sync's to deliver: the progress marker records the
    version the import replayed, not a later listing of the log."""
    t = os.path.join(tdir, "ft")
    _sync_fixture_v0(t)
    _duck_parquet(os.path.join(t, "f2.parquet"),
                  "SELECT range AS k, 'c' || range AS v "
                  "FROM range(200, 205)")
    real = delta_import._materialize_add

    def racing(*a, **kw):
        _write_log(os.path.join(t, "_delta_log"), 1, [
            {"add": {"path": "f2.parquet",
                     "partitionValues": {"p": "0"}, "size": 1,
                     "modificationTime": 1, "dataChange": True}}])
        return real(*a, **kw)

    monkeypatch.setattr(delta_import, "_materialize_add", racing)
    dest = t + "_imp"
    snap = delta_import.import_delta_log(spark, t, dest, key="k")
    monkeypatch.undo()
    assert snap.txns["delta-import:m-1"] == 0
    assert txnlog.read_table(spark, dest).count() == 50
    delta_import.sync_delta_log(spark, t, dest)
    assert txnlog.read_table(spark, dest).count() == 55
    _assert_synced(spark, t, dest)


def _checkpointed_foreign(t, json_versions):
    """A partitioned foreign table whose log was cleaned below a
    checkpoint at v2 (files c0..c2, an extra schema column ``w`` no
    file carries), plus JSON commits adding c<v> for each of
    ``json_versions``."""
    log = os.path.join(t, "_delta_log")
    os.makedirs(log)

    def add(i):
        _duck_parquet(os.path.join(t, f"c{i}.parquet"),
                      f"SELECT {100 * i} + range AS k, 'c{i}' AS v "
                      f"FROM range(4)")
        return {"add": {"path": f"c{i}.parquet",
                        "partitionValues": {"p": str(i % 2)},
                        "size": 1, "modificationTime": i,
                        "dataChange": True}}

    delta_export._write_checkpoint(log, 2, [
        {"protocol": _PROTO},
        {"metaData": _meta([_fld("k", "long"), _fld("v", "string"),
                            _fld("w", "string"), _fld("p", "integer")],
                           partition_cols=["p"])},
    ] + [add(i) for i in range(3)])
    for v in json_versions:
        _write_log(log, v, [add(v)])


def test_import_marker_of_checkpoint_only_log(spark, tdir):
    """Every JSON commit log-cleaned below the checkpoint at v2: the
    import records v2, so the next foreign commit syncs instead of
    reporting v1 as a gap."""
    t = os.path.join(tdir, "ft")
    _checkpointed_foreign(t, [])
    dest = t + "_imp"
    snap = delta_import.import_delta_log(spark, t, dest, key="k")
    assert snap.txns["delta-import:m-1"] == 2
    assert delta_import.sync_delta_log(spark, t, dest) is None
    _duck_parquet(os.path.join(t, "c3.parquet"),
                  "SELECT 300 + range AS k, 'c3' AS v FROM range(4)")
    _write_log(os.path.join(t, "_delta_log"), 3, [
        {"add": {"path": "c3.parquet", "partitionValues": {"p": "1"},
                 "size": 1, "modificationTime": 3,
                 "dataChange": True}}])
    delta_import.sync_delta_log(spark, t, dest)
    assert txnlog.read_table(spark, dest).count() == 16
    _assert_synced(spark, t, dest)


def test_refuses_nested_column_mapping(spark, tdir):
    """columnMapping mode 'name' with physicalNames INSIDE a struct:
    txnlog's colmap is top-level only — importing would mis-decode,
    so the importer refuses (post-review r15)."""
    t = os.path.join(tdir, "ft")
    os.makedirs(t)
    nested = {"type": "struct", "fields": [
        {"name": "inner", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.id": 2,
                      "delta.columnMapping.physicalName":
                          "col-inner-xyz"}}]}
    _write_log(os.path.join(t, "_delta_log"), 0, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5,
                      "readerFeatures": ["columnMapping"],
                      "writerFeatures": ["columnMapping"]}},
        {"metaData": _meta(
            [_fld("k", "long",
                  {"delta.columnMapping.id": 1,
                   "delta.columnMapping.physicalName": "col-k"}),
             _fld("s", nested,
                  {"delta.columnMapping.id": 3,
                   "delta.columnMapping.physicalName": "col-s"})],
            config={"delta.columnMapping.mode": "name"})},
    ])
    with pytest.raises(NotImplementedError, match="NESTED"):
        delta_import.import_delta_log(spark, t, t + "_imp")


def test_sync_work_proportional_to_churn(spark, tdir, monkeypatch):
    """Scale property: syncing ONE new foreign commit over an
    imported table does work ∝ that commit's actions, not table size
    — exactly one new file is stat'd/linked regardless of how many
    live files the table already holds (the 100 TB continuous-
    replication contract)."""
    t = os.path.join(tdir, "ft")
    os.makedirs(t)
    log = os.path.join(t, "_delta_log")
    adds = []
    for i in range(40):
        _duck_parquet(os.path.join(t, f"w{i}.parquet"),
                      f"SELECT {100 * i} + range AS k, 'x' AS v "
                      f"FROM range(5)")
        adds.append({"add": {"path": f"w{i}.parquet",
                             "partitionValues": {}, "size": 1,
                             "modificationTime": 0,
                             "dataChange": True}})
    _write_log(log, 0, [
        {"protocol": _PROTO},
        {"metaData": _meta([_fld("k", "long"), _fld("v", "string")])},
    ] + adds)
    dest = t + "_imp"
    delta_import.import_delta_log(spark, t, dest, key="k")
    _duck_parquet(os.path.join(t, "new.parquet"),
                  "SELECT 90000 + range AS k, 'n' AS v "
                  "FROM range(5)")
    _write_log(log, 1, [
        {"add": {"path": "new.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 1,
                 "dataChange": True}},
    ])
    stats_calls = []
    real_stats = txnlog._file_stats
    monkeypatch.setattr(
        txnlog, "_file_stats",
        lambda f, k: (stats_calls.append(f), real_stats(f, k))[1])
    delta_import.sync_delta_log(spark, t, dest)
    assert len(stats_calls) == 1 and \
        stats_calls[0].endswith("new.parquet"), \
        "sync must touch ONLY the new commit's files"
    assert txnlog.read_table(spark, dest).count() == 205


# ------------------------------ foreign-Delta STREAMING source (r15)

def test_delta_stream_source_tails_foreign_log(spark, tdir):
    """readStream directly off an externally-written _delta_log — no
    import step: version offsets, per-commit fidelity
    (_commit_version), exactly-once restart, foreign OPTIMIZE skipped
    natively, rewrites honest-guarded with Delta's skipChangeCommits
    escape hatch."""
    from docker_aktin_dwh_spark.sources import (deltastream,
                                                txnbatch)
    deltastream.register(spark)
    txnbatch.register(spark)
    t = os.path.join(tdir, "ft")
    _sync_fixture_v0(t)
    ck = os.path.join(tdir, "ck")
    rep = os.path.join(tdir, "rep")

    def run(sink=None, skip="false"):
        q = (spark.readStream.format("delta_stream")
             .option("path", t)
             .option("skipChangeCommits", skip).load()
             .writeStream.format("txnlog")
             .option("path", sink or rep).option("key", "k")
             .option("txnAppId", "dstr")
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        return txnlog.read_table(spark, sink or rep)

    got = run()
    rows = got.collect()
    assert len(rows) == 50
    assert {r._commit_version for r in rows} == {0}
    assert {r.p for r in rows} == {0, 1}, \
        "partition columns materialize from the log's pv"
    # restart: nothing re-delivered
    assert run().count() == 50
    # a foreign append flows on the next trigger, version-tagged
    _duck_parquet(os.path.join(t, "f2.parquet"),
                  "SELECT range AS k, 'c' || range AS v "
                  "FROM range(200, 205)")
    _write_log(os.path.join(t, "_delta_log"), 1, [
        {"commitInfo": {"operation": "WRITE"}},
        {"add": {"path": "f2.parquet", "partitionValues": {"p": "0"},
                 "size": 1, "modificationTime": 1,
                 "dataChange": True}},
    ])
    got = run()
    assert got.count() == 55
    assert got.filter("_commit_version = 1").count() == 5
    # a foreign OPTIMIZE is skipped natively (no option, no rows)
    _duck_parquet(os.path.join(t, "opt.parquet"),
                  "SELECT * FROM read_parquet("
                  f"['{t}/f0.parquet', '{t}/f2.parquet'])")
    _write_log(os.path.join(t, "_delta_log"), 2, [
        {"remove": {"path": "f0.parquet", "deletionTimestamp": 2,
                    "dataChange": False}},
        {"remove": {"path": "f2.parquet", "deletionTimestamp": 2,
                    "dataChange": False}},
        {"add": {"path": "opt.parquet", "partitionValues": {"p": "0"},
                 "size": 1, "modificationTime": 2,
                 "dataChange": False}},
    ])
    assert run().count() == 55
    # a data-changing rewrite raises without the escape hatch...
    _duck_parquet(os.path.join(t, "f3.parquet"),
                  "SELECT range AS k, 'b' || range AS v "
                  "FROM range(100, 110)")
    _write_log(os.path.join(t, "_delta_log"), 3, [
        {"remove": {"path": "f1.parquet", "deletionTimestamp": 3,
                    "dataChange": True}},
        {"add": {"path": "f3.parquet", "partitionValues": {"p": "1"},
                 "size": 1, "modificationTime": 3,
                 "dataChange": True}},
    ])
    with pytest.raises(Exception, match="skipChangeCommits"):
        run()
    # ...and skips entirely with it (fresh checkpoint, lax from v0)
    import shutil
    shutil.rmtree(ck)
    lax = run(sink=os.path.join(tdir, "rep_lax"), skip="true")
    assert lax.count() == 55, \
        "skipChangeCommits drops the rewrite commit wholesale"


def test_delta_stream_refuses_column_mapping(spark, tdir):
    from docker_aktin_dwh_spark.sources import deltastream
    deltastream.register(spark)
    t = os.path.join(tdir, "ft")
    os.makedirs(t)
    _write_log(os.path.join(t, "_delta_log"), 0, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5,
                      "readerFeatures": ["columnMapping"],
                      "writerFeatures": ["columnMapping"]}},
        {"metaData": _meta(
            [_fld("k", "long",
                  {"delta.columnMapping.id": 1,
                   "delta.columnMapping.physicalName": "col-k"})],
            config={"delta.columnMapping.mode": "name"})},
    ])
    with pytest.raises(Exception, match="columnMapping"):
        (spark.readStream.format("delta_stream").option("path", t)
         .load().writeStream.format("memory")
         .queryName("delta_stream_cm")
         .option("checkpointLocation", os.path.join(tdir, "ck2"))
         .trigger(availableNow=True).start().awaitTermination())


def test_delta_stream_over_checkpoint_seeded_history(spark, tdir):
    """A log cleaned below a checkpoint at v2, JSON commits v3..v4 only:
    the schema comes from the checkpoint's metaData; startingVersion=3
    delivers exactly v3..v4's rows, the default start names the option
    instead of replaying the hole."""
    from docker_aktin_dwh_spark.sources import deltastream
    deltastream.register(spark)
    t = os.path.join(tdir, "ft")
    _checkpointed_foreign(t, [3, 4])

    def run(name, **opts):
        r = spark.readStream.format("delta_stream").option("path", t)
        for k, v in opts.items():
            r = r.option(k, v)
        (r.load().writeStream.format("memory").queryName(name)
         .option("checkpointLocation", os.path.join(tdir, name))
         .trigger(availableNow=True).start().awaitTermination())
        return spark.table(name)

    got = run("delta_stream_ckpt", startingVersion=3)
    assert got.columns == ["k", "v", "w", "p", "_commit_version"]
    assert sorted(tuple(r) for r in got.collect()) == [
        (100 * v + j, f"c{v}", None, v % 2, v)
        for v in (3, 4) for j in range(4)]
    with pytest.raises(Exception, match="startingVersion"):
        run("delta_stream_ckpt0")


def test_percent_encoded_paths_and_v2_checkpoint_names(spark, tdir):
    """Post-review r15: add.path is RFC 2396 percent-encoded per
    PROTOCOL.md — import AND the streaming source decode it before
    touching disk; V2-checkpoint and compacted-log file names ending
    in .json must not parse as commit versions."""
    from docker_aktin_dwh_spark.sources import deltastream, txnbatch
    deltastream.register(spark)
    txnbatch.register(spark)
    t = os.path.join(tdir, "ft")
    os.makedirs(os.path.join(t, "sub dir"))
    _duck_parquet(os.path.join(t, "sub dir", "f 1.parquet"),
                  "SELECT range AS k, 'x' AS v FROM range(0, 20)")
    log = os.path.join(t, "_delta_log")
    _write_log(log, 0, [
        {"protocol": _PROTO},
        {"metaData": _meta([_fld("k", "long"), _fld("v", "string")])},
        {"add": {"path": "sub%20dir/f%201.parquet",
                 "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ])
    # decoys a naive .json/isdigit() filter would misparse
    open(os.path.join(
        log, f"{0:020d}.checkpoint.0123456789abcdef.json"),
        "w").write("{}")
    open(os.path.join(
        log, f"{0:020d}.{1:020d}.compact.json"), "w").write("{}")
    imp = t + "_imp"
    delta_import.import_delta_log(spark, t, imp, key="k")
    assert txnlog.read_table(spark, imp).count() == 20
    q = (spark.readStream.format("delta_stream").option("path", t)
         .load().writeStream.format("txnlog")
         .option("path", t + "_rep").option("key", "k")
         .option("txnAppId", "pe")
         .option("checkpointLocation", os.path.join(tdir, "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    assert txnlog.read_table(spark, t + "_rep").count() == 20


def _encoded_name_fixture(tdir, name, dv_ranges=None):
    """A one-file foreign table whose data file's name needs URL
    encoding; Spark's ``_metadata.file_name`` reports it encoded."""
    t = os.path.join(tdir, "fe")
    os.makedirs(os.path.join(t, "sub dir"))
    _duck_parquet(os.path.join(t, "sub dir", name),
                  "SELECT range AS k, 'x' || range AS v "
                  "FROM range(0, 20)")
    add = {"path": "sub%20dir/" + name.replace("%", "%25")
                                      .replace(" ", "%20"),
           "partitionValues": {}, "size": 1, "modificationTime": 0,
           "dataChange": True}
    proto = _PROTO
    if dv_ranges:
        add["deletionVector"] = delta_export.dv_descriptor(dv_ranges)
        proto = {"minReaderVersion": 3, "minWriterVersion": 7,
                 "readerFeatures": ["deletionVectors"],
                 "writerFeatures": ["deletionVectors"]}
    _write_log(os.path.join(t, "_delta_log"), 0, [
        {"protocol": proto},
        {"metaData": _meta([_fld("k", "long"), _fld("v", "string")])},
        {"add": add},
    ])
    return t


def test_dv_verbs_on_url_encoded_file_names(spark, tdir):
    """Row-level verbs plan deletion vectors on a file whose name
    Spark reports URL-encoded (``f 1.parquet`` → ``f%201.parquet``):
    the hit rows map back to the logged file and the read masks them."""
    t = _encoded_name_fixture(tdir, "f 1.parquet")
    imp = t + "_imp"
    delta_import.import_delta_log(spark, t, imp, key="k")
    txnlog.delete_where(spark, imp, key="k", filters=[("k", "<", 5)])
    assert any(s.get("dv") for s in txnlog.snapshot(imp).files.values())
    txnlog.merge(spark, imp, _mk(spark, 8, 10, tag="m").drop("p"),
                 key="k")
    got = {r.k: r.v for r in txnlog.read_table(spark, imp).collect()}
    assert sorted(got) == list(range(5, 20))
    assert got[8] == "m8" and got[10] == "x10"


def test_imported_dv_masks_url_encoded_file_name(spark, tdir,
                                                monkeypatch):
    """A foreign deletion vector on a file whose name holds a space, a
    percent sign and a plus masks its rows after import — on both mask
    arms."""
    t = _encoded_name_fixture(tdir, "g 100%+x.parquet",
                              dv_ranges=[(2, 4), (11, 11)])
    imp = t + "_imp"
    delta_import.import_delta_log(spark, t, imp, key="k")
    want = sorted(set(range(20)) - {2, 3, 4, 11})
    assert sorted(r.k for r in txnlog.read_table(spark, imp)
                  .collect()) == want
    monkeypatch.setattr(txnlog, "_dv_inline", lambda *a: False)
    assert sorted(r.k for r in txnlog.read_table(spark, imp)
                  .collect()) == want
