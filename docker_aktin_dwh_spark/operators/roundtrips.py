"""Source/sink roundtrip keys — driver-checkable SRC/SNK evidence.

The reference's ingest/export surfaces are file- and process-shaped
(init SQL scripts concatenated into the database image, CDA XML REST
imports, §21 CSV/ZIP drops, the broker poll loop — reference anchors in
each docstring).  These keys drive each surface END TO END inside a
declared query: generate the wire format from fixture rows, push it
through the real source/sink code path, and return a frame whose DuckDB
oracle is the *identity* derivation — so a hash match proves the format
roundtrip lost nothing.

SRC-01 (parquet scan) needs no key of its own: every registry key reads
through catalog.load.
"""

from __future__ import annotations

import tempfile
import uuid

from pyspark.sql import functions as F

from .. import catalog
from ..functions.determinism import sql_dsum
from ..registry import QuerySpec
from ..session import local_frame
from ..sources import p21_csv, xml_cda
from ..streaming import broker
from .streamnative import await_query

T = catalog.load


def _rmtree(path: str) -> None:
    import shutil

    shutil.rmtree(path, ignore_errors=True)


def _snap_off_tmp(df, tmp: str):
    """Snapshot ``df`` (localCheckpoint pins the partitions in executor
    block storage, cutting lineage back to files under ``tmp``) and
    remove the mkdtemp tree — the declared roundtrip keys run once per
    sweep/bench invocation and must not each leak a directory
    (streamnative's _materialized discipline)."""
    from ..functions.barrier import materialize

    try:
        return materialize(df)
    finally:
        _rmtree(tmp)


# -------------------------------------------------------- SRC-02: SQL script

def src_02(spark, sf):
    """SRC-02 SQL-script ingest: a multi-statement script (staging view +
    aggregate select) executed through catalog.run_sql_script — the
    Spark form of the reference's concatenated init SQL (reference
    src/docker/database/Dockerfile:25-34)."""
    T(spark, sf, "orders").createOrReplaceTempView("_src02_orders")
    script = f"""
        CREATE OR REPLACE TEMPORARY VIEW _src02_stage AS
            SELECT o_orderstatus AS s, o_totalprice FROM _src02_orders;
        SELECT s, count(*) AS n,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2)
                    AS DOUBLE) AS rev
        FROM _src02_stage GROUP BY s ORDER BY s
    """
    return catalog.run_sql_script(spark, script)


_SRC_02_ORACLE = (
    "SELECT o_orderstatus AS s, count(*) AS n, "
    f"{sql_dsum('o_totalprice')} AS rev "
    "FROM orders GROUP BY 1")


# ------------------------------------------------------- SRC-03: XML/CDA shred

def src_03(spark, sf):
    """SRC-03 CDA-XML roundtrip: render fact rows to encounter XML
    documents (JVM string assembly, one doc per encounter), shred them
    back through sources/xml_cda.shred_xml (Arrow-batched mapInPandas —
    the real parse path), return the recovered facts.  Oracle = the
    identity selection; a hash match proves parse fidelity (reference
    ingests one CDA per ED encounter, src/build.sh:260)."""
    fact = (catalog.observation_fact(spark, sf)
            .filter(F.col("encounter_num") < 300))
    val = F.when(F.col("valtype_cd") == "N",
                 F.col("nval_num").cast("string")) \
           .otherwise(F.col("tval_char"))
    frag = F.concat(
        F.lit('<obs code="'), F.col("concept_cd"),
        F.lit('" ts="'), F.date_format("start_date", "yyyy-MM-dd'T'HH:mm:ss"),
        F.lit('" valtype="'), F.col("valtype_cd"),
        F.lit('" value="'), val, F.lit('" unit="1"/>'))
    docs = (fact.select("encounter_num", "patient_num", frag.alias("frag"))
            .groupBy("encounter_num", "patient_num")
            .agg(F.concat_ws("", F.array_sort(F.collect_list("frag")))
                  .alias("body"))
            .select(F.concat(F.lit('<encounter id="E'), "encounter_num",
                             F.lit('" patient="P'), "patient_num",
                             F.lit('">'), "body",
                             F.lit("</encounter>")).alias("value")))
    return (xml_cda.shred_xml(docs)
            .select("encounter_num", "patient_num", "concept_cd",
                    "start_date", "valtype_cd", "tval_char", "nval_num")
            .orderBy("encounter_num", "concept_cd", "start_date", "nval_num"))


def _src_03_oracle() -> str:
    ct = catalog.clinical_with_clause(("observation_fact",))
    return ct + """
SELECT encounter_num, patient_num, concept_cd,
       CAST(start_date AS TIMESTAMP) AS start_date, valtype_cd, tval_char,
       CAST(nval_num AS DOUBLE) AS nval_num
FROM observation_fact WHERE encounter_num < 300
"""


# ---------------------------------------------------- SRC-04: P21 CSV import

def src_04(spark, sf):
    """SRC-04 §21 CSV roundtrip: render fixture rows to semicolon-CSV
    lines, parse them with from_csv under the explicit P21 schema (JVM
    CSV parser — same schema/options as sources/p21_csv.read_p21; the
    zip column MUST stay a leading-zero string, update01 parity,
    reference src/docker/database/Dockerfile:31), normalize via
    p21_to_visits.  Oracle = identity derivation."""
    o = T(spark, sf, "orders").filter(F.col("o_orderkey") < 500)
    ts = "yyyy-MM-dd'T'HH:mm:ss"
    line = F.concat_ws(
        ";",
        "o_orderkey",
        F.date_format("o_orderdate", ts),
        F.date_format(
            F.col("o_orderdate")
            + F.expr("make_interval(0,0,0,0, 4 + cast(o_orderkey % 20 as int), 0, 0)"),
            ts),
        F.lpad((F.col("o_orderkey") % 99999).cast("string"), 5, "0"),
        (F.col("o_orderkey") % 90).cast("string"))
    parsed = (o.select(line.alias("line"))
              .select(F.from_csv("line", p21_csv.P21_SCHEMA,
                                 {"sep": ";", "timestampNTZFormat": ts})
                       .alias("r"))
              .select("r.*"))
    return p21_csv.p21_to_visits(parsed).orderBy("encounter_num")


_SRC_04_ORACLE = """
SELECT o_orderkey AS encounter_num,
       CAST(o_orderdate AS TIMESTAMP) AS start_date,
       CAST(o_orderdate AS TIMESTAMP)
           + INTERVAL 1 HOUR * (4 + CAST(o_orderkey % 20 AS INT)) AS end_date,
       lpad(CAST(o_orderkey % 99999 AS STRING), 5, '0') AS zip_cd,
       CAST(o_orderkey % 90 AS INT) AS age,
       CAST(4 + o_orderkey % 20 AS DOUBLE) AS los_hours
FROM orders WHERE o_orderkey < 500
"""


# ------------------------------------------------------- SNK-01/STR-09 upsert

def _ups(spark, sf, files: int, prefix: str):
    """SNK-01 + STR-09: delete+insert-by-encounter upsert through the
    txnlog ACID format (sources/txnlog.py) — the same create/merge
    verbs foreachBatch ingestion uses (streaming/ingest.py).  The
    initial store is range-packed into ``files`` data files by key so
    MERGE's footer-stats data skipping starts tight; the batch moves
    encounters' start_date by +40 days.  Oracle = the delete+insert
    semantics in SQL (reference re-import semantics: aktin_init.sql,
    src/docker/database/Dockerfile:33)."""
    from ..sources import txnlog

    base = (catalog.visit_dimension(spark, sf)
            .filter(F.col("encounter_num") < 400)
            .select("encounter_num", "patient_num", "start_date",
                    "inout_cd"))
    tmp = tempfile.mkdtemp(prefix=prefix)
    try:
        path = tmp + "/tbl"
        txnlog.create_table(
            spark, base.repartitionByRange(files, "encounter_num"), path,
            key="encounter_num")
        batch = (base.filter((F.col("encounter_num") >= 100)
                             & (F.col("encounter_num") < 200))
                 .select("encounter_num", "patient_num",
                         (F.col("start_date") + F.expr("INTERVAL 40 DAYS"))
                          .alias("start_date"),
                         F.lit("U").alias("inout_cd")))
        txnlog.merge(spark, path, batch, key="encounter_num")
        return _snap_off_tmp(
            txnlog.read_table(spark, path)
                  .select("encounter_num", "patient_num", "start_date",
                          "inout_cd"), tmp).orderBy("encounter_num")
    except BaseException:
        _rmtree(tmp)
        raise


def ups_01(spark, sf):
    """:func:`_ups` over an 8-file initial store."""
    return _ups(spark, sf, 8, "spark_ups01_")


def ups_02(spark, sf):
    """:func:`_ups` over a 4-file initial store: the same result from a
    coarser file layout (different data-skipping footprint)."""
    return _ups(spark, sf, 4, "spark_ups02_")


def ds_01(spark, sf):
    """SRC-12 (r11): batch DataSource + SQL surface over the txnlog
    format (sources/txnbatch.py) — ``spark.read.format("txnlog")``
    with a ``versionAsOf`` option, the batch twin of the str_19
    streaming source.  Builds the ups_02 table (base + MERGE moving
    encounters 100-199 by +40 days — merge-on-read deletion vectors
    underneath since r11), then reads it back ENTIRELY through the
    registered DataSource: the latest snapshot plus the pre-merge
    version 0, the v0 arm through PLAIN SQL over a temp view.  A hash
    match certifies three things at once: the DataSource replay equals
    the native read (DV masking included), versionAsOf time travel is
    exact, and the source composes with spark.sql.  Reference
    analogue: any SQL client SELECTing the warehouse state Postgres
    arbitrates (src/docker/database) — here any Spark SQL session
    composes over the commit log's snapshot."""
    from ..sources import txnbatch, txnlog

    base = (catalog.visit_dimension(spark, sf)
            .filter(F.col("encounter_num") < 400)
            .select("encounter_num", "patient_num", "start_date",
                    "inout_cd"))
    tmp = tempfile.mkdtemp(prefix="spark_ds01_")
    try:
        path = tmp + "/tbl"
        txnlog.create_table(
            spark, base.repartitionByRange(4, "encounter_num"), path,
            key="encounter_num")
        batch = (base.filter((F.col("encounter_num") >= 100)
                             & (F.col("encounter_num") < 200))
                 .select("encounter_num", "patient_num",
                         (F.col("start_date") + F.expr("INTERVAL 40 DAYS"))
                          .alias("start_date"),
                         F.lit("U").alias("inout_cd")))
        txnlog.merge(spark, path, batch, key="encounter_num")
        txnbatch.register(spark)
        latest = (spark.read.format("txnlog").option("path", path)
                  .load()
                  .select("encounter_num", "patient_num", "start_date",
                          "inout_cd")
                  .withColumn("snap", F.lit("latest")))
        view = f"txnds_{uuid.uuid4().hex[:8]}"
        (spark.read.format("txnlog").option("path", path)
         .option("versionAsOf", 0).load().createOrReplaceTempView(view))
        v0 = spark.sql(
            f"SELECT encounter_num, patient_num, start_date, inout_cd,"
            f" 'v0' AS snap FROM {view} WHERE encounter_num % 3 = 0")
        out = _snap_off_tmp(latest.unionByName(v0), tmp)
        spark.catalog.dropTempView(view)
        return out.orderBy("snap", "encounter_num")
    except BaseException:
        _rmtree(tmp)
        raise


def _ds_01_oracle() -> str:
    ct = catalog.clinical_with_clause(("visit_dimension",))
    return ct.rstrip("\n") + """,
base AS (SELECT encounter_num, patient_num, start_date, inout_cd
         FROM visit_dimension WHERE encounter_num < 400),
batch AS (SELECT encounter_num, patient_num,
                 start_date + INTERVAL 40 DAY AS start_date,
                 'U' AS inout_cd
          FROM base WHERE encounter_num >= 100 AND encounter_num < 200)
SELECT *, 'latest' AS snap FROM (
  SELECT * FROM base
  WHERE encounter_num NOT IN (SELECT encounter_num FROM batch)
  UNION ALL SELECT * FROM batch)
UNION ALL
SELECT *, 'v0' AS snap FROM base WHERE encounter_num % 3 = 0
"""


def ds_02(spark, sf):
    """SRC-14 (r12, VERDICT r11 item 1): the WRITE surface of the
    txnlog DataSource — ``df.write.format("txnlog")`` CREATES the
    table (option("key") recording the merge key) and appends a second
    slice, then ``df.writeStream.format("txnlog")`` commits a third
    slice as an exactly-once streaming sink and the SAME batch is
    REPLAYED under a fresh checkpoint (same txnAppId): the (appId,
    batchId) txn action in the commit log makes the replay a no-op, so
    a duplicate would double the full arm and fail the hash.  Read
    back entirely through the DataSource: a full arm and a
    stats-pruned arm (option("dataSkipping") pushes the non-key
    predicate into footer-interval file skipping — one-shot relation,
    the documented safe usage).  Reference analogue: any SQL client
    WRITES through Postgres (src/docker/database/Dockerfile:8) — the
    read surface got its SQL twin in r11 (ds_01), this is the write
    surface."""
    from ..sources import txnbatch

    base = (catalog.visit_dimension(spark, sf)
            .filter(F.col("encounter_num") < 450)
            .select("encounter_num", "patient_num", "start_date",
                    "inout_cd"))
    tmp = tempfile.mkdtemp(prefix="spark_ds02_")
    try:
        path = tmp + "/tbl"
        txnbatch.register(spark)
        a = base.filter(F.col("encounter_num") < 150)
        b = base.filter((F.col("encounter_num") >= 150)
                        & (F.col("encounter_num") < 300))
        c = base.filter(F.col("encounter_num") >= 300)
        (a.repartitionByRange(2, "encounter_num")
          .write.format("txnlog").option("path", path)
          .option("key", "encounter_num").mode("append").save())
        b.write.format("txnlog").option("path", path) \
         .mode("append").save()
        src = tmp + "/src"
        c.coalesce(1).write.parquet(src)
        for ck in ("ck1", "ck2"):      # ck2 = replay of batch 0
            q = (spark.readStream.schema(c.schema).parquet(src)
                 .writeStream.format("txnlog").option("path", path)
                 .option("txnAppId", "ds02-sink")
                 .option("checkpointLocation", f"{tmp}/{ck}")
                 .trigger(availableNow=True).start())
            q.awaitTermination()
        full = (spark.read.format("txnlog").option("path", path)
                .load().withColumn("arm", F.lit("full")))
        flt = (spark.read.format("txnlog").option("path", path)
               .option("dataSkipping", "true").load()
               .filter(F.col("patient_num") >= 50)
               .withColumn("arm", F.lit("flt")))
        return _snap_off_tmp(full.unionByName(flt), tmp) \
            .orderBy("arm", "encounter_num")
    except BaseException:
        _rmtree(tmp)
        raise


def _ds_02_oracle() -> str:
    ct = catalog.clinical_with_clause(("visit_dimension",))
    return ct.rstrip("\n") + """,
base AS (SELECT encounter_num, patient_num, start_date, inout_cd
         FROM visit_dimension WHERE encounter_num < 450)
SELECT *, 'full' AS arm FROM base
UNION ALL
SELECT *, 'flt' AS arm FROM base WHERE patient_num >= 50
"""


def rst_01(spark, sf):
    """RESTORE roundtrip (r11): build the ups_02 table, MERGE the +40d
    correction (merge-on-read DVs underneath), DELETE a key band, then
    ``txnlog.restore(version=0)`` — and read the result through the
    LATEST snapshot.  Oracle = the plain base selection: a hash match
    certifies the metadata-only rollback reconstructs v0 exactly (file
    re-references, DV clears, schema) even though the data files were
    never rewritten.  The CDC-across-restore and audit contracts are
    pinned in tests/test_txnlog.py.  Reference analogue: restoring the
    warehouse from a pre-import state after a bad batch (the operator
    escape hatch a Postgres PITR provides; here it is one commit)."""
    from ..sources import txnlog

    base = (catalog.visit_dimension(spark, sf)
            .filter(F.col("encounter_num") < 400)
            .select("encounter_num", "patient_num", "start_date",
                    "inout_cd"))
    tmp = tempfile.mkdtemp(prefix="spark_rst01_")
    try:
        path = tmp + "/tbl"
        txnlog.create_table(
            spark, base.repartitionByRange(4, "encounter_num"), path,
            key="encounter_num")
        batch = (base.filter((F.col("encounter_num") >= 100)
                             & (F.col("encounter_num") < 200))
                 .select("encounter_num", "patient_num",
                         (F.col("start_date") + F.expr("INTERVAL 40 DAYS"))
                          .alias("start_date"),
                         F.lit("U").alias("inout_cd")))
        txnlog.merge(spark, path, batch, key="encounter_num")
        txnlog.delete_range(spark, path, key="encounter_num",
                            lo=0, hi=50)
        txnlog.restore(spark, path, version=0)
        return _snap_off_tmp(
            txnlog.read_table(spark, path)
                  .select("encounter_num", "patient_num", "start_date",
                          "inout_cd"), tmp).orderBy("encounter_num")
    except BaseException:
        _rmtree(tmp)
        raise


def _rst_01_oracle() -> str:
    ct = catalog.clinical_with_clause(("visit_dimension",))
    return ct.rstrip("\n") + """
SELECT encounter_num, patient_num, start_date, inout_cd
FROM visit_dimension WHERE encounter_num < 400
"""


def cdc_02(spark, sf):
    """Change-data-feed over the commit-log table format
    (sources/txnlog.table_changes — Delta-CDF shape computed from the
    version-asymmetric file sets, no stored change column): v0 =
    range-filed base (encounters < 400, 4 files), v1 = MERGE of
    updates (100-199 moved +40 days, 'U') plus inserts (encounters
    400-449), v2 = stats-skipped DELETE of the [0, 50) key range; the
    feed diffs v0 → v2.  Every CDC arm is non-vacuous BY CONSTRUCTION:
    0-49 delete, 100-199 update pre+post, 400-449 insert, and 50-99 —
    rewritten byte-identical by the delete's file rewrite — must be
    SUPPRESSED (physical rewrite is not logical change), while the
    untouched 200-399 files are pruned before any I/O.  Oracle
    recomputes both versions and the classified diff in SQL; a hash
    match certifies the file-set-pruned feed equals the semantic
    snapshot diff.  Reference analogue: audit trail of re-imported
    encounters (delete+insert re-import, aktin_init.sql,
    src/docker/database/Dockerfile:33)."""
    from ..sources import txnlog

    vis = catalog.visit_dimension(spark, sf).select(
        "encounter_num", "patient_num", "start_date", "inout_cd")
    base = vis.filter(F.col("encounter_num") < 400)
    tmp = tempfile.mkdtemp(prefix="spark_cdc02_")
    try:
        path = tmp + "/tbl"
        txnlog.create_table(
            spark, base.repartitionByRange(4, "encounter_num"), path,
            key="encounter_num")
        ups = (base.filter((F.col("encounter_num") >= 100)
                           & (F.col("encounter_num") < 200))
               .select("encounter_num", "patient_num",
                       (F.col("start_date") + F.expr("INTERVAL 40 DAYS"))
                        .alias("start_date"),
                       F.lit("U").alias("inout_cd")))
        ins = vis.filter((F.col("encounter_num") >= 400)
                         & (F.col("encounter_num") < 450))
        txnlog.merge(spark, path, ups.unionByName(ins),
                     key="encounter_num")
        txnlog.delete_range(spark, path, key="encounter_num",
                            lo=0, hi=50)
        out = txnlog.table_changes(spark, path, 0, key="encounter_num")
        return _snap_off_tmp(out, tmp).orderBy("encounter_num",
                                               "change_type")
    except BaseException:
        _rmtree(tmp)
        raise


def _cdc_02_oracle() -> str:
    ct = catalog.clinical_with_clause(("visit_dimension",))
    return ct.rstrip("\n") + """,
vis AS (SELECT encounter_num, patient_num, start_date, inout_cd
        FROM visit_dimension),
base AS (SELECT * FROM vis WHERE encounter_num < 400),
ups AS (SELECT encounter_num, patient_num,
               start_date + INTERVAL 40 DAY AS start_date,
               'U' AS inout_cd
        FROM base WHERE encounter_num >= 100 AND encounter_num < 200),
ins AS (SELECT * FROM vis
        WHERE encounter_num >= 400 AND encounter_num < 450),
batch AS (SELECT * FROM ups UNION ALL SELECT * FROM ins),
v1 AS (SELECT * FROM base
       WHERE encounter_num NOT IN (SELECT encounter_num FROM batch)
       UNION ALL SELECT * FROM batch),
v2 AS (SELECT * FROM v1
       WHERE NOT (encounter_num >= 0 AND encounter_num < 50)),
upd_keys AS (
    SELECT o.encounter_num AS k FROM base o
    JOIN v2 n ON o.encounter_num = n.encounter_num
    WHERE o.patient_num IS DISTINCT FROM n.patient_num
       OR o.start_date IS DISTINCT FROM n.start_date
       OR o.inout_cd IS DISTINCT FROM n.inout_cd)
SELECT n.*, 'insert' AS change_type FROM v2 n
LEFT JOIN base o ON n.encounter_num = o.encounter_num
WHERE o.encounter_num IS NULL
UNION ALL
SELECT o.*, 'delete' AS change_type FROM base o
LEFT JOIN v2 n ON o.encounter_num = n.encounter_num
WHERE n.encounter_num IS NULL
UNION ALL
SELECT o.*, 'update_preimage' AS change_type
FROM base o JOIN upd_keys u ON o.encounter_num = u.k
UNION ALL
SELECT n.*, 'update_postimage' AS change_type
FROM v2 n JOIN upd_keys u ON n.encounter_num = u.k
"""


def cdc_04(spark, sf):
    """Atomic CDC APPLY (r10): a MIXED endpoint-diff batch — updates
    (encounters 100-199 moved +40 days, 'U'), inserts (400-449) and
    deletes (0-49) — applied to the commit-log table in ONE commit
    (sources/txnlog.apply_changes, the ``MERGE ... WHEN MATCHED THEN
    DELETE`` shape).  The two-call merge+delete_range emulation has a
    crash window between the commits where deletes are applied but
    upserts are not; apply_changes removes it structurally — the
    builder asserts the whole apply is exactly ONE version.  Data
    skipping prunes files disjoint from every feed key (delete keys
    included).  Oracle = the delete+insert+remove semantics in plain
    SQL over the same frames; reference analogue: the re-import +
    retraction flow of the aktin import schema (aktin_init.sql,
    src/docker/database/Dockerfile:33)."""
    from ..sources import txnlog

    vis = catalog.visit_dimension(spark, sf).select(
        "encounter_num", "patient_num", "start_date", "inout_cd")
    base = vis.filter(F.col("encounter_num") < 400)
    tmp = tempfile.mkdtemp(prefix="spark_cdc04_")
    try:
        path = tmp + "/tbl"
        txnlog.create_table(
            spark, base.repartitionByRange(4, "encounter_num"), path,
            key="encounter_num")
        ups = (base.filter((F.col("encounter_num") >= 100)
                           & (F.col("encounter_num") < 200))
               .select("encounter_num", "patient_num",
                       (F.col("start_date") + F.expr("INTERVAL 40 DAYS"))
                        .alias("start_date"),
                       F.lit("U").alias("inout_cd"),
                       F.lit("update").alias("op")))
        ins = (vis.filter((F.col("encounter_num") >= 400)
                          & (F.col("encounter_num") < 450))
               .withColumn("op", F.lit("insert")))
        dels = (base.filter(F.col("encounter_num") < 50)
                .withColumn("op", F.lit("delete")))
        v0 = txnlog.snapshot(path).version
        txnlog.apply_changes(
            spark, path, ups.unionByName(ins).unionByName(dels),
            key="encounter_num")
        assert txnlog.snapshot(path).version == v0 + 1, \
            "apply_changes must be ONE atomic commit"
        return _snap_off_tmp(
            txnlog.read_table(spark, path)
                  .select("encounter_num", "patient_num", "start_date",
                          "inout_cd"), tmp).orderBy("encounter_num")
    except BaseException:
        _rmtree(tmp)
        raise


def _cdc_04_oracle() -> str:
    ct = catalog.clinical_with_clause(("visit_dimension",))
    return ct.rstrip("\n") + """,
vis AS (SELECT encounter_num, patient_num, start_date, inout_cd
        FROM visit_dimension),
base AS (SELECT * FROM vis WHERE encounter_num < 400),
ups AS (SELECT encounter_num, patient_num,
               start_date + INTERVAL 40 DAY AS start_date,
               'U' AS inout_cd
        FROM base WHERE encounter_num >= 100 AND encounter_num < 200),
ins AS (SELECT * FROM vis
        WHERE encounter_num >= 400 AND encounter_num < 450),
feed_keys AS (
    SELECT encounter_num FROM ups
    UNION SELECT encounter_num FROM ins
    UNION SELECT encounter_num FROM base WHERE encounter_num < 50)
SELECT * FROM (
  SELECT * FROM base
  WHERE encounter_num NOT IN (SELECT encounter_num FROM feed_keys)
  UNION ALL SELECT * FROM ups
  UNION ALL SELECT * FROM ins)
ORDER BY encounter_num
"""


def colmap_01(spark, sf):
    """Column mapping roundtrip (r13, VERDICT r12 item 1): RENAME and
    DROP columns as METADATA-ONLY commits on the txnlog format
    (sources/txnlog.rename_column/drop_column — Delta's columnMapping
    mode "name"; reference analogue: plain ``ALTER TABLE RENAME
    COLUMN`` on stock Postgres, src/docker/database/Dockerfile:8).

    The key drives the full lifecycle and certifies each contract in
    one hash: create → RENAME start_date→admit_ts (asserted
    file-identical: no data moved) → MERGE addressing the renamed
    column (encounters 100-199 +40 days) → DROP inout_cd → evolving
    append RE-ADDING inout_cd for new encounters 400-449 (fresh
    physical name asserted — the dropped data must NOT resurrect, so
    pre-drop rows read NULL).  Three arms: the CURRENT state (renamed
    + re-added columns), TIME TRAVEL to v0 (original names and values
    across the rename), and the CDC endpoint diff v0→latest (the
    rename itself contributes no change rows; updates classify on the
    renamed column because physical names are rename-stable).  Oracle
    = the same three arms derived in plain SQL from the fixture."""
    from ..sources import txnlog

    vis = catalog.visit_dimension(spark, sf).select(
        "encounter_num", "patient_num", "start_date", "inout_cd")
    base = vis.filter(F.col("encounter_num") < 400)
    tmp = tempfile.mkdtemp(prefix="spark_colmap01_")
    try:
        path = tmp + "/tbl"
        txnlog.create_table(
            spark, base.repartitionByRange(4, "encounter_num"), path,
            key="encounter_num")
        pre = txnlog.snapshot(path)
        txnlog.rename_column(spark, path, old="start_date",
                             new="admit_ts")
        s1 = txnlog.snapshot(path)
        assert s1.files == pre.files, \
            "rename_column must be metadata-only"
        batch = (base.filter((F.col("encounter_num") >= 100)
                             & (F.col("encounter_num") < 200))
                 .select("encounter_num", "patient_num",
                         (F.col("start_date") + F.expr("INTERVAL 40 DAYS"))
                          .alias("admit_ts"),
                         F.lit("U").alias("inout_cd")))
        txnlog.merge(spark, path, batch, key="encounter_num")
        txnlog.drop_column(spark, path, column="inout_cd")
        readd = (vis.filter((F.col("encounter_num") >= 400)
                            & (F.col("encounter_num") < 450))
                 .select("encounter_num", "patient_num",
                         F.col("start_date").alias("admit_ts"),
                         "inout_cd"))
        txnlog.append(spark, readd, path, key="encounter_num",
                      evolve_schema=True)
        s4 = txnlog.snapshot(path)
        assert s4.colmap["inout_cd"] != "inout_cd", \
            "re-added column must get a fresh physical name"
        cur = (txnlog.read_table(spark, path)
               .select(F.lit("cur").alias("arm"),
                       F.lit("state").alias("change_type"),
                       "encounter_num", "patient_num",
                       F.col("admit_ts").alias("ts"),
                       F.col("inout_cd").alias("io")))
        tt = (txnlog.read_table(spark, path, 0)
              .select(F.lit("tt").alias("arm"),
                      F.lit("state").alias("change_type"),
                      "encounter_num", "patient_num",
                      F.col("start_date").alias("ts"),
                      F.col("inout_cd").alias("io")))
        cdc = (txnlog.table_changes(spark, path, 0, key="encounter_num")
               .select(F.lit("cdc").alias("arm"), "change_type",
                       "encounter_num", "patient_num",
                       F.col("admit_ts").alias("ts"),
                       F.col("inout_cd").alias("io")))
        out = cur.unionByName(tt).unionByName(cdc)
        return _snap_off_tmp(out, tmp).orderBy(
            "arm", "change_type", "encounter_num")
    except BaseException:
        _rmtree(tmp)
        raise


def _colmap_01_oracle() -> str:
    ct = catalog.clinical_with_clause(("visit_dimension",))
    return ct.rstrip("\n") + """,
vis AS (SELECT encounter_num, patient_num, start_date, inout_cd
        FROM visit_dimension),
base AS (SELECT * FROM vis WHERE encounter_num < 400),
readd AS (SELECT * FROM vis
          WHERE encounter_num >= 400 AND encounter_num < 450),
cur AS (
  SELECT encounter_num, patient_num,
         CASE WHEN encounter_num >= 100 AND encounter_num < 200
              THEN start_date + INTERVAL 40 DAY ELSE start_date
         END AS ts,
         CAST(NULL AS VARCHAR) AS io
  FROM base
  UNION ALL
  SELECT encounter_num, patient_num, start_date AS ts, inout_cd AS io
  FROM readd)
SELECT 'cur' AS arm, 'state' AS change_type, encounter_num,
       patient_num, ts, io FROM cur
UNION ALL
SELECT 'tt' AS arm, 'state' AS change_type, encounter_num,
       patient_num, start_date AS ts, inout_cd AS io FROM base
UNION ALL
SELECT 'cdc' AS arm, 'update_preimage' AS change_type, encounter_num,
       patient_num, start_date AS ts, CAST(NULL AS VARCHAR) AS io
FROM base WHERE encounter_num >= 100 AND encounter_num < 200
UNION ALL
SELECT 'cdc' AS arm, 'update_postimage' AS change_type, encounter_num,
       patient_num, start_date + INTERVAL 40 DAY AS ts,
       CAST(NULL AS VARCHAR) AS io
FROM base WHERE encounter_num >= 100 AND encounter_num < 200
UNION ALL
SELECT 'cdc' AS arm, 'insert' AS change_type, encounter_num,
       patient_num, start_date AS ts, inout_cd AS io FROM readd
"""


def part_01(spark, sf):
    """Partitioned txnlog tables (r14, VERDICT r13 item 1): hive-style
    table partitioning on the commit-log format
    (sources/txnlog.create_table(partition_by=...), Delta's
    partitionValues; reference analogue: Postgres declarative
    partitioning of the visit/fact tables,
    /root/reference/src/docker/database/Dockerfile:8).

    One key certifies the whole contract: CREATE partitioned by
    inout_cd (files land in ``inout_cd=I/O`` dirs, partition values
    logged per file) -> partition-SCOPED MERGE inside 'I' (encounters
    100-199, +40 days; partition_filter validates the batch) -> append
    into 'O' (new encounters 400-449; partition-disjoint writers
    commit without re-derive, pinned by the unit tests + bench lane)
    -> PARTITION-PRUNED read (plan-asserted here: the scan's input
    files are exactly the I-partition's, strictly fewer than the
    table's) -> DROP PARTITION 'O' as a METADATA-ONLY commit.  Arms:
    cur (post-merge/append state), pru (the pruned read), tt (time
    travel to v0 across every partition op), cdc (endpoint diff
    v0->v2: merged I keys classify as updates, appended O rows as
    inserts), dcd (diff across the drop: exactly the O rows, all
    deletes).  Oracle = the same five arms in plain SQL."""
    from ..sources import txnlog

    vis = catalog.visit_dimension(spark, sf).select(
        "encounter_num", "patient_num", "start_date", "inout_cd")
    base = vis.filter(F.col("encounter_num") < 400)
    tmp = tempfile.mkdtemp(prefix="spark_part01_")
    try:
        path = tmp + "/tbl"
        snap0 = txnlog.create_table(
            spark, base.repartitionByRange(4, "encounter_num"), path,
            key="encounter_num", partition_by=["inout_cd"])
        assert all(n.split("/")[0].startswith("inout_cd=")
                   for n in snap0.files), "hive layout expected"
        batch = (base.filter((F.col("encounter_num") >= 100)
                             & (F.col("encounter_num") < 200)
                             & (F.col("inout_cd") == "I"))
                 .select("encounter_num", "patient_num",
                         (F.col("start_date")
                          + F.expr("INTERVAL 40 DAYS"))
                         .alias("start_date"),
                         "inout_cd"))
        txnlog.merge(spark, path, batch, key="encounter_num",
                     partition_filter={"inout_cd": "I"})
        app = vis.filter((F.col("encounter_num") >= 400)
                         & (F.col("encounter_num") < 450)
                         & (F.col("inout_cd") == "O"))
        txnlog.append(spark, app, path, key="encounter_num")
        s2 = txnlog.snapshot(path)
        keep = txnlog.prune_files(s2, [("inout_cd", "=", "I")])
        assert keep and len(keep) < len(s2.files) \
            and all(n.startswith("inout_cd=I/") for n in keep), \
            "partition pruning must select exactly the I files"
        pru_df = txnlog.read_table(spark, path,
                                   filters=[("inout_cd", "=", "I")])
        assert len(pru_df.inputFiles()) == len(keep), \
            "the pruned scan must read only the partition's files"

        def arm(df, tag, ct="state"):
            return df.select(
                F.lit(tag).alias("arm"),
                (F.lit(ct) if ct else F.col("change_type"))
                .alias("change_type"),
                "encounter_num", "patient_num",
                F.col("start_date").alias("ts"),
                F.col("inout_cd").alias("io"))

        cur = arm(txnlog.read_table(spark, path, s2.version), "cur")
        pru = arm(pru_df.filter(F.col("inout_cd") == "I"), "pru")
        tt = arm(txnlog.read_table(spark, path, 0), "tt")
        cdc = arm(txnlog.table_changes(spark, path, 0, s2.version,
                                       key="encounter_num"),
                  "cdc", ct=None)
        txnlog.drop_partition(spark, path, values={"inout_cd": "O"})
        s3 = txnlog.snapshot(path)
        assert txnlog.read_table(spark, path).filter(
            "inout_cd = 'O'").count() == 0
        dcd = arm(txnlog.table_changes(spark, path, s2.version,
                                       s3.version,
                                       key="encounter_num"),
                  "dcd", ct=None)
        out = cur.unionByName(pru).unionByName(tt).unionByName(cdc) \
                 .unionByName(dcd)
        return _snap_off_tmp(out, tmp).orderBy(
            "arm", "change_type", "encounter_num")
    except BaseException:
        _rmtree(tmp)
        raise


def _part_01_oracle() -> str:
    ct = catalog.clinical_with_clause(("visit_dimension",))
    return ct.rstrip("\n") + """,
vis AS (SELECT encounter_num, patient_num, start_date, inout_cd
        FROM visit_dimension),
base AS (SELECT * FROM vis WHERE encounter_num < 400),
app AS (SELECT encounter_num, patient_num, start_date AS ts,
               inout_cd
        FROM vis WHERE encounter_num >= 400 AND encounter_num < 450
          AND inout_cd = 'O'),
upd AS (SELECT encounter_num, patient_num,
               start_date + INTERVAL 40 DAY AS ts, inout_cd
        FROM base WHERE inout_cd = 'I'
          AND encounter_num >= 100 AND encounter_num < 200),
cur AS (
  SELECT encounter_num, patient_num,
         CASE WHEN inout_cd = 'I' AND encounter_num >= 100
                   AND encounter_num < 200
              THEN start_date + INTERVAL 40 DAY ELSE start_date
         END AS ts, inout_cd
  FROM base
  UNION ALL SELECT * FROM app)
SELECT 'cur' AS arm, 'state' AS change_type, encounter_num,
       patient_num, ts, inout_cd AS io FROM cur
UNION ALL
SELECT 'pru' AS arm, 'state' AS change_type, encounter_num,
       patient_num, ts, inout_cd AS io FROM cur WHERE inout_cd = 'I'
UNION ALL
SELECT 'tt' AS arm, 'state' AS change_type, encounter_num,
       patient_num, start_date AS ts, inout_cd AS io FROM base
UNION ALL
SELECT 'cdc' AS arm, 'update_preimage' AS change_type, encounter_num,
       patient_num, start_date AS ts, inout_cd AS io
FROM base WHERE inout_cd = 'I'
  AND encounter_num >= 100 AND encounter_num < 200
UNION ALL
SELECT 'cdc' AS arm, 'update_postimage' AS change_type,
       encounter_num, patient_num, ts, inout_cd AS io FROM upd
UNION ALL
SELECT 'cdc' AS arm, 'insert' AS change_type, encounter_num,
       patient_num, ts, inout_cd AS io FROM app
UNION ALL
SELECT 'dcd' AS arm, 'delete' AS change_type, encounter_num,
       patient_num, ts, inout_cd AS io FROM cur WHERE inout_cd = 'O'
"""



def upd_01(spark, sf):
    """UPDATE ... SET as one atomic txnlog commit (r14,
    sources/txnlog.update_where — Delta's UPDATE verb; reference
    analogue: plain SQL UPDATE on stock Postgres): the (col, op,
    literal) conjunction prunes files control-plane first (partition
    values, then footer intervals), matched rows DELETION-VECTOR in
    place and the updated row versions stage as new files — rewrite
    bytes ∝ updated rows.  Arms: cur (post-update state) and cdc (the
    endpoint diff classifies exactly the updated keys as
    update_preimage/postimage pairs with no stored change column).
    Oracle = the same two arms in plain SQL."""
    from pyspark.sql import functions as F

    from ..sources import txnlog

    vis = catalog.visit_dimension(spark, sf).select(
        "encounter_num", "patient_num", "start_date", "inout_cd")
    base = vis.filter(F.col("encounter_num") < 400)
    tmp = tempfile.mkdtemp(prefix="spark_upd01_")
    try:
        path = tmp + "/tbl"
        txnlog.create_table(
            spark, base.repartitionByRange(4, "encounter_num"), path,
            key="encounter_num")
        v0 = txnlog.snapshot(path)
        snap = txnlog.update_where(
            spark, path, key="encounter_num",
            filters=[("encounter_num", ">=", 100),
                     ("encounter_num", "<", 200),
                     ("inout_cd", "=", "I")],
            assignments={
                "start_date": F.col("start_date")
                + F.expr("INTERVAL 40 DAYS"),
                "inout_cd": F.lit("U")})
        assert any(s.get("dv") for s in snap.files.values()), \
            "a sparse update must commit merge-on-read"
        snap = txnlog.delete_where(
            spark, path, key="encounter_num",
            filters=[("encounter_num", ">=", 300),
                     ("encounter_num", "<", 320),
                     ("inout_cd", "=", "O")])
        cur = (txnlog.read_table(spark, path)
               .select(F.lit("cur").alias("arm"),
                       F.lit("state").alias("change_type"),
                       "encounter_num", "patient_num",
                       F.col("start_date").alias("ts"),
                       F.col("inout_cd").alias("io")))
        cdc = (txnlog.table_changes(spark, path, v0.version,
                                    snap.version,
                                    key="encounter_num")
               .select(F.lit("cdc").alias("arm"), "change_type",
                       "encounter_num", "patient_num",
                       F.col("start_date").alias("ts"),
                       F.col("inout_cd").alias("io")))
        return _snap_off_tmp(cur.unionByName(cdc), tmp).orderBy(
            "arm", "change_type", "encounter_num")
    except BaseException:
        _rmtree(tmp)
        raise


def _upd_01_oracle() -> str:
    ct = catalog.clinical_with_clause(("visit_dimension",))
    return ct.rstrip("\n") + """,
vis AS (SELECT encounter_num, patient_num, start_date, inout_cd
        FROM visit_dimension),
base AS (SELECT * FROM vis WHERE encounter_num < 400),
hit AS (SELECT * FROM base WHERE inout_cd = 'I'
          AND encounter_num >= 100 AND encounter_num < 200),
upd AS (SELECT encounter_num, patient_num,
               start_date + INTERVAL 40 DAY AS ts, 'U' AS io
        FROM hit),
dead AS (SELECT * FROM base WHERE inout_cd = 'O'
           AND encounter_num >= 300 AND encounter_num < 320),
cur AS (
  SELECT encounter_num, patient_num, start_date AS ts,
         inout_cd AS io FROM base
  WHERE NOT (inout_cd = 'I' AND encounter_num >= 100
             AND encounter_num < 200)
    AND NOT (inout_cd = 'O' AND encounter_num >= 300
             AND encounter_num < 320)
  UNION ALL SELECT * FROM upd)
SELECT 'cur' AS arm, 'state' AS change_type, encounter_num,
       patient_num, ts, io FROM cur
UNION ALL
SELECT 'cdc' AS arm, 'update_preimage' AS change_type, encounter_num,
       patient_num, start_date AS ts, inout_cd AS io FROM hit
UNION ALL
SELECT 'cdc' AS arm, 'update_postimage' AS change_type,
       encounter_num, patient_num, ts, io FROM upd
UNION ALL
SELECT 'cdc' AS arm, 'delete' AS change_type, encounter_num,
       patient_num, start_date AS ts, inout_cd AS io FROM dead
"""



def stats_01(spark, sf):
    """Metadata-only ANALYZE: per-column rows / null-count / min / max
    assembled from parquet ROW-GROUP FOOTERS alone — no data scan.
    This is how table statistics work at 100 TB (Iceberg manifests,
    Delta stats, the planner inputs that drive join reordering and
    data skipping): footers are KB-sized per file, so the profile
    reads metadata ∝ files while the data stays cold.

    Distributed shape: the FILE is the parallelism unit — the file
    list maps through Arrow-batched mapInPandas where each task opens
    only footers (pyarrow.ParquetFile.metadata), then a vocabulary-
    sized groupBy merges per-row-group stats (min/max/sum are exactly
    the mergeable shape footer stats exist for).  The profiled table
    is first written through the real parquet sink with PLANTED nulls
    (props nulled where event_id % 7 == 0) so the null-count arm is
    load-bearing — the raw fixtures have zero footer nulls.  The
    oracle recomputes identical statistics FROM THE DATA, so a hash
    match certifies footer statistics are trustworthy planner
    inputs."""
    ev = T(spark, sf, "events").select(
        "event_id", "user_id", "value",
        F.when(F.pmod("event_id", F.lit(7)) != 0,
               F.col("props")).alias("props"))
    tmp = tempfile.mkdtemp(prefix="spark_stats01_")
    try:
        import os as _os

        path = tmp + "/t"
        ev.repartitionByRange(4, "event_id").write.parquet(path)
        files = sorted(_os.path.join(path, n)
                       for n in _os.listdir(path)
                       if n.endswith(".parquet"))
        fl = local_frame(spark, [(f,) for f in files], "f string")

        def read_footers(it):
            import pandas as pd
            import pyarrow.parquet as pq
            numeric = {"event_id", "user_id", "value"}
            for pdf in it:
                rows = []
                for fp in pdf["f"]:
                    md = pq.ParquetFile(fp).metadata
                    for rgi in range(md.num_row_groups):
                        rg = md.row_group(rgi)
                        for ci in range(rg.num_columns):
                            cm = rg.column(ci)
                            st = cm.statistics
                            name = cm.path_in_schema
                            if name in numeric:
                                rows.append((name, rg.num_rows,
                                             st.null_count,
                                             float(st.min),
                                             float(st.max)))
                            elif name == "props":
                                rows.append((name, rg.num_rows,
                                             st.null_count, None, None))
                yield pd.DataFrame(
                    rows, columns=["col", "n", "nulls", "mn", "mx"])

        per = fl.mapInPandas(
            read_footers,
            "col string, n long, nulls long, mn double, mx double")
        agg = (per.groupBy("col")
               .agg(F.sum("n").alias("n_rows"),
                    F.sum("nulls").alias("n_nulls"),
                    F.round(F.min("mn"), 4).alias("min_v"),
                    F.round(F.max("mx"), 4).alias("max_v"))
               .orderBy("col"))
        return _snap_off_tmp(agg, tmp)
    except BaseException:
        _rmtree(tmp)
        raise


_STATS_01_ORACLE = """
WITH ev AS (
  SELECT event_id, user_id, value,
         CASE WHEN event_id % 7 <> 0 THEN props END AS props
  FROM events)
SELECT 'event_id' AS col, count(*) AS n_rows,
       CAST(0 AS BIGINT) AS n_nulls,
       CAST(ROUND(min(event_id), 4) AS DOUBLE) AS min_v,
       CAST(ROUND(max(event_id), 4) AS DOUBLE) AS max_v
FROM ev
UNION ALL
SELECT 'props', count(*),
       CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       NULL, NULL
FROM ev
UNION ALL
SELECT 'user_id', count(*), CAST(0 AS BIGINT),
       CAST(ROUND(min(user_id), 4) AS DOUBLE),
       CAST(ROUND(max(user_id), 4) AS DOUBLE)
FROM ev
UNION ALL
SELECT 'value', count(*), CAST(0 AS BIGINT),
       CAST(ROUND(min(value), 4) AS DOUBLE),
       CAST(ROUND(max(value), 4) AS DOUBLE)
FROM ev
"""


def cdc_03(spark, sf):
    """Per-version change feed (sources/txnlog.table_changes_range —
    Delta's readChangeFeed shape): cdc_02's table history plus a v3
    MERGE that re-inserts encounters 0-4 with their ORIGINAL values.
    The endpoint diff correctly suppresses those (net no change); the
    per-version feed must show delete@2 THEN insert@3 — the
    intermediate-visibility contract a downstream consumer replaying
    effects in order depends on, stated exactly by the oracle's three
    pairwise-diff blocks."""
    from ..sources import txnlog

    vis = catalog.visit_dimension(spark, sf).select(
        "encounter_num", "patient_num", "start_date", "inout_cd")
    base = vis.filter(F.col("encounter_num") < 400)
    tmp = tempfile.mkdtemp(prefix="spark_cdc03_")
    try:
        path = tmp + "/tbl"
        txnlog.create_table(
            spark, base.repartitionByRange(4, "encounter_num"), path,
            key="encounter_num")
        ups = (base.filter((F.col("encounter_num") >= 100)
                           & (F.col("encounter_num") < 200))
               .select("encounter_num", "patient_num",
                       (F.col("start_date") + F.expr("INTERVAL 40 DAYS"))
                        .alias("start_date"),
                       F.lit("U").alias("inout_cd")))
        ins = vis.filter((F.col("encounter_num") >= 400)
                         & (F.col("encounter_num") < 450))
        txnlog.merge(spark, path, ups.unionByName(ins),
                     key="encounter_num")                        # v1
        txnlog.delete_range(spark, path, key="encounter_num",
                            lo=0, hi=50)                         # v2
        txnlog.merge(spark, path,
                     base.filter(F.col("encounter_num") < 5),
                     key="encounter_num")                        # v3
        out = txnlog.table_changes_range(spark, path, 0,
                                         key="encounter_num")
        return _snap_off_tmp(out, tmp).orderBy(
            "commit_version", "encounter_num", "change_type")
    except BaseException:
        _rmtree(tmp)
        raise


def _cdc_03_oracle() -> str:
    ct = catalog.clinical_with_clause(("visit_dimension",))

    def diff(old: str, new: str, v: int) -> str:
        return f"""
SELECT n.*, 'insert' AS change_type, CAST({v} AS BIGINT)
           AS commit_version
FROM {new} n LEFT JOIN {old} o ON n.encounter_num = o.encounter_num
WHERE o.encounter_num IS NULL
UNION ALL
SELECT o.*, 'delete' AS change_type, CAST({v} AS BIGINT)
FROM {old} o LEFT JOIN {new} n ON o.encounter_num = n.encounter_num
WHERE n.encounter_num IS NULL
UNION ALL
SELECT o.*, 'update_preimage' AS change_type, CAST({v} AS BIGINT)
FROM {old} o JOIN {new} n ON o.encounter_num = n.encounter_num
WHERE o.patient_num IS DISTINCT FROM n.patient_num
   OR o.start_date IS DISTINCT FROM n.start_date
   OR o.inout_cd IS DISTINCT FROM n.inout_cd
UNION ALL
SELECT n.*, 'update_postimage' AS change_type, CAST({v} AS BIGINT)
FROM {old} o JOIN {new} n ON o.encounter_num = n.encounter_num
WHERE o.patient_num IS DISTINCT FROM n.patient_num
   OR o.start_date IS DISTINCT FROM n.start_date
   OR o.inout_cd IS DISTINCT FROM n.inout_cd
"""

    return ct.rstrip("\n") + f""",
vis AS (SELECT encounter_num, patient_num, start_date, inout_cd
        FROM visit_dimension),
v0 AS (SELECT * FROM vis WHERE encounter_num < 400),
ups AS (SELECT encounter_num, patient_num,
               start_date + INTERVAL 40 DAY AS start_date,
               'U' AS inout_cd
        FROM v0 WHERE encounter_num >= 100 AND encounter_num < 200),
ins AS (SELECT * FROM vis
        WHERE encounter_num >= 400 AND encounter_num < 450),
batch AS (SELECT * FROM ups UNION ALL SELECT * FROM ins),
v1 AS (SELECT * FROM v0
       WHERE encounter_num NOT IN (SELECT encounter_num FROM batch)
       UNION ALL SELECT * FROM batch),
v2 AS (SELECT * FROM v1
       WHERE NOT (encounter_num >= 0 AND encounter_num < 50)),
reins AS (SELECT * FROM v0 WHERE encounter_num < 5),
v3 AS (SELECT * FROM v2
       WHERE encounter_num NOT IN (SELECT encounter_num FROM reins)
       UNION ALL SELECT * FROM reins)
{diff("v0", "v1", 1)}
UNION ALL
{diff("v1", "v2", 2)}
UNION ALL
{diff("v2", "v3", 3)}
"""


def _ups_01_oracle() -> str:
    ct = catalog.clinical_with_clause(("visit_dimension",))
    return ct.rstrip("\n") + """,
base AS (SELECT encounter_num, patient_num, start_date, inout_cd
         FROM visit_dimension WHERE encounter_num < 400),
batch AS (SELECT encounter_num, patient_num,
                 start_date + INTERVAL 40 DAY AS start_date,
                 'U' AS inout_cd
          FROM base WHERE encounter_num >= 100 AND encounter_num < 200)
SELECT * FROM base
WHERE encounter_num NOT IN (SELECT encounter_num FROM batch)
UNION ALL SELECT * FROM batch
"""


# ------------------------------------------------ SRC-06: JSONL corpus source

def src_jsonl(spark, sf):
    """SRC-06 JSONL corpus roundtrip: documents rendered to JSON lines
    (to_json, JVM), written through the real text sink, read back
    through the real schema'd JSON source — the interchange format
    every LLM training corpus ships in.  Oracle = identity selection;
    a hash match proves the serialize→file→parse loop loses nothing
    (incl. unicode escapes and embedded quotes).  Generalizes the
    reference's file-drop ingest surfaces (CDA XML REST drop,
    src/build.sh:260; §21 CSV drop, src/docker/database/Dockerfile:31)
    to the JSONL shape."""
    d = (T(spark, sf, "documents").filter(F.col("doc_id") < 500)
         .select("doc_id", "lang", "source", "text"))
    tmp = tempfile.mkdtemp(prefix="spark_jsonl_")
    try:
        path = tmp + "/corpus"
        (d.select(F.to_json(F.struct("doc_id", "lang", "source", "text"))
                   .alias("value"))
          .write.mode("overwrite").text(path))
        return _snap_off_tmp(
            spark.read
                 .schema("doc_id bigint, lang string, source string, "
                         "text string")
                 .json(path), tmp).orderBy("doc_id")
    except BaseException:
        _rmtree(tmp)
        raise


_SRC_JSONL_ORACLE = ("SELECT doc_id, lang, source, text FROM documents "
                     "WHERE doc_id < 500 ORDER BY doc_id")


# ------------------------------------------------- SRC-05/SNK-03: broker loop

def brk_01(spark, sf):
    """SRC-05 + SNK-03: one full broker tick — drop a JSON request into
    the streamed inbox, poll_once executes the requested registry query
    and exports the result file (streaming/broker.py), then read the
    export back.  Oracle = the executed query's own oracle (agg_01), so
    a hash match certifies the request→execute→export path end to end
    (reference polls the AKTIN broker every PT1M, src/build.sh:255-256)."""
    base = tempfile.mkdtemp(prefix="spark_brk01_")
    try:
        inbox, outbox = f"{base}/inbox", f"{base}/outbox"
        broker.submit_request(inbox, "req1", "agg_01", sf)
        statuses = broker.poll_once(spark, inbox, outbox)
        assert statuses and statuses[0]["state"] == "completed", statuses
        out = spark.read.option("multiLine", "true") \
                   .json(f"{outbox}/req1.json")
        return _snap_off_tmp(
            out.select("o_orderstatus",
                       F.col("n").cast("long").alias("n")),
            base).orderBy("o_orderstatus")
    except BaseException:
        _rmtree(base)
        raise


_BRK_01_ORACLE = ("SELECT o_orderstatus, count(*) AS n FROM orders "
                  "GROUP BY o_orderstatus")


# ------------------------------------------------- SRC-07: ORC interchange

def src_orc(spark, sf):
    """SRC-07 columnar-interchange roundtrip: the full typed row shape
    (ints, decimals-as-double, dates, strings) through the built-in ORC
    sink and source — the second columnar wire format a lake must speak
    besides parquet.  Oracle = identity selection; a hash match proves
    types survive the format boundary (ORC's own type model, not
    parquet's)."""
    o = (T(spark, sf, "orders").filter(F.col("o_orderkey") < 2000)
         .select("o_orderkey", "o_custkey", "o_orderstatus",
                 "o_totalprice", "o_orderdate", "o_orderpriority"))
    base = tempfile.mkdtemp(prefix="spark_orc_")
    try:
        path = base + "/orders"
        o.write.mode("overwrite").orc(path)
        return _snap_off_tmp(spark.read.orc(path),
                             base).orderBy("o_orderkey")
    except BaseException:
        _rmtree(base)
        raise


_SRC_ORC_ORACLE = (
    "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
    "o_orderdate, o_orderpriority FROM orders WHERE o_orderkey < 2000 "
    "ORDER BY o_orderkey")


def bkt_01(spark, sf):
    """SRC-09 bucketed-storage roundtrip: orders and customer written
    as SAME-BUCKETED tables on the join key (bucketBy(8, k) — the
    Spark analogue of the reference's patient_num B-tree index,
    src/docker/database/Dockerfile:25-34), then joined SHUFFLE-FREE
    (no Exchange on either side, plan-asserted in test_plans) and
    aggregated per nation.  The hash certifies the bytes really went
    table → bucketed files → catalog → join — not just that the plan
    looks right.  At 100 TB co-located storage is the difference
    between moving both tables on every join and moving nothing;
    bucketing pays the layout cost ONCE at write time."""
    import uuid

    from ..functions.barrier import materialize
    from ..functions.determinism import dsum
    from ..sources.bucketed import bucketed_join, write_bucketed

    tag = uuid.uuid4().hex[:8]
    t_o, t_c = f"bkt01_o_{tag}", f"bkt01_c_{tag}"
    o = T(spark, sf, "orders").select(
        F.col("o_custkey").alias("k"), "o_totalprice")
    c = T(spark, sf, "customer").select(
        F.col("c_custkey").alias("k"), "c_nationkey")
    try:
        write_bucketed(o, t_o, bucket_col="k", n_buckets=8)
        write_bucketed(c, t_c, bucket_col="k", n_buckets=8)
        j = bucketed_join(spark, t_o, t_c, "k")
        return materialize(
            j.groupBy("c_nationkey")
             .agg(F.count("*").alias("n_orders"),
                  dsum("o_totalprice").alias("revenue"))) \
            .orderBy("c_nationkey")
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t_o}")
        spark.sql(f"DROP TABLE IF EXISTS {t_c}")


_BKT_01_ORACLE = f"""
SELECT c_nationkey, count(*) AS n_orders,
       {sql_dsum("o_totalprice")} AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_nationkey ORDER BY c_nationkey
"""


def src_evo(spark, sf):
    """SRC-08 schema-evolution read: two landing batches written with
    DIFFERENT schemas (batch 2 adds o_orderstatus — the column-added
    migration every long-lived lake table goes through), read back as
    ONE table via mergeSchema; rows from the old batch surface the new
    column as NULL.  Oracle = the same union derivation in SQL, so the
    hash certifies the merged read loses neither rows nor the old
    batch's values.  At 100 TB this is the contract that lets a
    pipeline add columns without rewriting history (the reference's
    monthly re-imports changed the §21 schema across years the same
    way, src/docker/database/Dockerfile:31)."""
    o = T(spark, sf, "orders").filter(F.col("o_orderkey") < 2000)
    base = tempfile.mkdtemp(prefix="spark_evo_")
    try:
        path = base + "/t"
        (o.filter(F.col("o_orderkey") % 2 == 0)
         .select("o_orderkey", "o_totalprice")
         .write.mode("overwrite").parquet(path + "/b=1"))
        (o.filter(F.col("o_orderkey") % 2 == 1)
         .select("o_orderkey", "o_totalprice", "o_orderstatus")
         .write.mode("overwrite").parquet(path + "/b=2"))
        merged = (spark.read.option("mergeSchema", "true").parquet(path)
                  .drop("b"))
        return _snap_off_tmp(merged, base).orderBy("o_orderkey")
    except BaseException:
        _rmtree(base)
        raise


_SRC_EVO_ORACLE = """
SELECT o_orderkey, o_totalprice,
       CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus END AS o_orderstatus
FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey
"""


# ------------------------------------ sqlv_01: SQL write-verb surface

def sqlv_01(spark, sf):
    """SQL statement surface over the txnlog write verbs (r15, VERDICT
    r14 item 5): UPDATE ... SET ... WHERE, DELETE FROM ... WHERE,
    MERGE INTO ... USING (upsert star-shape) and ALTER TABLE ... DROP
    PARTITION all dispatched as SQL TEXT through sources/txnsql onto a
    PARTITIONED + COLUMN-MAPPED table — the reference's users speak
    exactly this dialect to stock Postgres
    (src/docker/database/Dockerfile:8).  Oracle = the same four verbs
    as pure SQL set algebra; a hash match certifies the parser, the
    conjunction filters, the one-projection SET semantics, and the
    metadata-only partition drop end to end."""
    from ..sources import txnlog, txnsql

    base = (T(spark, sf, "orders")
            .filter(F.col("o_orderkey") < 4000)
            .select("o_orderkey", "o_orderstatus",
                    F.col("o_orderpriority").alias("prio"),
                    "o_totalprice"))
    tmp = tempfile.mkdtemp(prefix="spark_sqlv01_")
    try:
        path = tmp + "/tbl"
        txnlog.create_table(
            spark, base.repartitionByRange(2, "o_orderkey"), path,
            key="o_orderkey", partition_by=["o_orderstatus"])
        txnlog.rename_column(spark, path, old="prio", new="p_prio")
        t = f"txnlog.`{path}`"
        txnsql.sql(spark, f"""
            UPDATE {t}
            SET p_prio = concat('u', p_prio),
                o_totalprice = o_totalprice + 1
            WHERE o_orderkey < 500""")
        txnsql.sql(spark, f"DELETE FROM {t} WHERE o_orderkey >= 1000 "
                          f"AND o_orderkey < 1600")
        batch = (base.filter((F.col("o_orderkey") >= 2000)
                             & (F.col("o_orderkey") < 2400))
                 .select("o_orderkey", "o_orderstatus",
                         F.lit("M").alias("p_prio"),
                         F.lit(0.0).alias("o_totalprice"))
                 .unionByName(spark.range(5).select(
                     (F.col("id") + 100000).alias("o_orderkey"),
                     F.lit("O").alias("o_orderstatus"),
                     F.lit("NEW").alias("p_prio"),
                     F.lit(1.0).alias("o_totalprice"))))
        batch.createOrReplaceTempView("_sqlv01_batch")
        txnsql.sql(spark, f"""
            MERGE INTO {t} AS a USING _sqlv01_batch AS b
            ON a.o_orderkey = b.o_orderkey
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *""")
        txnsql.sql(spark, f"ALTER TABLE {t} "
                          f"DROP PARTITION (o_orderstatus = 'P')")
        return _snap_off_tmp(
            txnlog.read_table(spark, path), tmp).orderBy("o_orderkey")
    except BaseException:
        _rmtree(tmp)
        raise


_SQLV_01_ORACLE = """
WITH src AS (
    SELECT o_orderkey, o_orderstatus, o_orderpriority AS p_prio,
           o_totalprice
    FROM orders WHERE o_orderkey < 4000),
upd AS (
    SELECT o_orderkey, o_orderstatus,
           CASE WHEN o_orderkey < 500 THEN 'u' || p_prio
                ELSE p_prio END AS p_prio,
           CASE WHEN o_orderkey < 500 THEN o_totalprice + 1
                ELSE o_totalprice END AS o_totalprice
    FROM src),
del AS (
    SELECT * FROM upd
    WHERE NOT (o_orderkey >= 1000 AND o_orderkey < 1600)),
batch AS (
    SELECT o_orderkey, o_orderstatus, 'M' AS p_prio,
           CAST(0 AS DOUBLE) AS o_totalprice
    FROM orders WHERE o_orderkey >= 2000 AND o_orderkey < 2400
    UNION ALL
    SELECT 100000 + range, 'O', 'NEW', CAST(1 AS DOUBLE)
    FROM range(5)),
merged AS (
    SELECT * FROM del
    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM batch)
    UNION ALL SELECT * FROM batch)
SELECT o_orderkey, o_orderstatus, p_prio, o_totalprice FROM merged
WHERE o_orderstatus <> 'P'
"""


# --------------------------- dstr_01: foreign Delta STREAMING source

def dstr_01(spark, sf):
    """Foreign-Delta STREAMING tail (r15): readStream directly off an
    externally-written ``_delta_log`` (sources/deltastream — no
    import step), two availableNow triggers across a foreign append,
    exactly-once into the txnlog sink, with ``_commit_version``
    certifying the version→row assignment.  Oracle = the same two
    commits as set algebra with the version derived from the key
    band.  Reference analogue: the broker's incremental poll loop
    against an engine it doesn't control (src/build.sh:255)."""
    import json as _json
    import os as _os

    import duckdb as _duckdb

    from ..sources import deltastream, txnbatch, txnlog
    deltastream.register(spark)
    txnbatch.register(spark)

    tmp = tempfile.mkdtemp(prefix="spark_dstr01_")
    try:
        t = _os.path.join(tmp, "foreign")
        log = _os.path.join(t, "_delta_log")
        _os.makedirs(log)
        con = _duckdb.connect()
        con.execute("PRAGMA threads=1")
        src = f"{sf}/orders.parquet"
        sel = ("SELECT o_orderkey, o_orderstatus, o_totalprice "
               f"FROM read_parquet('{src}') WHERE o_orderkey < 3000 ")
        con.execute(f"COPY ({sel} ORDER BY o_orderkey) TO "
                    f"'{t}/base.parquet' (FORMAT PARQUET)")
        fields = [{"name": n, "type": ty, "nullable": True,
                   "metadata": {}}
                  for n, ty in (("o_orderkey", "long"),
                                ("o_orderstatus", "string"),
                                ("o_totalprice", "double"))]

        def _commit(v, actions):
            with open(_os.path.join(log, f"{v:020d}.json"),
                      "w") as f:
                for a in actions:
                    f.write(_json.dumps(a) + "\n")

        _commit(0, [
            {"protocol": {"minReaderVersion": 1,
                          "minWriterVersion": 2}},
            {"metaData": {
                "id": "dstr-fixture", "format":
                    {"provider": "parquet", "options": {}},
                "schemaString": _json.dumps(
                    {"type": "struct", "fields": fields}),
                "partitionColumns": [], "configuration": {},
                "createdTime": 0}},
            {"add": {"path": "base.parquet", "partitionValues": {},
                     "size": 1, "modificationTime": 0,
                     "dataChange": True}},
        ])
        rep = _os.path.join(tmp, "rep")
        ck = _os.path.join(tmp, "ck")

        def run():
            await_query(lambda: (
                spark.readStream.format("delta_stream")
                .option("path", t).load()
                .writeStream.format("txnlog")
                .option("path", rep).option("key", "o_orderkey")
                .option("txnAppId", "dstr01")
                .option("checkpointLocation", ck)
                .trigger(availableNow=True).start()))

        run()
        con.execute("COPY (SELECT 10000 + range AS o_orderkey, "
                    "'Z' AS o_orderstatus, "
                    "CAST(1.5 AS DOUBLE) AS o_totalprice "
                    f"FROM range(50)) TO '{t}/app.parquet' "
                    "(FORMAT PARQUET)")
        con.close()
        _commit(1, [{"commitInfo": {"operation": "WRITE"}},
                    {"add": {"path": "app.parquet",
                             "partitionValues": {}, "size": 1,
                             "modificationTime": 1,
                             "dataChange": True}}])
        run()
        # r16 (VERDICT r15 item 1): the third, EMPTY trigger that ran
        # here cost a full streaming lifecycle (~1.3 s: a fresh
        # python_streaming_source_runner spawn + query start) and
        # proved only "nothing new delivers nothing" — a property the
        # returned frame cannot witness (identical with or without it)
        # and which tests/test_delta_conformance.py's
        # test_delta_stream_source_tails_foreign_log pins explicitly
        # (`assert run().count() == 50` on an empty restart).  The two
        # kept lifecycles still certify the load-bearing semantics:
        # run 2 restarts from the checkpoint and must deliver ONLY the
        # foreign append (a re-delivery would double rows and fail the
        # oracle hash).
        return _snap_off_tmp(
            txnlog.read_table(spark, rep), tmp).orderBy("o_orderkey")
    except BaseException:
        _rmtree(tmp)
        raise


_DSTR_01_ORACLE = """
SELECT o_orderkey, o_orderstatus, o_totalprice,
       CAST(0 AS BIGINT) AS _commit_version
FROM orders WHERE o_orderkey < 3000
UNION ALL
SELECT 10000 + range AS o_orderkey, 'Z' AS o_orderstatus,
       CAST(1.5 AS DOUBLE) AS o_totalprice,
       CAST(1 AS BIGINT) AS _commit_version
FROM range(50)
"""


# --------------------------------------- dimp_01: foreign Delta import

def dimp_01(spark, sf):
    """Foreign-Delta-table IMPORT roundtrip (r15, VERDICT r14 item 1):
    author a Delta table the way an external engine would — data files
    written by DuckDB (a third parquet writer, single-threaded so file
    row order is deterministic), a hand-written ``_delta_log`` whose
    version-0 commit carries a commitInfo line, three adds, and a
    RUN-encoded deletion vector hand-packed per PROTOCOL.md (not our
    serializer), and whose version-1 commit REMOVES one file — then
    import it through sources/delta_import into a txnlog table and
    return the recovered rows.  Oracle = the identity derivation with
    the removed file's rows absent and the DV's dead row POSITIONS
    (ranks 5..24 of the even-key file) excluded; a hash match proves
    the foreign log replay, (path, dvId) reconciliation, run-container
    DV decode and txnlog materialization lost nothing.  Reference
    analogue: the broker exchange format consumed from systems the DWH
    doesn't control (src/build.sh:255)."""
    import json as _json
    import os as _os
    import struct as _struct

    import duckdb as _duckdb

    from ..sources import delta_import, txnlog

    tmp = tempfile.mkdtemp(prefix="spark_dimp01_")
    try:
        t = _os.path.join(tmp, "foreign")
        _os.makedirs(t)
        con = _duckdb.connect()
        con.execute("PRAGMA threads=1")
        src = f"{sf}/orders.parquet"
        sel = ("SELECT o_orderkey, o_orderstatus, o_totalprice "
               f"FROM read_parquet('{src}') WHERE o_orderkey < 4000 ")
        con.execute(f"COPY ({sel} AND o_orderkey % 2 = 0 "
                    "ORDER BY o_orderkey) TO "
                    f"'{t}/even.parquet' (FORMAT PARQUET)")
        con.execute(f"COPY ({sel} AND o_orderkey % 2 = 1 "
                    "ORDER BY o_orderkey) TO "
                    f"'{t}/odd.parquet' (FORMAT PARQUET)")
        con.execute(f"COPY ({sel} LIMIT 10) TO "
                    f"'{t}/gone.parquet' (FORMAT PARQUET)")
        con.close()
        # dead rows 5..24 of even.parquet as ONE run container —
        # hand-packed RoaringFormatSpec bytes, not our serializer
        bm = (_struct.pack("<HH", 12347, 0) + bytes([1])
              + _struct.pack("<HH", 0, 19)          # key 0, card-1
              + _struct.pack("<H", 1)               # 1 run
              + _struct.pack("<HH", 5, 19))         # 5..5+19
        data = (_struct.pack("<i", 1681511377) + _struct.pack("<q", 1)
                + _struct.pack("<i", 0) + bm)
        from ..sources.delta_export import z85_encode
        dv = {"storageType": "i", "pathOrInlineDv": z85_encode(data),
              "sizeInBytes": len(data), "cardinality": 20}
        fields = [{"name": n, "type": ty, "nullable": True,
                   "metadata": {}}
                  for n, ty in (("o_orderkey", "long"),
                                ("o_orderstatus", "string"),
                                ("o_totalprice", "double"))]
        log = _os.path.join(t, "_delta_log")
        _os.makedirs(log)
        with open(_os.path.join(log, f"{0:020d}.json"), "w") as f:
            for a in (
                {"commitInfo": {"operation": "WRITE",
                                "engineInfo": "foreign/1.0"}},
                {"protocol": {"minReaderVersion": 3,
                              "minWriterVersion": 7,
                              "readerFeatures": ["deletionVectors"],
                              "writerFeatures": ["deletionVectors"]}},
                {"metaData": {
                    "id": "dimp-fixture", "format":
                        {"provider": "parquet", "options": {}},
                    "schemaString": _json.dumps(
                        {"type": "struct", "fields": fields}),
                    "partitionColumns": [], "configuration": {},
                    "createdTime": 0}},
                {"add": {"path": "even.parquet", "partitionValues": {},
                         "size": 1, "modificationTime": 0,
                         "dataChange": True, "deletionVector": dv}},
                {"add": {"path": "odd.parquet", "partitionValues": {},
                         "size": 1, "modificationTime": 0,
                         "dataChange": True}},
                {"add": {"path": "gone.parquet", "partitionValues": {},
                         "size": 1, "modificationTime": 0,
                         "dataChange": True}},
            ):
                f.write(_json.dumps(a) + "\n")
        with open(_os.path.join(log, f"{1:020d}.json"), "w") as f:
            f.write(_json.dumps({"remove": {
                "path": "gone.parquet", "deletionTimestamp": 1,
                "dataChange": True}}) + "\n")
        imp = _os.path.join(tmp, "imported")
        delta_import.import_delta_log(spark, t, imp, key="o_orderkey")
        return _snap_off_tmp(
            txnlog.read_table(spark, imp), tmp).orderBy("o_orderkey")
    except BaseException:
        _rmtree(tmp)
        raise


_DIMP_01_ORACLE = """
WITH src AS (
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey < 4000),
evens AS (
    SELECT *, ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rn
    FROM src WHERE o_orderkey % 2 = 0)
SELECT o_orderkey, o_orderstatus, o_totalprice FROM evens
WHERE rn < 5 OR rn > 24
UNION ALL
SELECT o_orderkey, o_orderstatus, o_totalprice FROM src
WHERE o_orderkey % 2 = 1
"""


# ------------------------------- dsync_01: incremental foreign sync

def dsync_01(spark, sf):
    """Incremental foreign-Delta SYNC roundtrip (r15): import a
    DuckDB-written Delta table at version 0, then author three MORE
    foreign commits the way an external engine would — an append (plus
    an exactly-once txn watermark), a rewrite-delete (remove + thinner
    re-add), and a merge-on-read delete (re-add of a live file with a
    hand-packed RUN deletion vector) — and replicate all three with
    ONE ``sync_delta_log`` call (one txnlog commit per foreign
    version, progress on the txn channel).  Oracle = the same three
    mutations as SQL set algebra; the hash match certifies the cursor
    arithmetic, per-commit replay, remove→rel-path mapping on a
    partition-free layout, and DV decode-on-sync end to end.
    Reference analogue: the broker POLLS its exchange partner for new
    submissions (src/build.sh:255)."""
    import json as _json
    import os as _os
    import struct as _struct

    import duckdb as _duckdb

    from ..sources import delta_import, txnlog
    from ..sources.delta_export import z85_encode

    tmp = tempfile.mkdtemp(prefix="spark_dsync01_")
    try:
        t = _os.path.join(tmp, "foreign")
        log = _os.path.join(t, "_delta_log")
        _os.makedirs(log)
        con = _duckdb.connect()
        con.execute("PRAGMA threads=1")
        src = f"{sf}/orders.parquet"
        sel = ("SELECT o_orderkey, o_orderstatus, o_totalprice "
               f"FROM read_parquet('{src}') WHERE o_orderkey < 3000 ")
        con.execute(f"COPY ({sel} AND o_orderkey < 1500 "
                    f"ORDER BY o_orderkey) TO '{t}/a.parquet' "
                    f"(FORMAT PARQUET)")
        con.execute(f"COPY ({sel} AND o_orderkey >= 1500 "
                    f"ORDER BY o_orderkey) TO '{t}/b.parquet' "
                    f"(FORMAT PARQUET)")
        fields = [{"name": n, "type": ty, "nullable": True,
                   "metadata": {}}
                  for n, ty in (("o_orderkey", "long"),
                                ("o_orderstatus", "string"),
                                ("o_totalprice", "double"))]

        def _commit(v, actions):
            with open(_os.path.join(log, f"{v:020d}.json"),
                      "w") as f:
                for a in actions:
                    f.write(_json.dumps(a) + "\n")

        def _add(p, dv=None):
            a = {"path": p, "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}
            if dv:
                a["deletionVector"] = dv
            return {"add": a}

        _commit(0, [
            {"protocol": {"minReaderVersion": 3,
                          "minWriterVersion": 7,
                          "readerFeatures": ["deletionVectors"],
                          "writerFeatures": ["deletionVectors"]}},
            {"metaData": {
                "id": "dsync-fixture", "format":
                    {"provider": "parquet", "options": {}},
                "schemaString": _json.dumps(
                    {"type": "struct", "fields": fields}),
                "partitionColumns": [], "configuration": {},
                "createdTime": 0}},
            _add("a.parquet"), _add("b.parquet"),
        ])
        imp = _os.path.join(tmp, "imported")
        delta_import.import_delta_log(spark, t, imp,
                                      key="o_orderkey")
        # foreign v1: append + watermark
        con.execute(f"COPY (SELECT 10000 + range AS o_orderkey, "
                    f"'Z' AS o_orderstatus, "
                    f"CAST(1.5 AS DOUBLE) AS o_totalprice "
                    f"FROM range(50)) TO '{t}/c.parquet' "
                    f"(FORMAT PARQUET)")
        _commit(1, [{"commitInfo": {"operation": "WRITE"}},
                    {"txn": {"appId": "up-9", "version": 4}},
                    _add("c.parquet")])
        # foreign v2: rewrite-delete of b (every 7th key gone)
        con.execute(f"COPY ({sel} AND o_orderkey >= 1500 AND "
                    f"o_orderkey % 7 <> 0 ORDER BY o_orderkey) TO "
                    f"'{t}/b2.parquet' (FORMAT PARQUET)")
        _commit(2, [{"remove": {"path": "b.parquet",
                                "deletionTimestamp": 2,
                                "dataChange": True}},
                    _add("b2.parquet")])
        con.close()
        # foreign v3: merge-on-read delete — a.parquet's ranks 10..29
        # die via a hand-packed run-container DV
        bm = (_struct.pack("<HH", 12347, 0) + bytes([1])
              + _struct.pack("<HH", 0, 19)
              + _struct.pack("<H", 1)
              + _struct.pack("<HH", 10, 19))        # 10..10+19
        data = (_struct.pack("<i", 1681511377)
                + _struct.pack("<q", 1)
                + _struct.pack("<i", 0) + bm)
        dv = {"storageType": "i", "pathOrInlineDv": z85_encode(data),
              "sizeInBytes": len(data), "cardinality": 20}
        _commit(3, [{"remove": {"path": "a.parquet",
                                "deletionTimestamp": 3,
                                "dataChange": True}},
                    _add("a.parquet", dv)])
        snap = delta_import.sync_delta_log(spark, t, imp)
        assert snap.txns["up-9"] == 4
        return _snap_off_tmp(
            txnlog.read_table(spark, imp), tmp).orderBy("o_orderkey")
    except BaseException:
        _rmtree(tmp)
        raise


_DSYNC_01_ORACLE = """
WITH src AS (
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey < 3000),
a AS (
    SELECT *, ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rn
    FROM src WHERE o_orderkey < 1500)
SELECT o_orderkey, o_orderstatus, o_totalprice FROM a
WHERE rn < 10 OR rn > 29
UNION ALL
SELECT o_orderkey, o_orderstatus, o_totalprice FROM src
WHERE o_orderkey >= 1500 AND o_orderkey % 7 <> 0
UNION ALL
SELECT 10000 + range AS o_orderkey, 'Z' AS o_orderstatus,
       CAST(1.5 AS DOUBLE) AS o_totalprice
FROM range(50)
"""


_DOCS = {
    "src_02": "SRC-02 SQL-script ingest (multi-statement run_sql_script)",
    "src_03": "SRC-03 CDA-XML shred roundtrip (mapInPandas parse)",
    "src_04": "SRC-04 P21 semicolon-CSV parse roundtrip (zip stays string)",
    "ups_01": "SNK-01/STR-09 +40-day upsert roundtrip through txnlog "
              "MERGE (8-file range-packed store)",
    "ups_02": "SNK-01 upsert through the transactional commit-log "
              "table format (txnlog ACID MERGE, footer-stats data "
              "skipping) over a 4-file store — result ≡ ups_01",
    "ds_01": "SRC-12 batch DataSource + SQL surface over the txnlog "
             "format (spark.read.format('txnlog'), versionAsOf time "
             "travel, DV masking in the source; v0 arm through plain "
             "SQL over a temp view)",
    "ds_02": "SRC-14 txnlog writer surface (r12): "
             "df.write.format('txnlog') create+append, writeStream "
             "sink with exactly-once batch replay (txn action in the "
             "commit), stats-pruned DataSource read-back",
    "rst_01": "RESTORE TO VERSION AS OF roundtrip: metadata-only "
              "rollback (file re-references + DV clears + schema) as "
              "one auditable commit; hash-certified against the plain "
              "base selection",
    "cdc_02": "Change-data feed over the commit-log table format "
              "(Delta-CDF shape from the version-asymmetric file "
              "sets; stats-skipped DELETE + MERGE between versions; "
              "unchanged-but-rewritten rows suppressed)",
    "stats_01": "Metadata-only ANALYZE: per-column rows/nulls/min/max "
                "from parquet row-group footers (no data scan; files "
                "as the parallelism unit via mapInPandas), certified "
                "against a from-the-data recomputation; planted-null "
                "column makes the null-count arm load-bearing",
    "cdc_03": "Per-version change feed over the commit-log format "
              "(Delta readChangeFeed shape): one classified diff per "
              "commit, version-tagged; intermediate states visible "
              "(delete@2 + identical re-insert@3, which the endpoint "
              "diff suppresses)",
    "cdc_04": "Atomic CDC APPLY: mixed insert/update/delete "
              "endpoint-diff batch in ONE commit "
              "(txnlog.apply_changes, the MERGE-with-DELETE shape); "
              "one-version atomicity asserted in the builder, data "
              "skipping prunes feed-disjoint files",
    "colmap_01": "Column mapping (r13): rename/drop as metadata-only "
                 "txnlog commits (Delta columnMapping mode 'name') — "
                 "merge on the renamed column, time travel across the "
                 "rename, fresh-physical re-add of a dropped name "
                 "(no resurrection), CDC endpoint diff across all of "
                 "it; file-identity and fresh-name asserted in the "
                 "builder",
    "upd_01": "UPDATE ... SET + DELETE WHERE as atomic txnlog "
              "commits (r14): conjunction-pruned, merge-on-read DVs "
              "+ updated-row staging, CDC pre/post pairs + deletes",
    "part_01": "Partitioned txnlog tables (r14): hive-layout create, "
               "partition-scoped merge, partition-pruned read "
               "(plan-asserted), metadata-only DROP PARTITION; time "
               "travel + CDC across every partition op",
    "brk_01": "SRC-05/SNK-03 broker request->execute->export roundtrip",
    "src_jsonl": "SRC-06 JSONL corpus sink->source roundtrip",
    "src_orc": "SRC-07 ORC columnar-interchange roundtrip (typed row "
               "shape through the built-in ORC sink/source)",
    "src_evo": "SRC-08 schema-evolution read: mergeSchema over batches "
               "with added columns (old rows surface NULL)",
    "bkt_01": "SRC-09 bucketed-storage roundtrip: same-bucketed "
              "tables joined shuffle-free (no Exchange, "
              "plan-asserted), aggregate hash-certified",
    "dimp_01": "Foreign Delta-table IMPORT (r15): DuckDB-written data "
               "files + hand-authored _delta_log (commitInfo, remove "
               "reconciliation, run-encoded DV per PROTOCOL.md) "
               "imported into txnlog via sources/delta_import; "
               "identity oracle with the DV's rank-positions excluded",
    "sqlv_01": "SQL write-verb surface (r15): UPDATE/DELETE/MERGE/"
               "ALTER DROP PARTITION dispatched as SQL text through "
               "sources/txnsql onto a partitioned + column-mapped "
               "txnlog table; oracle = the same verbs as SQL set "
               "algebra",
    "dstr_01": "Foreign-Delta streaming source (r15): readStream off "
               "an externally-written _delta_log (no import step), "
               "two availableNow triggers across a foreign append, "
               "exactly-once into the txnlog sink, _commit_version "
               "certifying version->row assignment; oracle = the two "
               "commits as set algebra",
    "dsync_01": "Incremental foreign-Delta sync (r15): import at v0, "
                "then replicate three externally-authored commits "
                "(append + txn watermark, rewrite-delete, run-DV "
                "merge-on-read delete) with one sync_delta_log call; "
                "oracle = the same mutations as SQL set algebra",
}


def specs() -> list[QuerySpec]:
    oracles = {
        "src_02": _SRC_02_ORACLE,
        "src_03": _src_03_oracle(),
        "src_04": _SRC_04_ORACLE,
        "ups_01": _ups_01_oracle(),
        "ups_02": _ups_01_oracle(),
        "ds_01": _ds_01_oracle(),
        "ds_02": _ds_02_oracle(),
        "rst_01": _rst_01_oracle(),
        "cdc_02": _cdc_02_oracle(),
        "cdc_03": _cdc_03_oracle(),
        "cdc_04": _cdc_04_oracle(),
        "colmap_01": _colmap_01_oracle(),
        "part_01": _part_01_oracle(),
        "upd_01": _upd_01_oracle(),
        "stats_01": _STATS_01_ORACLE,
        "brk_01": _BRK_01_ORACLE,
        "src_jsonl": _SRC_JSONL_ORACLE,
        "src_orc": _SRC_ORC_ORACLE,
        "src_evo": _SRC_EVO_ORACLE,
        "bkt_01": _BKT_01_ORACLE,
        "dimp_01": _DIMP_01_ORACLE,
        "sqlv_01": _SQLV_01_ORACLE,
        "dsync_01": _DSYNC_01_ORACLE,
        "dstr_01": _DSTR_01_ORACLE,
    }
    g = globals()
    return [QuerySpec(key=k, fn=g[k], oracle=oracles.get(k), doc=d,
                      tags=("roundtrip",))
            for k, d in _DOCS.items()]
