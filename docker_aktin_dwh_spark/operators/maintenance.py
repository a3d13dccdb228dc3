"""Table-maintenance operators: snapshot diff (CDC) and partitioned
data layout.

The reference's table lifecycle is monthly re-import with delete+insert
correction (§21 re-imports, aktin_init.sql — reference
src/docker/database/Dockerfile:31,33); SNK-01/ups_01 already drives the
merge side.  These operators cover the two maintenance verbs around it
that any 100 TB lakehouse runs constantly:

- ``cdc_01``: given two table snapshots, emit the row-level change set
  (insert/update/delete) — the diff that FEEDS an upsert merge, and the
  audit artifact a re-import pipeline wants before applying one.
- ``lay_01``: rewrite a table into a partitioned, sorted layout and
  read it back through a partition-pruned scan — the
  compaction/clustering step that decides whether every later query
  scans 100 TB or 100 GB.
"""

from __future__ import annotations

import tempfile
from functools import reduce

from pyspark.sql import DataFrame, functions as F

from .. import catalog
from ..functions.determinism import dsum
from ..registry import QuerySpec

T = catalog.load


# ----------------------------------------------------- CDC snapshot diff

def snapshot_diff(old: DataFrame, new: DataFrame, keys: list[str],
                  cols: list[str]) -> DataFrame:
    """Row-level diff of two snapshots sharing a primary key: one
    FULL OUTER join co-partitioned on the key (the single shuffle; with
    both snapshots bucketed by the key on a real lake it is
    shuffle-free), null-safe column comparison, unchanged rows dropped.

    Returns (keys..., op) with op ∈ insert/update/delete.  Column
    comparison uses eqNullSafe, never a serialized row hash — hashing
    formatted values would tie the diff to engine-specific float/date
    formatting (the cross-engine trap the determinism contract bans).

    Input contract (same for scd2_apply): key columns are non-null and
    unique per snapshot — presence is detected via key nullness after
    the outer join, and duplicate keys would fan the join out.  dq_01's
    pk_unique / null checks are the audit that gates this.
    """
    j, in_old, in_new, changed = _outer_diff(old, new, keys, cols)
    op = (F.when(~in_old, F.lit("insert"))
           .when(~in_new, F.lit("delete"))
           .when(changed, F.lit("update")))
    return (j.select(*[F.coalesce(F.col(f"o.{k}"), F.col(f"n.{k}"))
                       .alias(k) for k in keys],
                     op.alias("op"))
             .filter(F.col("op").isNotNull()))


def _outer_diff(old: DataFrame, new: DataFrame, keys: list[str],
                cols: list[str]):
    """Shared machinery of snapshot_diff and scd2_apply: the full-outer
    key join plus the presence/changed predicates (aliases 'o'/'n' on
    the joined frame)."""
    o, n = old.alias("o"), new.alias("n")
    cond = reduce(lambda a, b: a & b,
                  [F.col(f"o.{k}") == F.col(f"n.{k}") for k in keys])
    j = o.join(n, cond, "full_outer")
    in_old = F.col(f"o.{keys[0]}").isNotNull()
    in_new = F.col(f"n.{keys[0]}").isNotNull()
    changed = reduce(lambda a, b: a | b,
                     [~F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
                      for c in cols])
    return j, in_old, in_new, changed


def _cdc_snapshots(spark, sf):
    """Deterministic synthetic snapshot pair from the orders fixture:
    the 'new' snapshot inserts keys ≡3 (mod 10), deletes keys ≡7, and
    bumps o_totalprice by +1 for keys ≡0 (mod 5) — closed-form on both
    engine sides, exact in double arithmetic."""
    o = T(spark, sf, "orders").select("o_orderkey", "o_totalprice",
                                      "o_orderstatus")
    old = o.filter(F.col("o_orderkey") % 10 != 3)
    new = (o.filter(F.col("o_orderkey") % 10 != 7)
            .withColumn("o_totalprice",
                        F.when(F.col("o_orderkey") % 5 == 0,
                               F.col("o_totalprice") + 1)
                         .otherwise(F.col("o_totalprice"))))
    return old, new


def cdc_01(spark, sf):
    """Snapshot diff over the synthetic pair — emits the exact
    insert/update/delete change set, fully ordered on the key."""
    old, new = _cdc_snapshots(spark, sf)
    return (snapshot_diff(old, new, ["o_orderkey"],
                          ["o_totalprice", "o_orderstatus"])
            .orderBy("o_orderkey"))


_CDC_ORACLE = """
WITH oldsnap AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus
  FROM orders WHERE o_orderkey % 10 <> 3),
newsnap AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1
              ELSE o_totalprice END AS o_totalprice,
         o_orderstatus
  FROM orders WHERE o_orderkey % 10 <> 7),
d AS (
  SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
         CASE WHEN o.o_orderkey IS NULL THEN 'insert'
              WHEN n.o_orderkey IS NULL THEN 'delete'
              WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice
                OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
              THEN 'update' END AS op
  FROM oldsnap o FULL OUTER JOIN newsnap n ON o.o_orderkey = n.o_orderkey)
SELECT o_orderkey, op FROM d WHERE op IS NOT NULL ORDER BY o_orderkey
"""


# ------------------------------------------------- SCD2 history build

def scd2_apply(history_current: DataFrame, new_snap: DataFrame,
               keys: list[str], cols: list[str],
               batch_ts) -> DataFrame:
    """Slowly-changing-dimension type 2 step: fold one new snapshot
    into the OPEN slice of a history table.

    ``history_current`` is the open rows (valid_to IS NULL) with
    columns (keys..., cols..., valid_from); the result is the new open
    + newly-closed rows of this batch:

    - unchanged rows keep their valid_from, stay open;
    - changed rows emit a CLOSED row (valid_to = batch_ts) AND a new
      open row (valid_from = batch_ts);
    - inserted keys open at batch_ts; deleted keys close at batch_ts.

    Shape: ONE full-outer join on the key (same co-partitioning story
    as snapshot_diff — bucketed history makes it shuffle-free), then
    pure projection.  History grows by the churn, never rewritten in
    place — the append-only versioning discipline the reference's
    monthly re-imports need for auditability (delete+insert semantics,
    reference src/docker/database/Dockerfile:31,33)."""
    j, in_old, in_new, changed = _outer_diff(history_current, new_snap,
                                             keys, cols)
    ts = F.lit(batch_ts)
    key_sel = [F.coalesce(F.col(f"o.{k}"), F.col(f"n.{k}")).alias(k)
               for k in keys]

    # closed this batch: old row whose key changed or vanished
    closes = (j.filter(in_old & (~in_new | changed))
               .select(*key_sel,
                       *[F.col(f"o.{c}").alias(c) for c in cols],
                       F.col("o.valid_from").alias("valid_from"),
                       ts.alias("valid_to")))
    # still open: unchanged keep valid_from; changed/inserted open at ts
    opens = (j.filter(in_new)
              .select(*key_sel,
                      *[F.col(f"n.{c}").alias(c) for c in cols],
                      F.when(in_old & ~changed, F.col("o.valid_from"))
                       .otherwise(ts).alias("valid_from"),
                      F.lit(None).cast("string").alias("valid_to")))
    return closes.unionByName(opens)


def scd_01(spark, sf):
    """Two-batch SCD2 history over the synthetic snapshot pair: batch
    't0' loads the old snapshot, batch 't1' folds the new one in.  The
    emitted history is fully ordered and closed-form on both engine
    sides; every row's (valid_from, valid_to) lineage is part of the
    hash."""
    old, new = _cdc_snapshots(spark, sf)
    h0 = old.withColumn("valid_from", F.lit("t0")) \
            .withColumn("valid_to", F.lit(None).cast("string"))
    h1 = scd2_apply(h0.drop("valid_to"), new,
                    ["o_orderkey"], ["o_totalprice", "o_orderstatus"],
                    "t1")
    return h1.orderBy("o_orderkey", "valid_from",
                      F.col("valid_to").asc_nulls_last())


_SCD_ORACLE = """
WITH oldsnap AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus
  FROM orders WHERE o_orderkey % 10 <> 3),
newsnap AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1
              ELSE o_totalprice END AS o_totalprice,
         o_orderstatus
  FROM orders WHERE o_orderkey % 10 <> 7),
j AS (
  SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS k,
         o.o_orderkey IS NOT NULL AS in_old,
         n.o_orderkey IS NOT NULL AS in_new,
         o.o_totalprice IS DISTINCT FROM n.o_totalprice
           OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus AS chg,
         o.o_totalprice AS op, o.o_orderstatus AS os,
         n.o_totalprice AS np, n.o_orderstatus AS ns
  FROM oldsnap o FULL OUTER JOIN newsnap n ON o.o_orderkey = n.o_orderkey)
SELECT k AS o_orderkey, op AS o_totalprice, os AS o_orderstatus,
       't0' AS valid_from, 't1' AS valid_to
FROM j WHERE in_old AND (NOT in_new OR chg)
UNION ALL
SELECT k, np, ns,
       CASE WHEN in_old AND NOT chg THEN 't0' ELSE 't1' END,
       CAST(NULL AS STRING)
FROM j WHERE in_new
ORDER BY o_orderkey, valid_from, valid_to NULLS LAST
"""


# ------------------------------------------------- partitioned layout

def write_partitioned(df: DataFrame, path: str, partition_col: str,
                      sort_col: str, max_records_per_file: int = 1 << 20
                      ) -> None:
    """Cluster-and-compact writer: hive-style directory partitioning on
    a low-cardinality column plus within-file ordering on a high-
    selectivity column.  Directory partitioning gives COARSE pruning
    (whole partitions skipped before any file is opened); the in-file
    sort tightens every parquet row-group's min/max range on
    ``sort_col`` so predicate pushdown skips row groups inside the
    partitions that do match.  maxRecordsPerFile bounds file size —
    the compaction knob that keeps 100 TB from becoming 100M tiny
    files (or 100 oversized ones)."""
    (df.repartition(F.col(partition_col))
       .sortWithinPartitions(partition_col, sort_col)
       .write.mode("overwrite")
       .option("maxRecordsPerFile", max_records_per_file)
       .partitionBy(partition_col)
       .parquet(path))


def read_pruned(spark, path: str, partition_col: str, value) -> DataFrame:
    """Read one partition back; the plan must show PartitionFilters on
    ``partition_col`` (asserted in tests/test_plans.py) — the filter
    never touches data files of other partitions."""
    return spark.read.parquet(path).filter(F.col(partition_col) == value)


def lay_01(spark, sf):
    """Layout roundtrip: documents re-clustered (partitionBy lang,
    sorted by doc_id) through the real parquet writer, then one
    partition read back pruned and aggregated per source.  The oracle
    derives the same aggregate from the raw table, so a hash match
    proves re-layout lost nothing — while the plan evidence (PLANS.md,
    test_plans) shows the scan touched only lang='en' directories."""
    import shutil

    from ..functions.barrier import materialize

    d = T(spark, sf, "documents").select("doc_id", "lang", "source", "text")
    base = tempfile.mkdtemp(prefix="spark_lay01_")
    try:
        path = base + "/docs"
        write_partitioned(d, path, "lang", "doc_id")
        en = read_pruned(spark, path, "lang", "en")
        # snapshot the (tiny) manifest off the temp tree so the whole
        # mkdtemp can be removed (streamnative's _materialized pattern)
        return materialize(
            en.groupBy("source")
              .agg(F.count("*").alias("n_docs"),
                   F.sum(F.length("text")).alias("chars"),
                   F.min("doc_id").alias("min_doc"),
                   F.max("doc_id").alias("max_doc"))
              .orderBy("source"))
    finally:
        shutil.rmtree(base, ignore_errors=True)


_LAY_ORACLE = """
SELECT source, count(*) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS chars,
       min(doc_id) AS min_doc, max(doc_id) AS max_doc
FROM documents WHERE lang = 'en'
GROUP BY source ORDER BY source
"""


def ivm_01(spark, sf):
    """Incremental view maintenance — the 100 TB answer to "the base
    table changed, refresh the aggregate view": instead of
    recomputing per-nation order counts/revenue from the full new
    snapshot, apply only the CHANGE SET (cdc_01's snapshot_diff IS
    the feed) as signed deltas: insert → +new row, delete → −old row,
    update → −old +new.  The maintained view merges the old
    materialized view with the per-nation delta aggregate by
    summation (decomposable aggregates only — the rollup_01 rule),
    and the ORACLE is the full recompute over the new snapshot, so
    the hash certifies maintained ≡ recomputed.

    Scale shape: the change set is churn-sized, so its customer
    lookup and its aggregation broadcast/shuffle churn rows, not the
    table; the old view is group-cardinality-sized.  Cost is
    O(churn + groups) versus the recompute's O(table) — that ratio is
    the whole point at 100 TB.  Revenue routes through DECIMAL so the
    merged sums are order-exact (a double view + double delta would
    drift from the recompute by accumulation order)."""
    old, new = _cdc_snapshots(spark, sf)
    cust = T(spark, sf, "customer").select(
        F.col("c_custkey"), F.col("c_nationkey"))
    o = T(spark, sf, "orders").select("o_orderkey", "o_custkey")

    def signed(snapshot, ops, sign):
        rows = (snapshot.join(F.broadcast(ops), "o_orderkey")
                .join(o, "o_orderkey")           # recover o_custkey
                .join(cust, F.col("o_custkey") == F.col("c_custkey")))
        return rows.select(
            "c_nationkey", F.lit(sign).alias("sgn"),
            F.col("o_totalprice").cast("decimal(18,4)").alias("p"))

    changes = snapshot_diff(old, new, ["o_orderkey"],
                            ["o_totalprice", "o_orderstatus"])
    minus = changes.filter(F.col("op").isin("delete", "update")) \
                   .select("o_orderkey")
    plus = changes.filter(F.col("op").isin("insert", "update")) \
                  .select("o_orderkey")
    delta = (signed(old, minus, -1).unionByName(signed(new, plus, 1))
             .groupBy("c_nationkey")
             .agg(F.sum("sgn").alias("dn"),
                  F.sum(F.col("sgn") * F.col("p")).alias("drev")))

    view_old = (old.join(o, "o_orderkey")
                .join(cust, F.col("o_custkey") == F.col("c_custkey"))
                .groupBy("c_nationkey")
                .agg(F.count("*").alias("n0"),
                     F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
                      .alias("rev0")))
    zero = F.lit(0).cast("decimal(18,4)")
    merged = (view_old.join(delta, "c_nationkey", "full_outer")
              .select("c_nationkey",
                      (F.coalesce("n0", F.lit(0))
                       + F.coalesce("dn", F.lit(0))).alias("n_orders"),
                      (F.coalesce("rev0", zero)
                       + F.coalesce(F.col("drev").cast("decimal(18,4)"),
                                    zero)).alias("rev")))
    return (merged.filter(F.col("n_orders") > 0)
            .select("c_nationkey", "n_orders",
                    F.round(F.col("rev"), 2).cast("double")
                     .alias("revenue"))
            .orderBy("c_nationkey"))


_IVM_ORACLE = """
WITH newsnap AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1
              ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 10 <> 7)
SELECT c_nationkey, count(*) AS n_orders,
       CAST(ROUND(SUM(CAST(n.o_totalprice AS DECIMAL(18,4))), 2)
            AS DOUBLE) AS revenue
FROM newsnap n
JOIN orders o ON o.o_orderkey = n.o_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
GROUP BY c_nationkey ORDER BY c_nationkey
"""


def _cdc_feed_and_view(spark, sf):
    """The CDC before/after-image change feed (o_orderkey, op,
    c_nationkey, p_old, p_new) plus the old snapshot's materialized
    per-nation view — shared by ivm_02 and the split-invariance test
    (tests/test_maintenance.py), so both replay the identical
    algebra."""
    old, new = _cdc_snapshots(spark, sf)
    cust = T(spark, sf, "customer").select("c_custkey", "c_nationkey")
    o = T(spark, sf, "orders").select("o_orderkey", "o_custkey")
    changes = snapshot_diff(old, new, ["o_orderkey"],
                            ["o_totalprice", "o_orderstatus"])
    feed = (changes
            .join(old.select("o_orderkey",
                             F.col("o_totalprice").alias("p_old")),
                  "o_orderkey", "left")
            .join(new.select("o_orderkey",
                             F.col("o_totalprice").alias("p_new")),
                  "o_orderkey", "left")
            .join(o, "o_orderkey")
            .join(cust, F.col("o_custkey") == F.col("c_custkey"))
            .select("o_orderkey", "op", "c_nationkey", "p_old",
                    "p_new"))
    view_old = (old.join(o, "o_orderkey")
                .join(cust, F.col("o_custkey") == F.col("c_custkey"))
                .groupBy("c_nationkey")
                .agg(F.count("*").alias("n"),
                     F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
                      .cast("decimal(28,4)").alias("rev")))
    return feed, view_old


def cdc_signed_delta(batch: DataFrame) -> DataFrame:
    """Per-nation signed deltas (dn, dr) of one CDC before/after-image
    batch — the pure delta algebra ivm_02's foreachBatch folds and the
    split-invariance test replays batch-side: insert → +after,
    delete → −before, update → −before +after, decimal-routed."""
    zero = F.lit(0).cast("decimal(18,4)")
    return (batch.select(
                "c_nationkey",
                F.when(F.col("op") == "insert", 1)
                 .when(F.col("op") == "delete", -1)
                 .otherwise(0).alias("dn"),
                (F.coalesce(
                    F.when(F.col("op").isin("insert", "update"),
                           F.col("p_new").cast("decimal(18,4)")),
                    zero)
                 - F.coalesce(
                    F.when(F.col("op").isin("delete", "update"),
                           F.col("p_old").cast("decimal(18,4)")),
                    zero)).alias("dr"))
            .groupBy("c_nationkey")
            .agg(F.sum("dn").alias("dn"), F.sum("dr").alias("dr")))


def merge_view_delta(cur: DataFrame, delta: DataFrame) -> DataFrame:
    """Fold one signed-delta frame into the materialized (c_nationkey,
    n, rev) view — schema pinned so repeated folds (and the parquet
    view table) never drift."""
    zero28 = F.lit(0).cast("decimal(28,4)")
    return (cur.join(delta, "c_nationkey", "full_outer")
            .select("c_nationkey",
                    (F.coalesce("n", F.lit(0))
                     + F.coalesce("dn", F.lit(0)))
                    .cast("long").alias("n"),
                    (F.coalesce("rev", zero28)
                     + F.coalesce(F.col("dr").cast("decimal(28,4)"),
                                  zero28))
                    .cast("decimal(28,4)").alias("rev")))


def make_idempotent_applier(view_path: str):
    """foreachBatch applier for the IVM view that honors Spark's
    AT-LEAST-ONCE foreachBatch contract (ADVICE r8): the last applied
    ``batch_id`` is persisted beside the view via atomic rename, and a
    batch with id ≤ the marker is SKIPPED — so a micro-batch retried
    after a successful view overwrite does not double-apply its
    signed deltas.  Marker-after-view ordering means a crash between
    the two re-applies ONE batch's deltas on restart — the residual
    window plain parquet cannot close (overwrite and marker cannot
    commit atomically together); :func:`make_txn_applier` (ivm_03)
    closes it by committing both in ONE txnlog entry."""
    import os as _os

    from ..functions.barrier import materialize

    marker = view_path.rstrip("/") + ".last_batch"

    def apply_delta(batch: DataFrame, batch_id: int) -> None:
        try:
            with open(marker) as f:
                last = int(f.read())
        except (OSError, ValueError):
            last = -1
        if batch_id <= last:        # retried batch: already applied
            return
        cur = batch.sparkSession.read.parquet(view_path)
        merged = materialize(
            merge_view_delta(cur, cdc_signed_delta(batch)))
        merged.write.mode("overwrite").parquet(view_path)
        tmp = f"{marker}.tmp.{_os.getpid()}"
        with open(tmp, "w") as f:
            f.write(str(batch_id))
        _os.replace(tmp, marker)    # atomic on POSIX

    return apply_delta


def ivm_02(spark, sf):
    """STREAMING incremental view maintenance — ivm_01's delta
    algebra applied per micro-batch through ``foreachBatch`` over a
    replayed CDC change feed (before/after images, the shape a real
    CDC system ships): the materialized per-nation view starts from
    the old snapshot and each micro-batch folds its signed deltas in
    (insert → +after, delete → −before, update → −before +after).
    After the replay the view must equal the FULL RECOMPUTE over the
    new snapshot — the same oracle as ivm_01, so the hash certifies
    that per-batch maintenance converges to batch semantics for ANY
    split of the change set (addition commutes; decimal routing keeps
    the folded sums order-exact).  This is rollup_01's continuous-
    aggregate contract driven by a real stream instead of a cutoff.

    Scale shape: each micro-batch touches churn-sized frames plus the
    group-cardinality-sized view — never the base table; the view
    read-merge-overwrite is the plain-parquet form of a table-format
    MERGE (ivm_03 runs the txnlog form).  The applier is the
    batch-id-idempotent :func:`make_idempotent_applier`, so
    foreachBatch retries of an already-applied batch are no-ops."""
    import pathlib
    import shutil as _sh

    from ..functions.barrier import materialize

    feed, view_old = _cdc_feed_and_view(spark, sf)

    base = tempfile.mkdtemp(prefix="spark_ivm02_")
    try:
        watch = pathlib.Path(base) / "changes"
        watch.mkdir()
        for b in range(3):                  # 3 micro-batches by key mod
            out = pathlib.Path(base) / f"b{b}"
            (feed.filter(F.pmod("o_orderkey", F.lit(3)) == b)
             .coalesce(1).write.mode("overwrite").parquet(str(out)))
            for j, pq in enumerate(sorted(out.glob("*.parquet"))):
                _sh.copy(pq, watch / f"{b:02d}_{j}.parquet")

        view_path = f"{base}/view"
        view_old.write.mode("overwrite").parquet(view_path)

        src = (spark.readStream.format("parquet").schema(feed.schema)
               .option("maxFilesPerTrigger", "1").load(str(watch)))
        assert src.isStreaming

        q = (src.writeStream.foreachBatch(make_idempotent_applier(view_path))
             .option("checkpointLocation", f"{base}/ckpt")
             .trigger(availableNow=True).start())
        q.awaitTermination()

        final = (spark.read.parquet(view_path)
                 .filter(F.col("n") > 0)
                 .select("c_nationkey", F.col("n").alias("n_orders"),
                         F.round(F.col("rev"), 2).cast("double")
                          .alias("revenue")))
        snap = materialize(final)
    finally:
        _sh.rmtree(base, ignore_errors=True)
    return snap.orderBy("c_nationkey")


def make_txn_applier(view_table: str, app: str = "ivm"):
    """foreachBatch applier with the crash window CLOSED: the
    maintained view lives in a txnlog table and each micro-batch
    commits its new view content AND its batch id as ONE atomic log
    entry (sources/txnlog.replace_contents with a Delta-style txn
    action).  Under foreachBatch's at-least-once contract that makes
    the apply EXACTLY-ONCE in every failure mode:

    - retry after a successful commit → the snapshot's recorded app
      version is ≥ batch_id, replace_contents no-ops;
    - crash BETWEEN view write and marker — the state
      make_idempotent_applier documents as unavoidable on plain
      parquet — cannot exist: there is no instant where the table
      reflects a batch the log does not record, because they are the
      same commit.

    Reading the current view from the snapshot and writing new
    immutable files also removes the read-while-overwrite hazard the
    plain-parquet applier materializes around."""
    from ..sources import txnlog

    def apply_delta(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        if txnlog.snapshot(view_table).txns.get(app, -1) >= batch_id:
            return                      # retried batch: already applied
        cur = txnlog.read_table(spark, view_table)
        merged = merge_view_delta(cur, cdc_signed_delta(batch))
        txnlog.replace_contents(spark, view_table, merged,
                                key="c_nationkey",
                                txn=(app, batch_id))

    return apply_delta


def ivm_03(spark, sf):
    """ivm_02's streaming IVM with the view maintained in the
    TRANSACTIONAL commit-log table (sources/txnlog.py) through
    :func:`make_txn_applier` — the exactly-once upgrade: view content
    and batch id commit atomically, so the replay is idempotent with
    no marker-after-view residual window.  Shares ivm_01/ivm_02's
    full-recompute oracle; the hash certifies the txn-log fold
    converges to batch semantics exactly like the plain applier."""
    import pathlib
    import shutil as _sh

    from ..functions.barrier import materialize
    from ..sources import txnlog

    feed, view_old = _cdc_feed_and_view(spark, sf)

    base = tempfile.mkdtemp(prefix="spark_ivm03_")
    try:
        watch = pathlib.Path(base) / "changes"
        watch.mkdir()
        for b in range(3):                  # 3 micro-batches by key mod
            out = pathlib.Path(base) / f"b{b}"
            (feed.filter(F.pmod("o_orderkey", F.lit(3)) == b)
             .coalesce(1).write.mode("overwrite").parquet(str(out)))
            for j, pq in enumerate(sorted(out.glob("*.parquet"))):
                _sh.copy(pq, watch / f"{b:02d}_{j}.parquet")

        view_table = f"{base}/view_tbl"
        txnlog.create_table(spark, view_old, view_table,
                            key="c_nationkey")

        src = (spark.readStream.format("parquet").schema(feed.schema)
               .option("maxFilesPerTrigger", "1").load(str(watch)))
        assert src.isStreaming

        q = (src.writeStream.foreachBatch(make_txn_applier(view_table))
             .option("checkpointLocation", f"{base}/ckpt")
             .trigger(availableNow=True).start())
        q.awaitTermination()

        final = (txnlog.read_table(spark, view_table)
                 .filter(F.col("n") > 0)
                 .select("c_nationkey", F.col("n").alias("n_orders"),
                         F.round(F.col("rev"), 2).cast("double")
                          .alias("revenue")))
        snap = materialize(final)
    finally:
        _sh.rmtree(base, ignore_errors=True)
    return snap.orderBy("c_nationkey")


#: Z-order quantization width: 16 bits per dimension → 32-bit
#: interleaved key (fits a long with room to spare)
ZORDER_BITS = 16


def zorder_key(a, b, a_min, a_max, b_min, b_max):
    """Morton (Z-order) interleave of two numeric columns, as pure JVM
    bit arithmetic (32 shift/and/or terms — whole-stage-codegen'd, no
    UDF): each column quantizes to ZORDER_BITS levels over its
    [min, max] range, then bits interleave a15 b15 a14 b14 … a0 b0.
    Sorting/range-partitioning on this key clusters BOTH dimensions at
    once — the lakehouse data-skipping layout (Delta ZORDER BY /
    Iceberg sort-order) for tables queried by more than one column:
    per-file min/max envelopes stay tight in every interleaved
    dimension instead of only the leading sort column, so scans with
    predicates on EITHER column prune files.  Bounds arrive as plain
    Python scalars (control-plane: one tiny agg upstream)."""
    lvl = (1 << ZORDER_BITS) - 1
    qa = F.floor((a - F.lit(a_min)) / F.lit(max(a_max - a_min, 1e-300))
                 * lvl).cast("long")
    qb = F.floor((b - F.lit(b_min)) / F.lit(max(b_max - b_min, 1e-300))
                 * lvl).cast("long")
    qa = F.least(qa, F.lit(lvl))        # a == max lands on the top cell
    qb = F.least(qb, F.lit(lvl))
    key = F.lit(0).cast("long")
    for i in range(ZORDER_BITS):
        key = key.bitwiseOR(
            F.shiftleft(F.shiftright(qa, i).bitwiseAND(F.lit(1)),
                        2 * i + 1))
        key = key.bitwiseOR(
            F.shiftleft(F.shiftright(qb, i).bitwiseAND(F.lit(1)),
                        2 * i))
    return key


def lay_02(spark, sf):
    """Z-order clustering audit over orders on (o_custkey,
    o_totalprice): the Morton key per row, bucketed by its top 4 bits
    (16 coarse Z-cells), per-cell row counts and min/max envelopes of
    BOTH dimensions.  The hash certifies the full 32-term bit
    interleave against DuckDB's bit arithmetic; the ENVELOPE columns
    are the data-skipping claim made visible — every cell is tight in
    both dimensions simultaneously (a linear sort's trailing-column
    envelope would span the full range; measured as a file-level
    pruning A/B in tests/test_maintenance.py)."""
    o = T(spark, sf, "orders").select("o_orderkey", "o_custkey",
                                      "o_totalprice")
    lo_c, hi_c, lo_p, hi_p = o.agg(
        F.min("o_custkey"), F.max("o_custkey"),
        F.min("o_totalprice"), F.max("o_totalprice")).first()
    z = o.withColumn("zkey", zorder_key(
        F.col("o_custkey").cast("double"), F.col("o_totalprice"),
        float(lo_c), float(hi_c), float(lo_p), float(hi_p)))
    cell = F.shiftright("zkey", 2 * ZORDER_BITS - 4).cast("int")
    return (z.groupBy(cell.alias("zcell"))
            .agg(F.count("*").alias("n"),
                 F.min("o_custkey").alias("min_c"),
                 F.max("o_custkey").alias("max_c"),
                 F.round(F.min("o_totalprice"), 2).alias("min_p"),
                 F.round(F.max("o_totalprice"), 2).alias("max_p"))
            .orderBy("zcell"))


def _lay2_oracle() -> str:
    lvl = (1 << ZORDER_BITS) - 1
    terms = " | ".join(
        f"(((qa >> {i}) & 1) << {2 * i + 1}) | (((qb >> {i}) & 1) "
        f"<< {2 * i})" for i in range(ZORDER_BITS))
    return f"""
WITH b AS (SELECT min(o_custkey)::DOUBLE AS lo_c,
                  max(o_custkey)::DOUBLE AS hi_c,
                  min(o_totalprice) AS lo_p, max(o_totalprice) AS hi_p
           FROM orders),
q AS (SELECT o_custkey, o_totalprice,
             LEAST(CAST(floor((o_custkey::DOUBLE - lo_c)
                              / GREATEST(hi_c - lo_c, 1e-300)
                              * {lvl}) AS BIGINT), {lvl}) AS qa,
             LEAST(CAST(floor((o_totalprice - lo_p)
                              / GREATEST(hi_p - lo_p, 1e-300)
                              * {lvl}) AS BIGINT), {lvl}) AS qb
      FROM orders, b),
z AS (SELECT o_custkey, o_totalprice, {terms} AS zkey FROM q)
SELECT CAST(zkey >> {2 * ZORDER_BITS - 4} AS INT) AS zcell,
       count(*) AS n,
       min(o_custkey) AS min_c, max(o_custkey) AS max_c,
       ROUND(min(o_totalprice), 2) AS min_p,
       ROUND(max(o_totalprice), 2) AS max_p
FROM z GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------- data-quality checks

#: FK-dimension row count above which the closure anti-join must NOT
#: broadcast (VERDICT r6 item 4): at 100 TB a patient/customer dim
#: need not fit in executor memory, and a forced broadcast of a
#: too-big build side OOMs the whole stage.  ~5M keys × ~16 B ≈ 80 MB
#: — comfortably inside a 100 TB cluster's executor budget, well past
#: every fixture.  The gate is an explicit row-count decision (one
#: control-plane count of the dim, amortized across all FK checks of
#: an audit run), not an AQE hope: past the gate the join is hinted
#: SHUFFLE_HASH, which needs no sort and partitions both sides by key.
FK_BROADCAST_MAX_ROWS = 5_000_000


def fk_violations(audited, dim, key: str,
                  broadcast_max: int = FK_BROADCAST_MAX_ROWS):
    """FK-closure violation frame: audited rows whose ``key`` has no
    match in ``dim`` (left_anti), with the join strategy size-gated —
    broadcast below ``broadcast_max`` dim rows, shuffle-hash above
    (the large-dim path a 100 TB dimension needs).  Returns the
    violating rows; callers count them."""
    n_dim = dim.count()          # control-plane scalar, one dim scan
    build = (F.broadcast(dim) if n_dim <= broadcast_max
             else dim.hint("shuffle_hash"))
    return audited.join(build, key, "left_anti")


def dq_01(spark, sf):
    """Constraint checking (the Deequ-style gate every ingest runs):
    primary-key uniqueness, foreign-key closure, null rate, and value
    range, each as ONE aggregate over the audited frame — the FK check
    is a broadcast anti-join count, everything else folds into a single
    pass.  Violations are GUARANTEED nonzero by deterministic injection
    (the planted-defect pattern of pii_01/ded_simhash: an audit whose
    fixture has no defects certifies nothing), and the oracle
    reproduces injection + checks exactly.

    Injected defects, closed-form on both engines:
    - keys ≡ 0 (mod 97): o_custkey → −1       (FK break)
    - keys ≡ 0 (mod 89): o_orderdate → NULL   (null violation)
    - keys ≡ 0 (mod 101): row duplicated      (PK break)
    """
    o = T(spark, sf, "orders").select("o_orderkey", "o_custkey",
                                      "o_orderdate", "o_totalprice")
    k = F.col("o_orderkey")
    audited = (o.withColumn("o_custkey",
                            F.when(k % 97 == 0, F.lit(-1))
                             .otherwise(F.col("o_custkey")))
                .withColumn("o_orderdate",
                            F.when(k % 89 == 0, F.lit(None))
                             .otherwise(F.col("o_orderdate"))))
    audited = audited.unionByName(audited.filter(k % 101 == 0))

    cust = T(spark, sf, "customer").select(
        F.col("c_custkey").alias("o_custkey"))
    fk_viol = (fk_violations(audited, cust, "o_custkey")
               .agg(F.count("*").alias("violations"))
               .select(F.lit("fk_customer").alias("check_name"),
                       "violations"))
    onepass = audited.agg(
        (F.count("*") - F.countDistinct("o_orderkey")).alias("pk"),
        F.count(F.when(F.col("o_orderdate").isNull(), 1)).alias("nulls"),
        F.count(F.when(F.col("o_totalprice") <= 0, 1)).alias("range"))
    stacked = onepass.select(F.explode(F.create_map(
        F.lit("pk_unique"), F.col("pk"),
        F.lit("null_orderdate"), F.col("nulls"),
        F.lit("range_totalprice"), F.col("range")))
        .alias("check_name", "violations"))
    return (stacked.unionByName(fk_viol)
            .select("check_name", "violations",
                    (F.col("violations") == 0).alias("passed"))
            .orderBy("check_name"))


#: planted-outlier stride and factor for dq_02 (the planted-defect
#: pattern: an outlier audit on clean data certifies nothing)
DQ2_STRIDE = 997
DQ2_FACTOR = 100.0

#: audited-frame row count above which dq_02's quartiles come from the
#: percentile_approx sketch instead of exact F.percentile (VERDICT r7
#: item 2, mirroring FK_BROADCAST_MAX_ROWS): exact grouped percentile
#: buffers each group's values in one task — at 100 TB a
#: returnflag-sized group IS the table, so past the gate the fences
#: are computed from the mergeable KLL-style sketch (agg_12's path;
#: partial-aggregated, bytes-per-group state).  The fence ARITHMETIC
#: is identical in both arms; the planted ×100 outliers sit far
#: outside either arm's fences, so the audit verdict does not depend
#: on sketch error.  Exact stays below the gate so the sf0.01 oracle
#: fixture certifies against percentile_cont bit-for-bit.
DQ2_EXACT_MAX_ROWS = 5_000_000
#: percentile_approx accuracy knob for the sketch arm (max rank error
#: ≈ 1/accuracy — 1e-4 of the group, plenty for a 3·IQR fence)
DQ2_SKETCH_ACCURACY = 10_000


def dq_02(spark, sf, exact_max_rows: int = DQ2_EXACT_MAX_ROWS):
    """Numeric outlier audit (the Tukey-fence data-quality check):
    per-group quartiles, rows outside [q1 − 3·IQR, q3 + 3·IQR]
    flagged, counts per group.  Outliers are GUARANTEED by injection
    (every DQ2_STRIDE-th key's price × DQ2_FACTOR — far outside any
    fence, so no boundary-ulp ambiguity enters the count).

    Shape: one grouped quartile pass over the audited frame — exact
    F.percentile below ``exact_max_rows`` (oracle-exact), the
    percentile_approx mergeable sketch above (the 100 TB arm: no
    per-group value buffering; size-gated like fk_violations, an
    explicit control-plane row-count decision) + one broadcast join of
    the tiny per-group bounds frame back onto the scan."""
    l = T(spark, sf, "lineitem").select("l_orderkey", "l_linenumber",
                                        "l_returnflag", "l_extendedprice")
    audited = l.withColumn(
        "l_extendedprice",
        F.when(l.l_orderkey % DQ2_STRIDE == 0,
               l.l_extendedprice * DQ2_FACTOR)
         .otherwise(l.l_extendedprice))
    # The audited frame is a 1:1 projection of lineitem (withColumn
    # only — no filter changes cardinality), so its row count is the
    # TABLE row count, served from parquet footer metadata: a
    # control-plane metadata read, not a scan (ADVICE r8 — the old
    # audited.count() was an O(table) extra pass).  JDBC/footerless
    # sources fall back to one count job.
    n = catalog.table_row_count(sf, "lineitem")
    if n is None:
        n = audited.count()
    if n <= exact_max_rows:
        q1 = F.percentile("l_extendedprice", 0.25)
        q3 = F.percentile("l_extendedprice", 0.75)
    else:
        q1 = F.percentile_approx("l_extendedprice", 0.25,
                                 DQ2_SKETCH_ACCURACY)
        q3 = F.percentile_approx("l_extendedprice", 0.75,
                                 DQ2_SKETCH_ACCURACY)
    bounds = (audited.groupBy("l_returnflag")
              .agg(q1.alias("q1"), q3.alias("q3")))
    out = (F.col("l_extendedprice") < F.col("q1") - 3 * (F.col("q3")
                                                         - F.col("q1"))) \
        | (F.col("l_extendedprice") > F.col("q3") + 3 * (F.col("q3")
                                                         - F.col("q1")))
    return (audited.join(F.broadcast(bounds), "l_returnflag")
            .groupBy("l_returnflag")
            .agg(F.count("*").alias("n"),
                 F.sum(out.cast("long")).alias("n_outliers"))
            .orderBy("l_returnflag"))


_DQ2_ORACLE = f"""
WITH audited AS (
  SELECT l_returnflag,
         CASE WHEN l_orderkey % {DQ2_STRIDE} = 0
              THEN l_extendedprice * {DQ2_FACTOR}
              ELSE l_extendedprice END AS price
  FROM lineitem),
bounds AS (
  SELECT l_returnflag,
         percentile_cont(0.25) WITHIN GROUP (ORDER BY price) AS q1,
         percentile_cont(0.75) WITHIN GROUP (ORDER BY price) AS q3
  FROM audited GROUP BY l_returnflag)
SELECT a.l_returnflag, count(*) AS n,
       CAST(sum(CASE WHEN a.price < b.q1 - 3 * (b.q3 - b.q1)
                       OR a.price > b.q3 + 3 * (b.q3 - b.q1)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM audited a JOIN bounds b ON a.l_returnflag = b.l_returnflag
GROUP BY a.l_returnflag ORDER BY a.l_returnflag
"""


_DQ_ORACLE = """
WITH base AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 97 = 0 THEN -1 ELSE o_custkey END
           AS o_custkey,
         CASE WHEN o_orderkey % 89 = 0 THEN NULL ELSE o_orderdate END
           AS o_orderdate,
         o_totalprice
  FROM orders),
audited AS (
  SELECT * FROM base
  UNION ALL SELECT * FROM base WHERE o_orderkey % 101 = 0),
checks AS (
  SELECT 'pk_unique' AS check_name,
         count(*) - count(DISTINCT o_orderkey) AS violations
  FROM audited
  UNION ALL
  SELECT 'null_orderdate', count(*) FROM audited WHERE o_orderdate IS NULL
  UNION ALL
  SELECT 'range_totalprice', count(*) FROM audited WHERE o_totalprice <= 0
  UNION ALL
  SELECT 'fk_customer', count(*) FROM audited
  WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
SELECT check_name, CAST(violations AS BIGINT) AS violations,
       violations = 0 AS passed
FROM checks ORDER BY check_name
"""


# ------------------------------------------------ continuous aggregate

#: rollup cutoff: facts before this are served from the materialized
#: rollup, the tail is aggregated fresh at query time
ROLLUP_CUT = "1997-06-01"


def rollup_01(spark, sf):
    """Continuous-aggregate pattern (the hypertable rollup shape):
    history BEFORE the cutoff is served from a pre-aggregated monthly
    rollup — partial aggregates, exactly what an incremental refresh
    job would have materialized — while the tail past the cutoff
    aggregates fresh from raw facts; the query merges both by summing
    partials.  Correctness hinges on the aggregate being decomposable
    (count/sum merge; the decimal routing keeps the merged sum
    hash-stable), and months straddling the cutoff are the case that
    proves the merge: their partials come from BOTH branches.  At
    100 TB the rollup branch reads orders of magnitude fewer rows than
    the raw history it stands for, and the tail stays bounded by the
    refresh interval."""
    o = T(spark, sf, "orders")
    m = F.date_format("o_orderdate", "yyyy-MM").alias("m")
    cut = F.col("o_orderdate") < F.lit(ROLLUP_CUT).cast("date")
    rolled = (o.filter(cut).groupBy(m)
               .agg(F.count("*").alias("n"),
                    dsum("o_totalprice").alias("rev")))
    tail = (o.filter(~cut).groupBy(m)
             .agg(F.count("*").alias("n"),
                  dsum("o_totalprice").alias("rev")))
    return (rolled.unionByName(tail)
            .groupBy("m")
            .agg(F.sum("n").alias("n"),
                 F.round(F.sum("rev"), 2).cast("double").alias("rev"))
            .orderBy("m"))


_ROLLUP_ORACLE = """
SELECT substr(CAST(o_orderdate AS STRING), 1, 7) AS m, count(*) AS n,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
         AS rev
FROM orders GROUP BY 1 ORDER BY 1
"""


_ORACLES = {
    "cdc_01": _CDC_ORACLE,
    "dq_01": _DQ_ORACLE,
    "dq_02": _DQ2_ORACLE,
    "rollup_01": _ROLLUP_ORACLE,
    "scd_01": _SCD_ORACLE,
    "lay_01": _LAY_ORACLE,
    "lay_02": _lay2_oracle(),
    "ivm_01": _IVM_ORACLE,
    "ivm_02": _IVM_ORACLE,
    "ivm_03": _IVM_ORACLE,
}

_DOCS = {
    "cdc_01": "Snapshot diff (CDC): row-level insert/update/delete set "
              "from one full-outer key join",
    "scd_01": "SCD2 history build: append-only valid_from/valid_to "
              "versioning folded from snapshot batches",
    "dq_01": "Data-quality constraint checks: PK/FK/null/range audit "
             "with planted-violation certification",
    "dq_02": "Numeric outlier audit: per-group Tukey fences (exact "
             "quartiles + 3*IQR) with planted-outlier certification",
    "rollup_01": "Continuous aggregate: materialized monthly rollup "
                 "merged with the fresh tail by partial-agg summation",
    "ivm_02": "STREAMING incremental view maintenance: CDC change "
              "feed (before/after images) folded per micro-batch via "
              "foreachBatch; converges to the full recompute (same "
              "oracle as ivm_01)",
    "ivm_03": "Streaming IVM with the view in the transactional "
              "commit-log table: view content + batch id commit as "
              "ONE atomic log entry (exactly-once apply, no "
              "marker-after-view crash window); same oracle as "
              "ivm_01/ivm_02",
    "ivm_01": "Incremental view maintenance: CDC change set applied "
              "as signed deltas to the materialized aggregate view; "
              "oracle = full recompute (maintained == recomputed "
              "hash-certified)",
    "lay_02": "Z-order (Morton) clustering audit: 32-term JVM bit "
              "interleave, coarse Z-cells with per-cell min/max "
              "envelopes tight in BOTH dimensions (the data-skipping "
              "layout)",
    "lay_01": "Partitioned layout roundtrip: cluster/compact writer + "
              "partition-pruned read-back",
}


def specs() -> list[QuerySpec]:
    g = globals()
    return [QuerySpec(key=k, fn=g[k], oracle=_ORACLES.get(k), doc=d,
                      tags=("maintenance",))
            for k, d in _DOCS.items()]
