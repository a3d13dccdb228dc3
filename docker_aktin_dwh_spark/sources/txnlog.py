"""Transactional commit-log table format (ACID MERGE on plain parquet).

The container has no Delta/Iceberg package, and VERDICT r8 item 3 asks
for the real thing rather than a writer lock: this module implements
the log-structured commit protocol those formats use — the same
design as Delta Lake's ``_delta_log`` (public protocol spec) — on a
POSIX filesystem.  It is the only store format the write sinks use
(upsert, streaming ingest, clean ingest): optimistic concurrency on
the log replaces any writer lock.

Layout::

    <table>/
      p-<version>-<seq>-<uuid>.parquet          immutable data files
      _txnlog/00000000000000000042.json         commit v42 (atomic)
      _txnlog/00000000000000000040.ckpt.json    checkpoint ≤ v42

Protocol invariants (each one is a test in tests/test_txnlog.py):

- **Atomic commit**: a version is claimed by ``O_CREAT|O_EXCL`` on its
  commit file — the filesystem's atomic-create is the whole locking
  story.  Two writers racing for version N: exactly one succeeds, the
  loser re-reads the log and retries against the new state
  (optimistic concurrency).  NOTE: object stores without atomic
  create-if-absent need a coordination layer for exactly this one
  step (same caveat as Delta on S3) — the claim is a PLUGGABLE seam
  (:func:`set_claim_backend`): swap in a conditional-put coordinator
  and the rest of the protocol runs unchanged (equivalence pinned in
  tests with a non-link coordinator backend).
- **Snapshot isolation**: readers list the log, replay add/remove up
  to the latest (or a pinned) version, and read exactly those
  immutable files — never a half-written state, no reader locks.
  Time travel = replaying to an older version.
- **Crash safety**: a writer that dies after staging data files but
  before its commit leaves orphans that no snapshot references —
  readers are unaffected; :func:`vacuum` reclaims them.  There is no
  half-committed state to repair.
- **MERGE with data skipping**: the commit log records per-file row
  counts and merge-key min/max (read from parquet footers, the same
  statistics a lakehouse catalog serves); MERGE rewrites only the
  files whose key interval intersects the batch — at 100 TB that is
  the handful of files holding the corrected encounters, not the
  table, and it needs no physical partitioning choice made up front.
- **Bounded log replay**: every CHECKPOINT_EVERY commits the full
  file list is checkpointed; a snapshot reads one checkpoint plus the
  commits after it, so open cost stays O(recent commits) no matter
  the table's age.
- **Deletion vectors (merge-on-read, r11)**: a sparse MERGE/DELETE no
  longer rewrites every interval-hit file — it commits a per-file
  ``dv`` action (a run-length row-index bitmap in the log, Delta's
  deletion-vector design) and readers MASK the dead rows via the
  parquet reader's ``_metadata.row_index`` (one broadcast-hash join
  against the churn-sized DV table + a JVM-side ``exists`` filter —
  zero overhead when no DVs exist).  Rewrite bytes become ∝ touched
  ROWS, not touched files: at 100 TB a 100-row correction commits a
  100-row add file and a few dozen bitmap entries instead of GBs.
  A file whose cumulative DV passes DV_MAX_FILE_FRACTION is folded
  (rewritten without its dead rows) by the very commit that crossed
  the line, and :func:`compact` folds all DVs; time travel, CDC and
  vacuum stay exact (table_changes reads DV *deltas* on files common
  to both snapshots).
- **Lakehouse verbs (r11)**: :func:`restore` (RESTORE TO VERSION AS OF
  — metadata-only rollback of files+DVs+schema+constraints as one
  auditable commit), :func:`clone_table` (zero-copy hardlink clone,
  independent evolution), :func:`set_constraint`/:func:`drop_constraint`
  (CHECK constraints recorded in the log, validated against existing
  content when added, enforced on every write verb — NULL-filled
  omitted columns included).  SQL surfaces: sources/txnbatch.py (batch
  ``spark.read.format("txnlog")`` with versionAsOf) and
  sources/cdcstream.py (streaming classified change feed).
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..session import local_frame
from . import logcore as _core
from .logcore import (CHECKPOINT_EVERY, LOG as _LOG, Snapshot,
                      ckpt_name as _ckpt_name, commit_name as _commit_name,
                      file_stats as _file_stats,
                      interval_hit as _interval_hit,
                      list_versions as _list_versions, log_dir as _log_dir,
                      posix_link_claim as _posix_link_claim,
                      pv_decode as _pv_decode, ranges_count as _ranges_count,
                      ranges_from_indexes as _ranges_from_indexes,
                      ranges_subtract as _ranges_subtract,
                      ranges_union as _ranges_union, resolve_timestamp,
                      stats_decode as _stats_decode,
                      stats_encode as _stats_encode)

MERGE_MAX_ATTEMPTS = 5
#: metadata-only commits (constraints, rename/drop column, restore)
#: are cheap to retry — no staging, no data read on an unchanged
#: snapshot — but always lose the claim race to a data writer that
#: staged first, so the data-verb budget starves them under churn
#: (observed in bench's serializability lane).  Delta retries
#: metadata transactions generously for the same reason.
METADATA_MAX_ATTEMPTS = 40

#: grace period before an unreferenced file is reclaimable: a LIVE
#: writer renames staged files into the table dir BEFORE its commit
#: (_stage_data_files), so a zero-retention vacuum racing it would
#: delete staged-but-uncommitted files the imminent commit then
#: references — corrupting the table (ADVICE r9; Delta's VACUUM has
#: the same retention contract, default 7 days).  600 s comfortably
#: exceeds any stage→commit window here; pass 0 only when no writer
#: can be live.
VACUUM_RETENTION_SECONDS = 600.0


class CommitConflictError(RuntimeError):
    """Another writer committed the version this transaction raced
    for, and the caller's retry budget ran out.  The table is intact —
    optimistic concurrency never leaves partial state."""


def snapshot(path: str, version: int | None = None) -> Snapshot:
    """Replay the commit log (from the newest usable checkpoint) up to
    ``version`` (default: latest) — :func:`logcore.replay`.  Pure
    metadata reads — no data file is opened.

    Read-side repair (r12, Delta's fix-the-log-on-read): when a claim
    BACKEND with a ``recover_table`` sweep is installed
    (set_claim_backend — the object-store coordinator), a winner that
    crashed between claim and publish is completed HERE, before the
    version listing, so a reader sees the committed version without
    waiting for the next writer to lose a race on it.  The POSIX
    default needs no repair (link(2) publishes atomically) and skips
    the hook."""
    b = _claim_backend
    if b is not None and hasattr(b, "recover_table"):
        try:
            b.recover_table(_log_dir(path))
        except Exception:
            # repair is best-effort on the READ path: a broken
            # coordinator must not take reads down with it — writers
            # will surface it loudly on the next claim
            pass
    return _core.replay(path, version)


#: Pluggable version-claim backend — the ONE point where the whole
#: protocol needs atomic publish-if-absent.  Everything else is plain
#: reads/writes of immutable files, so a deployment on an object
#: store WITHOUT atomic create (classic S3) swaps only this seam for
#: an external coordinator (DynamoDB conditional put, a database row,
#: etcd lease — exactly Delta's S3 LogStore design) and the rest of
#: the module runs unchanged.  The backend receives (tmp, target):
#: tmp holds the fully-written, fsynced commit bytes; it must publish
#: them at target iff no commit exists there, returning True on the
#: win and False on a lost race — and must never publish partial
#: content.  Default: POSIX link(2).
_claim_backend = None


def set_claim_backend(fn) -> None:
    """Install a custom claim backend (None restores POSIX link).
    Protocol-equivalence for any conforming backend is pinned in
    tests/test_txnlog.py (concurrent appends through a non-link
    backend serialize identically)."""
    global _claim_backend
    _claim_backend = fn


def _try_commit(path: str, version: int, payload: dict) -> bool:
    """:func:`logcore.commit` through the installed claim backend
    (POSIX link by default — see _claim_backend for the object-store
    seam): the truncation-floor guard, the claim and the periodic
    checkpoint."""
    return _core.commit(path, version, payload,
                        _claim_backend or _posix_link_claim)


# ------------------------------------------------- column mapping (r13)
# Delta's columnMapping mode "name" on the commit-log format: the
# logged schema carries LOGICAL names, data files carry PHYSICAL names,
# and the snapshot's ``colmap`` (a complete logical → physical dict
# once activated by the first rename/drop; None = identity for
# pre-mapping tables) translates at exactly two seams — staging
# (logical → physical before the parquet write) and scanning (physical
# → logical aliasing after the parquet read).  Per-file footer stats
# stay keyed by PHYSICAL name, which renames never change, so old
# files remain prunable across any number of renames.

def _phys_name(colmap: dict[str, str] | None, logical: str) -> str:
    return colmap.get(logical, logical) if colmap else logical


def _phys_schema(schema: StructType,
                 colmap: dict[str, str] | None) -> StructType:
    """The logical schema with fields renamed to their physical
    names — what the parquet reader is handed."""
    if not colmap:
        return schema
    from pyspark.sql.types import StructField
    return StructType([
        StructField(colmap.get(f.name, f.name), f.dataType,
                    f.nullable, f.metadata) for f in schema.fields])


def _to_physical(df: DataFrame,
                 colmap: dict[str, str] | None) -> DataFrame:
    """Rename ``df``'s (logical) columns to physical names for
    staging.  No-op for identity tables."""
    if not colmap:
        return df
    return df.select([F.col(c).alias(colmap.get(c, c))
                      for c in df.columns])


def _alias_logical(df: DataFrame, schema: StructType,
                   colmap: dict[str, str] | None,
                   extra: tuple[str, ...] = ()) -> DataFrame:
    """Alias a physically-named frame back to the logical schema
    (keeping ``extra`` pass-through columns, e.g. the DV row-meta)."""
    if not colmap:
        return df
    return df.select(*[F.col(colmap.get(f.name, f.name)).alias(f.name)
                       for f in schema.fields],
                     *[F.col(c) for c in extra])


def _fresh_phys() -> str:
    """Physical name for a column added AFTER mapping activation —
    never collides with any current or dropped column's storage."""
    return f"c-{uuid.uuid4().hex[:12]}"


def _identity_colmap(schema: StructType) -> dict[str, str]:
    """Mapping activation: existing columns keep their current names
    as physical names (that is what the existing files store)."""
    return {f.name: f.name for f in schema.fields}


# -------------------------------------------------- partitioning (r14)
# Hive-style table partitioning on the commit-log format (Delta's
# partitionValues): create_table(partition_by=[cols]) fixes the layout;
# every add action records its file's partition values (the raw
# directory fragments Spark's own partitioned write produced), and
# partition pruning is an exact [v, v] interval check that runs before
# footer-stats pruning.  Reference analogue: Postgres declarative
# partitioning on the visit/fact tables
# (/root/reference/src/docker/database/Dockerfile:8).


def _pv_types(schema: StructType,
              partition_by: list[str]) -> dict[str, object]:
    by_name = {f.name: f.dataType for f in schema.fields}
    return {c: by_name[c] for c in partition_by}


def _pv_tuple(stats: dict, partition_by: list[str],
              types: dict) -> tuple:
    """A file's decoded partition-value tuple (None-safe)."""
    pv = stats.get("pv") or {}
    return tuple(_pv_decode(pv[c], types[c]) if c in pv else None
                 for c in partition_by)


def _walk_staged(stage: str) -> list[tuple[str, str]]:
    """(relative_partition_dir, filename) for every staged leaf file —
    '' reldir for an unpartitioned write."""
    out = []
    for root, _dirs, names in os.walk(stage):
        rel = os.path.relpath(root, stage)
        for n in names:
            if n.endswith(".parquet"):
                out.append(("" if rel == "." else rel, n))
    return sorted(out)


def _require_partition_cols(df: DataFrame,
                            partition_by: list[str] | None) -> None:
    """Refuse a write whose frame lacks a partition column — checked
    before any union that would NULL-fill it into the null partition."""
    missing = [c for c in partition_by or () if c not in df.columns]
    if missing:
        raise ValueError(f"write to partitioned table omits partition "
                         f"column(s) {missing}")


def _stage_data_files(spark: SparkSession, df: DataFrame, path: str,
                      key: str, version_hint: int,
                      colmap: dict[str, str] | None = None,
                      partition_by: list[str] | None = None
                      ) -> list[dict]:
    """Write ``df`` as immutable data files in the table dir (staged
    through a Spark parquet write, then renamed — same filesystem, so
    the rename is metadata-only) and return their add-entries.  Under
    an active column mapping the files (and therefore their footer
    stats) land under PHYSICAL names.  For a partitioned table the
    write is ``partitionBy`` (one Spark job regardless of partition
    count), files keep their ``col=value`` directory layout relative
    to the table root, and each add entry records its partition
    values — the merge key's stats fall back to the partition value
    when the key IS a partition column (partition files do not store
    the column physically)."""
    _require_partition_cols(df, partition_by)
    pv_types = _pv_types(df.schema, partition_by) if partition_by \
        else {}
    df = _to_physical(df, colmap)
    key = _phys_name(colmap, key)
    stage = os.path.join(path, f"_stage-{uuid.uuid4().hex}")
    w = df.write.mode("overwrite")
    if partition_by:
        # partition cols are never renameable (rename_column refuses),
        # so physical == logical for them and the dir names are stable
        w = w.partitionBy(*partition_by)
    w.parquet(stage)
    adds = []
    try:
        staged = _walk_staged(stage)
        # r16 (VERDICT r15 item 6): the per-file parquet footer probes
        # were a SEQUENTIAL driver loop — fine at fixture file counts,
        # a commit-planning bottleneck at 100 TB file counts.  A
        # bounded thread pool overlaps the footer I/O (pyarrow releases
        # the GIL on reads); ordering stays deterministic because the
        # results are zipped back to _walk_staged's sorted order.
        if len(staged) > 1:
            from concurrent.futures import ThreadPoolExecutor
            with ThreadPoolExecutor(
                    max_workers=min(16, len(staged))) as pool:
                probed = list(pool.map(
                    lambda rp: _file_stats(
                        os.path.join(stage, rp[0], rp[1]), key),
                    staged))
        else:
            probed = [_file_stats(os.path.join(stage, rel, part), key)
                      for rel, part in staged]
        for i, ((rel, part), stats) in enumerate(zip(staged, probed)):
            src = os.path.join(stage, rel, part)
            if stats["rows"] == 0:
                continue
            if rel:
                pv = dict(comp.partition("=")[::2]
                          for comp in rel.split(os.sep))
                stats["pv"] = pv
                if key in pv and stats["kmin"] is None:
                    enc = _stats_encode(_pv_decode(pv[key],
                                                   pv_types[key]))
                    if enc is not None:
                        stats["kmin"] = stats["kmax"] = enc
            name = f"p-{version_hint}-{i}-{uuid.uuid4().hex}.parquet"
            if rel:
                os.makedirs(os.path.join(path, rel), exist_ok=True)
                name = f"{rel}/{name}" if os.sep == "/" else \
                    "/".join(rel.split(os.sep) + [name])
            os.rename(src, os.path.join(path, name))
            adds.append({"file": name, **stats})
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    return adds


def _drop_files(path: str, adds: list[dict]) -> None:
    for a in adds:
        with contextlib.suppress(OSError):
            os.remove(os.path.join(path, a["file"]))


def create_table(spark: SparkSession, df: DataFrame, path: str, *,
                 key: str,
                 partition_by: list[str] | None = None) -> Snapshot:
    """Create a txnlog table at ``path`` from ``df`` (commit v0).

    ``partition_by`` (r14) fixes a hive-style partition layout for the
    table's lifetime: data files land in ``col=value`` directories,
    every add action records its partition values, and reads/merges
    prune whole partitions before footer stats.  Partition columns
    cannot be renamed, dropped, or type-widened afterwards (their
    values are baked into directory names) — pick coarse, stable
    columns (the reference partitions its fact tables by month for
    the same reason).

    ``path`` must be absent or an empty directory: :func:`vacuum`
    reclaims every unreferenced ``.parquet`` under the table, so
    building a table over a directory that already holds files would
    later delete them — raises FileExistsError instead."""
    if os.path.isdir(path) and os.listdir(path):
        raise FileExistsError(
            f"create_table: {path} is not empty; a txnlog table needs "
            "an absent or empty directory")
    partition_by = list(partition_by) if partition_by else None
    if partition_by:
        names = [f.name for f in df.schema.fields]
        missing = [c for c in partition_by if c not in names]
        if missing:
            raise ValueError(
                f"create_table: partition column(s) {missing} not in "
                f"the frame (have {names})")
        if len(set(partition_by)) != len(partition_by):
            raise ValueError("create_table: duplicate partition column")
        if set(partition_by) == set(names):
            raise ValueError(
                "create_table: cannot partition by every column — "
                "no data columns would remain in the files")
    os.makedirs(_log_dir(path), exist_ok=False)
    adds = _stage_data_files(spark, df, path, key, 0,
                             partition_by=partition_by)
    payload = {"op": "create", "key": key, "add": adds, "remove": [],
               "schema": df.schema.json()}
    if partition_by:
        payload["partition_by"] = partition_by
    ok = _try_commit(path, 0, payload)
    if not ok:  # pragma: no cover - create races are caller error
        _drop_files(path, adds)
        raise CommitConflictError(f"table already created at {path}")
    return snapshot(path)


_FILE_META = "__txnlog_file"
_ROW_META = "__txnlog_ri"


def _with_rowmeta(df: DataFrame) -> DataFrame:
    """Append the per-file identity the DV protocol is keyed on: the
    data file's basename and the parquet reader's physical row index
    (``_metadata.row_index`` — stable, 0-based per file, JVM-side)."""
    return df.select(
        "*",
        F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1)
         .alias(_FILE_META),
        F.col("_metadata.row_index").alias(_ROW_META))


def _dv_frame(spark: SparkSession, dvmap: dict[str, list]) -> DataFrame:
    rows = [(n, [(int(s), int(e)) for s, e in rg])
            for n, rg in sorted(dvmap.items())]
    return local_frame(
        spark, rows, f"{_FILE_META} string, __dv_ranges array<struct<"
                     "s: bigint, e: bigint>>")


def _apply_dv(spark: SparkSession, df: DataFrame,
              dvmap: dict[str, list], *, keep_dead: bool = False
              ) -> DataFrame:
    """Mask (or, for CDC, SELECT) the rows a deletion vector covers.
    One broadcast hash join on the file basename against the
    churn-sized DV table, then a codegen'd ``exists`` over the range
    structs — no explode, cost ∝ scanned rows with a few-entry array
    probe each.  The DV table is a ``LocalRelation`` built by
    :func:`~docker_aktin_dwh_spark.session.local_frame`, so neither
    the mask nor its broadcast starts a Python worker.
    ``keep_dead=True`` inverts the filter (only DV'd rows survive —
    the CDC delta read)."""
    cols = df.columns
    base = _with_rowmeta(df)
    j = base.join(F.broadcast(_dv_frame(spark, dvmap)),
                  _FILE_META, "left")
    dead = F.when(F.col("__dv_ranges").isNull(), F.lit(False)).otherwise(
        F.exists("__dv_ranges",
                 lambda r: (F.col(_ROW_META) >= r["s"])
                           & (F.col(_ROW_META) <= r["e"])))
    return j.filter(dead if keep_dead else ~dead).select(*cols)


def _scan(spark: SparkSession, path: str, schema: StructType,
          names: list[str], colmap: dict[str, str] | None,
          partition_by: list[str] | None) -> DataFrame:
    """Raw (un-DV-masked) physical-name scan of the named files.  For
    a partitioned table the files sit in ``col=value`` dirs and carry
    no physical partition columns — ``basePath`` makes Spark's native
    partition discovery surface them, typed by the provided schema, as
    one scan node (no per-partition union)."""
    reader = spark.read.schema(_phys_schema(schema, colmap))
    if partition_by:
        reader = reader.option("basePath", path)
    return reader.parquet(*[os.path.join(path, n) for n in names])


def _read_files(spark: SparkSession, path: str, schema: StructType,
                names: list[str], stats: dict[str, dict],
                colmap: dict[str, str] | None = None,
                partition_by: list[str] | None = None) -> DataFrame:
    """The ONE data-file read path: the named files under the logged
    (logical) schema, with each file's deletion vector masked.  Every
    rewrite (merge fold, compact, delete) reads through here — reading
    a DV'd file raw would RESURRECT its dead rows into the rewrite.
    Under column mapping the scan runs under PHYSICAL names (DV
    masking included — it needs the scan's ``_metadata``) and aliases
    back to logical as the last projection."""
    df = _scan(spark, path, schema, names, colmap, partition_by)
    # DVs join on the file BASENAME (uuid-unique even across partition
    # dirs) — log entries key the relative path
    dvmap = {os.path.basename(n): stats[n]["dv"] for n in names
             if stats.get(n, {}).get("dv")}
    if dvmap:
        df = _apply_dv(spark, df, dvmap)
    df = _alias_logical(df, schema, colmap)
    if partition_by:
        # partition discovery surfaces partition columns LAST no
        # matter the provided schema order — project back to the
        # logged order (a pure column reorder, no computation)
        df = df.select(*[f.name for f in schema.fields])
    return df


def _pv_hit(stats: dict, col: str, op: str, val, dtype) -> bool:
    """Partition pruning for one conjunct: the file's recorded
    partition value is an EXACT [v, v] interval — no footer, no
    false-keep from interval width.  A NULL partition value satisfies
    no comparison (SQL three-valued logic), so those files prune."""
    raw = (stats.get("pv") or {}).get(col)
    if raw is None:
        return True                       # no recorded value: keep
    v = _pv_decode(raw, dtype)
    if v is None:
        return False                      # NULL partition: provably no
    try:
        if op == "=":
            return v == val
        if op == "<":
            return v < val
        if op == "<=":
            return v <= val
        if op == ">":
            return v > val
        if op == ">=":
            return v >= val
        if op == "in":
            return v in val
    except TypeError:
        return True                       # incomparable: no pruning
    return True


def prune_files(snap: Snapshot,
                filters: list[tuple[str, str, object]]) -> list[str]:
    """The live files of ``snap`` that can contain a row satisfying
    ALL of ``filters`` (conjunction of ``(col, op, literal)`` with op
    ∈ {=, <, <=, >, >=, in}), judged by PARTITION VALUES first (exact,
    r14) and then the per-column [min, max] intervals each commit
    records from the parquet footers (_file_stats).  Control-plane
    only — no file is opened.  Filters name LOGICAL columns; stats are
    keyed physical (rename-stable), so the conjuncts translate through
    the snapshot's colmap first (partition columns are never renamed,
    so their names pass through unchanged)."""
    pcols = set(snap.partition_by or ())
    types = {}
    if pcols and snap.schema_json:
        types = _pv_types(
            StructType.fromJson(json.loads(snap.schema_json)),
            list(pcols))
    part = [(c, o, v) for c, o, v in filters if c in pcols]
    rest = [(_phys_name(snap.colmap, c), o, v)
            for c, o, v in filters if c not in pcols]
    return [n for n in sorted(snap.files)
            if all(_pv_hit(snap.files[n], c, o, v, types[c])
                   for c, o, v in part)
            and all(_interval_hit(snap.files[n], c, o, v)
                    for c, o, v in rest)]


def read_table(spark: SparkSession, path: str,
               version: int | None = None, *,
               timestamp: float | None = None,
               filters: list[tuple[str, str, object]] | None = None
               ) -> DataFrame:
    """DataFrame over exactly the files live at ``version`` (default
    latest) — snapshot-isolated, lock-free.  Reads under the LOGGED
    schema of that version (the log, not the files, is the source of
    truth — Delta's rule): after a schema-evolving append, files
    written before the evolution lack the new columns and Spark's
    parquet reader surfaces them as NULL; time travel to an
    pre-evolution version reads under THAT version's narrower
    schema.  Rows covered by a deletion vector at that version are
    masked (merge-on-read); rows DV'd only in LATER versions are
    still visible — time travel sees them alive.

    ``filters`` (VERDICT r11 item 4) skips files whose recorded
    per-column [min, max] interval cannot satisfy the conjunction —
    FILE-granular pruning only: the caller still applies the same
    predicate row-level (`.filter(...)`), exactly like Delta's data
    skipping leaves the residual predicate in the scan.  At 100 TB
    this is the difference between opening every file of a
    10k-file table and opening the interval-hit handful.

    ``timestamp`` (epoch seconds) resolves to a version via
    :func:`resolve_timestamp` — Delta's ``timestampAsOf``; mutually
    exclusive with ``version``."""
    if timestamp is not None:
        if version is not None:
            raise ValueError("pass version OR timestamp, not both")
        version = resolve_timestamp(path, timestamp)
    snap = snapshot(path, version)
    schema = StructType.fromJson(json.loads(snap.schema_json))
    keep = prune_files(snap, filters) if filters else sorted(snap.files)
    if not keep:
        return local_frame(spark, [], schema)
    return _read_files(spark, path, schema, keep, snap.files,
                       snap.colmap, snap.partition_by)


def _widened_schema(snap: Snapshot, df: DataFrame) -> StructType:
    """The table's logged schema plus ``df``'s new columns appended in
    ``df`` order — the schema an evolving commit records."""
    logged = StructType.fromJson(json.loads(snap.schema_json))
    have = {f.name for f in logged.fields}
    return StructType(list(logged.fields)
                      + [f for f in df.schema.fields
                         if f.name not in have])


def _check_types(snap: Snapshot, df: DataFrame, verb: str) -> None:
    """Reject a frame that RETYPES a logged column (ADVICE r10): schema
    merging is by name, so without this check an append/merge whose df
    carries e.g. ``v string`` against a logged ``v long`` would commit
    files whose physical type conflicts with the logged schema — the
    write succeeds and the corruption surfaces only at read time.
    Delta rejects incompatible metadata at COMMIT; so do we (exact
    dataType equality — implicit widening is a silent fork too)."""
    logged = {f.name: f.dataType for f in
              StructType.fromJson(json.loads(snap.schema_json)).fields}
    bad = [(f.name, str(logged[f.name]), str(f.dataType))
           for f in df.schema.fields
           if f.name in logged and f.dataType != logged[f.name]]
    if bad:
        raise ValueError(
            f"{verb}: frame retypes logged column(s) "
            + ", ".join(f"{n} (logged {lt}, frame {ft})"
                        for n, lt, ft in bad)
            + " — txnlog rejects type conflicts at commit time; cast "
            "the frame to the logged types first")


def _check_constraints(snap: Snapshot, df: DataFrame,
                       verb: str) -> None:
    """Enforce the table's CHECK constraints on an incoming frame —
    Delta's write-side validation: a row violates a constraint iff the
    expression evaluates to FALSE (NULL satisfies, standard-SQL CHECK
    semantics).  One filter+count per constraint over the batch-sized
    frame, before anything stages."""
    if not snap.constraints:
        return
    # validate the frame AS IT WILL BE STORED: a batch narrower than
    # the logged schema NULL-fills its missing columns, and those
    # nulls must face the constraint too (`v IS NOT NULL` on an
    # omitted v is a violation, not a free pass)
    logged = StructType.fromJson(json.loads(snap.schema_json))
    widened = df
    for fld in logged.fields:
        if fld.name not in df.columns:
            widened = widened.withColumn(
                fld.name, F.lit(None).cast(fld.dataType))
    for name, expr in sorted(snap.constraints.items()):
        n_bad = widened.filter(~F.expr(expr)).count()
        if n_bad:
            raise ValueError(
                f"{verb}: {n_bad} row(s) violate CHECK constraint "
                f"{name!r} ({expr}) — nothing was committed")


def set_constraint(spark: SparkSession, path: str, *, name: str,
                   expr: str) -> Snapshot:
    """ALTER TABLE ADD CONSTRAINT (Delta's CHECK constraints): record
    ``expr`` in the log and enforce it on every subsequent write verb.
    Like Delta, adding a constraint first VALIDATES the existing
    content — a table already violating it refuses the constraint
    rather than recording a lie.  The commit carries the full updated
    constraint map (latest wins, like schema), so checkpoint replay
    and time travel see the constraints of their version; RESTORE
    rolls constraints back with the rest of the metadata.

    Retry budget is METADATA_MAX_ATTEMPTS (r13): a metadata-only
    commit always loses the claim race to data writers mid-stage, so
    the data-verb budget starves it under churn (observed in the
    serializability lane); re-validation is skipped when the file set
    (incl. DVs) is unchanged since the last validated attempt — only
    the claim is retried."""
    validated_state = None
    for _ in range(METADATA_MAX_ATTEMPTS):
        snap = snapshot(path)
        # keyed on file rows/DVs AND schema/colmap (ADVICE r13): a
        # concurrent metadata-only rename/drop leaves the file state
        # unchanged but can strip the very column ``expr`` references —
        # re-validation must re-run so the unresolvable column surfaces
        # BEFORE the constraint is recorded (a poisoned constraint
        # would break every subsequent write at _check_constraints)
        state = (snap.schema_json, None if snap.colmap is None
                 else tuple(sorted(snap.colmap.items())),
                 tuple(sorted(
                     (n, s.get("rows"),
                      tuple(tuple(r) for r in (s.get("dv") or [])))
                     for n, s in snap.files.items())))
        if state != validated_state:
            n_bad = read_table(spark, path, snap.version) \
                .filter(~F.expr(expr)).count()
            if n_bad:
                raise ValueError(
                    f"set_constraint: existing table content violates "
                    f"{name!r} ({expr}) on {n_bad} row(s) — refusing "
                    f"to record a constraint the data does not satisfy")
            validated_state = state
        merged = {**snap.constraints, name: expr}
        if _try_commit(path, snap.version + 1,
                       {"op": "set_constraint", "add": [], "remove": [],
                        "constraints": merged}):
            return snapshot(path, snap.version + 1)
    raise CommitConflictError(
        f"set_constraint lost {METADATA_MAX_ATTEMPTS} races at {path}")


def drop_constraint(spark: SparkSession, path: str, *,
                    name: str) -> Snapshot:
    """ALTER TABLE DROP CONSTRAINT — commits the shrunken map."""
    for _ in range(METADATA_MAX_ATTEMPTS):
        snap = snapshot(path)
        if name not in snap.constraints:
            raise KeyError(
                f"drop_constraint: no constraint {name!r} on {path} "
                f"(have {sorted(snap.constraints)})")
        merged = {k: v for k, v in snap.constraints.items()
                  if k != name}
        if _try_commit(path, snap.version + 1,
                       {"op": "drop_constraint", "add": [],
                        "remove": [], "constraints": merged}):
            return snapshot(path, snap.version + 1)
    raise CommitConflictError(
        f"drop_constraint lost {METADATA_MAX_ATTEMPTS} races at {path}")


def _constraint_refs(constraints: dict[str, str], col: str) -> list[str]:
    """Constraint names whose expression mentions ``col`` as a word —
    conservative (a quoted string literal containing the name also
    matches), which errs toward refusing a rename/drop rather than
    silently breaking a CHECK expression."""
    import re
    pat = re.compile(rf"\b{re.escape(col)}\b")
    return sorted(n for n, e in constraints.items() if pat.search(e))


def rename_column(spark: SparkSession, path: str, *, old: str,
                  new: str) -> Snapshot:
    """ALTER TABLE RENAME COLUMN as a METADATA-ONLY commit (r13 —
    Delta's columnMapping mode "name"; reference analogue: plain
    ``ALTER TABLE RENAME COLUMN`` on stock Postgres,
    /root/reference/src/docker/database/Dockerfile:8).  No data file
    is read or rewritten — at 100 TB that is the whole point: the
    commit records the renamed LOGICAL schema plus a logical→physical
    column map; data files keep their (physical) column names and
    readers alias at scan time.  First rename/drop ACTIVATES the
    mapping with identity physical names (that is what existing files
    store); physical names never change afterwards, so footer-stats
    pruning, MERGE data skipping and CDC diffs keep working across any
    number of renames.  Renaming the merge key updates the logged key.
    Refuses to rename a column referenced by a CHECK constraint
    (drop/re-add the constraint around the rename — rewriting SQL
    text would be a guess)."""
    for _ in range(METADATA_MAX_ATTEMPTS):
        snap = snapshot(path)
        schema = StructType.fromJson(json.loads(snap.schema_json))
        names = [f.name for f in schema.fields]
        if old not in names:
            raise KeyError(
                f"rename_column: no column {old!r} (have {names})")
        if new in names:
            raise ValueError(
                f"rename_column: column {new!r} already exists")
        refs = _constraint_refs(snap.constraints, old)
        if refs:
            raise ValueError(
                f"rename_column: column {old!r} is referenced by CHECK "
                f"constraint(s) {refs} — drop them, rename, then "
                f"re-add under the new name (txnlog will not rewrite "
                f"constraint SQL)")
        if old in (snap.partition_by or ()):
            raise ValueError(
                f"rename_column: {old!r} is a partition column — its "
                f"name is baked into every data directory; recreate "
                f"the table to change the partition layout")
        colmap = dict(snap.colmap) if snap.colmap is not None \
            else _identity_colmap(schema)
        colmap[new] = colmap.pop(old)
        from pyspark.sql.types import StructField
        new_schema = StructType([
            StructField(new if f.name == old else f.name, f.dataType,
                        f.nullable, f.metadata) for f in schema.fields])
        payload: dict = {"op": "rename_column", "add": [], "remove": [],
                         "schema": new_schema.json(), "colmap": colmap,
                         "renamed": {"from": old, "to": new}}
        if snap.key == old:
            payload["key"] = new
        if _try_commit(path, snap.version + 1, payload):
            return snapshot(path, snap.version + 1)
    raise CommitConflictError(
        f"rename_column lost {METADATA_MAX_ATTEMPTS} races at {path}")


def drop_column(spark: SparkSession, path: str, *,
                column: str) -> Snapshot:
    """ALTER TABLE DROP COLUMN as a METADATA-ONLY commit (r13): the
    field leaves the logical schema and the column map; the physical
    data stays in the files but no reader ever projects it (the next
    :func:`compact` rewrites it away physically).  A column LATER
    re-added under the same logical name gets a FRESH physical name
    (see :func:`append`), so the dropped data can never resurrect —
    Delta's columnMapping drop semantics.  Refuses to drop the merge
    key, the last column, or a column referenced by a CHECK
    constraint."""
    for _ in range(METADATA_MAX_ATTEMPTS):
        snap = snapshot(path)
        schema = StructType.fromJson(json.loads(snap.schema_json))
        names = [f.name for f in schema.fields]
        if column not in names:
            raise KeyError(
                f"drop_column: no column {column!r} (have {names})")
        if len(names) == 1:
            raise ValueError("drop_column: cannot drop the last column")
        if snap.key == column:
            raise ValueError(
                f"drop_column: {column!r} is the table's merge key — "
                f"MERGE/data-skipping is keyed on it; re-key the table "
                f"(recreate) before dropping")
        refs = _constraint_refs(snap.constraints, column)
        if refs:
            raise ValueError(
                f"drop_column: column {column!r} is referenced by "
                f"CHECK constraint(s) {refs} — drop the constraint(s) "
                f"first")
        if column in (snap.partition_by or ()):
            raise ValueError(
                f"drop_column: {column!r} is a partition column — "
                f"the layout is fixed at create_table; recreate the "
                f"table to change it")
        colmap = dict(snap.colmap) if snap.colmap is not None \
            else _identity_colmap(schema)
        colmap.pop(column, None)
        new_schema = StructType([f for f in schema.fields
                                 if f.name != column])
        payload = {"op": "drop_column", "add": [], "remove": [],
                   "schema": new_schema.json(), "colmap": colmap,
                   "dropped": column}
        if _try_commit(path, snap.version + 1, payload):
            return snapshot(path, snap.version + 1)
    raise CommitConflictError(
        f"drop_column lost {METADATA_MAX_ATTEMPTS} races at {path}")


def _is_safe_widening(a, b) -> bool:
    """The widening matrix: every value representable in ``a`` is
    exactly representable in ``b`` AND Spark's vectorized parquet
    reader can read an ``a``-typed file under a ``b`` read schema
    (probed on this build: int chain, float→double, decimal
    same-scale precision increase).  Deliberately NOT float→decimal,
    scale changes, or anything lossy."""
    from pyspark.sql.types import (ByteType, DecimalType, DoubleType,
                                   FloatType, IntegerType, LongType,
                                   ShortType)
    chain = [ByteType, ShortType, IntegerType, LongType]
    if type(a) in chain and type(b) in chain:
        return chain.index(type(b)) > chain.index(type(a))
    if isinstance(a, FloatType) and isinstance(b, DoubleType):
        return True
    if isinstance(a, DecimalType) and isinstance(b, DecimalType):
        return b.scale == a.scale and b.precision > a.precision
    return False


def widen_column_type(spark: SparkSession, path: str, *, column: str,
                      to: str) -> Snapshot:
    """ALTER COLUMN TYPE as a METADATA-ONLY commit (r13 — Delta 4.0's
    type widening): the logged schema records the WIDER type; no data
    file is rewritten — existing files keep their narrow physical
    type and every read path already widens at scan time (Spark's
    vectorized reader for the native path; the Arrow ``cast`` in
    logcore.read_file for the DataSources).  Only transitions in the
    safe matrix (:func:`_is_safe_widening`) are allowed —
    byte→short→int→long, float→double, decimal same-scale precision
    increase; anything lossy refuses.  Subsequent writes must carry
    the wide type (the retype guard enforces it); :func:`compact`
    physically normalizes old files to the wide type as a side
    effect of its rewrite.
    Reference analogue: ``ALTER TABLE ... ALTER COLUMN TYPE`` on
    stock Postgres (a full-table rewrite there; a log entry here)."""
    from pyspark.sql.types import StructField, _parse_datatype_string
    dst = _parse_datatype_string(to)
    for _ in range(METADATA_MAX_ATTEMPTS):
        snap = snapshot(path)
        schema = StructType.fromJson(json.loads(snap.schema_json))
        by_name = {f.name: f for f in schema.fields}
        if column not in by_name:
            raise KeyError(
                f"widen_column_type: no column {column!r} "
                f"(have {[f.name for f in schema.fields]})")
        if column in (snap.partition_by or ()):
            raise ValueError(
                f"widen_column_type: {column!r} is a partition "
                f"column — its values are encoded in directory names "
                f"under the CURRENT type; recreate the table to "
                f"change the partition layout")
        src_f = by_name[column]
        if not _is_safe_widening(src_f.dataType, dst):
            raise ValueError(
                f"widen_column_type: {src_f.dataType.simpleString()} → "
                f"{dst.simpleString()} is not a safe widening "
                f"(allowed: byte→short→int→long, float→double, "
                f"decimal same-scale precision increase)")
        new_schema = StructType([
            StructField(f.name, dst if f.name == column else f.dataType,
                        f.nullable, f.metadata) for f in schema.fields])
        payload = {"op": "widen_column_type", "add": [], "remove": [],
                   "schema": new_schema.json(),
                   "widened": {"column": column,
                               "from": src_f.dataType.simpleString(),
                               "to": dst.simpleString()}}
        if _try_commit(path, snap.version + 1, payload):
            return snapshot(path, snap.version + 1)
    raise CommitConflictError(
        f"widen_column_type lost {METADATA_MAX_ATTEMPTS} races at "
        f"{path}")


def add_column(spark: SparkSession, path: str, *, column: str,
               dtype: str, nullable: bool = True) -> Snapshot:
    """ALTER TABLE ADD COLUMN as a METADATA-ONLY commit (r13): the
    field joins the logical schema; no data file is touched — every
    existing file simply lacks the (physical) column and readers
    NULL-fill it, exactly like a schema-evolving append's
    pre-evolution files.  Under an active column mapping the new
    column gets a FRESH physical name (same no-resurrection rule as
    the evolving-append path); without mapping it keeps its own name.
    Non-nullable additions refuse: existing rows have no value to
    satisfy the constraint (Delta refuses the same way)."""
    if not nullable:
        raise ValueError(
            "add_column: a non-nullable column cannot be added to a "
            "table with existing rows (they would all violate it); "
            "add nullable, backfill, then enforce via set_constraint")
    from pyspark.sql.types import StructField, _parse_datatype_string
    dt = _parse_datatype_string(dtype)
    for _ in range(METADATA_MAX_ATTEMPTS):
        snap = snapshot(path)
        schema = StructType.fromJson(json.loads(snap.schema_json))
        if column in {f.name for f in schema.fields}:
            raise ValueError(
                f"add_column: column {column!r} already exists")
        new_schema = StructType(list(schema.fields)
                                + [StructField(column, dt, True)])
        payload: dict = {"op": "add_column", "add": [], "remove": [],
                         "schema": new_schema.json(),
                         "added": column}
        if snap.colmap is not None:
            payload["colmap"] = {**snap.colmap, column: _fresh_phys()}
        if _try_commit(path, snap.version + 1, payload):
            return snapshot(path, snap.version + 1)
    raise CommitConflictError(
        f"add_column lost {METADATA_MAX_ATTEMPTS} races at {path}")


def append(spark: SparkSession, df: DataFrame, path: str, *,
           key: str, evolve_schema: bool = False,
           txn: tuple[str, int] | None = None) -> Snapshot | None:
    """Blind append: stages files once, then claims the next version
    (retrying the claim only — appends never conflict logically).

    Schema evolution (the SRC-08 contract on the ACID format):
    ``evolve_schema=True`` lets ``df`` carry ADDED columns — the
    commit records the widened schema, readers of this and later
    versions surface the new columns (NULL on pre-evolution files),
    and time travel below the evolving commit keeps the old shape.
    Without the flag, a widened frame raises instead of silently
    forking the table's schema.  An evolving append that LOSES a
    version race re-reads the snapshot and re-derives the widened
    schema as logged ∪ df (ADVICE r9: a stale payload would silently
    drop a column a concurrent evolving append just committed —
    Delta conflict-checks concurrent metadata updates; we re-merge).

    ``txn=(app_id, app_version)`` makes the append IDEMPOTENT the way
    :func:`replace_contents` is: the application version commits in
    the same atomic log entry as the files, and an append whose
    app_version is ≤ the snapshot's recorded version for that app is
    a no-op (returns None) — the primitive that lets foreachBatch
    retry an already-appended micro-batch safely."""
    snap = snapshot(path)
    if txn is not None and snap.txns.get(txn[0], -1) >= txn[1]:
        return None                           # already applied
    logged = {f.name for f in
              StructType.fromJson(json.loads(snap.schema_json)).fields}
    new_cols = [c for c in df.columns if c not in logged]
    if new_cols and not evolve_schema:
        raise ValueError(
            f"append: frame adds columns {new_cols} not in the table "
            f"schema; pass evolve_schema=True to widen the table")
    _check_types(snap, df, "append")
    _check_constraints(snap, df, "append")

    def _stage_map(s: Snapshot, newc: list[str]):
        """The logical → physical map this attempt stages under: the
        snapshot's colmap plus FRESH physical names for evolving
        columns (Delta's rule — a re-added dropped name must never
        land on the dropped column's storage)."""
        if s.colmap is None:
            return None
        return {**s.colmap, **{c: _fresh_phys() for c in newc}}

    stage_map = _stage_map(snap, new_cols)
    adds = _stage_data_files(spark, df, path, key, snap.version + 1,
                             stage_map, snap.partition_by)
    payload: dict = {"op": "append", "add": adds, "remove": []}
    if new_cols:
        payload["schema"] = _widened_schema(snap, df).json()
        if stage_map is not None:
            payload["colmap"] = stage_map
    if txn is not None:
        payload["txn"] = {"app": txn[0], "version": txn[1]}
    v = snap.version + 1
    for _ in range(MERGE_MAX_ATTEMPTS * 4):
        if _try_commit(path, v, payload):
            return snapshot(path, v)
        # lost the race: another writer committed meanwhile.  Re-read
        # the snapshot so an evolving payload merges ITS schema with
        # whatever schema the winner logged, and a txn-idempotent
        # append notices the winner was its own earlier attempt.
        prev_constraints = snap.constraints
        prev_colmap = snap.colmap
        snap = snapshot(path)
        v = max(v + 1, snap.version + 1)
        if txn is not None and snap.txns.get(txn[0], -1) >= txn[1]:
            _drop_files(path, adds)
            return None
        # the winner may have CHANGED the table (ADVICE r11): a
        # concurrent set_constraint must gate this commit too, and a
        # concurrent evolving append whose new column's type conflicts
        # with df's must trip the retype guard — the logged-∪-df
        # re-merge alone would silently drop it from new_cols and
        # commit physically retyped files.  Re-validate per attempt,
        # exactly like merge()/apply_changes() re-derive.
        try:
            _check_types(snap, df, "append")
            if snap.constraints != prev_constraints:
                _check_constraints(snap, df, "append")
        except Exception:
            _drop_files(path, adds)
            raise
        logged = {f.name for f in StructType.fromJson(
            json.loads(snap.schema_json)).fields}
        new_cols = [c for c in df.columns if c not in logged]
        if new_cols and not evolve_schema:
            # ADVICE r13: a concurrent rename/drop removed a logical
            # name this frame carries — retrying would silently commit
            # a WIDENED schema (re-adding the column under a fresh
            # physical name) even though the caller never opted into
            # evolution.  Delta raises a concurrent-metadata conflict
            # here; so does the txnbatch writer (plan_colmap check).
            _drop_files(path, adds)
            raise CommitConflictError(
                f"append: a concurrent schema change removed "
                f"column(s) {new_cols} the frame carries and "
                f"evolve_schema=False — re-read the table schema and "
                f"retry (a silent retry would widen the schema)")
        if snap.colmap != prev_colmap:
            # a concurrent rename/drop (or first evolving append under
            # mapping) changed the column mapping: the staged files
            # carry stale physical names — re-stage under the fresh map
            _drop_files(path, adds)
            stage_map = _stage_map(snap, new_cols)
            adds = _stage_data_files(spark, df, path, key, v, stage_map,
                                     snap.partition_by)
            payload["add"] = adds
        if new_cols:
            payload["schema"] = _widened_schema(snap, df).json()
            if stage_map is not None:
                payload["colmap"] = {
                    **snap.colmap,
                    **{c: stage_map[c] for c in new_cols}}
        else:
            payload.pop("schema", None)
            payload.pop("colmap", None)
    _drop_files(path, adds)
    raise CommitConflictError(f"append lost {MERGE_MAX_ATTEMPTS * 4} "
                              f"version races at {path}")


#: above this many distinct batch keys, MERGE prunes files by the
#: batch's [min, max] envelope (one aggregate row) instead of
#: collecting the key set to the driver — coarser skipping, bounded
#: driver memory (VERDICT r9 item 4: a 10M-distinct-key CDC batch
#: must not strain the driver; the per-key bisect stays the precise
#: path for ordinary churn-sized batches).
MERGE_KEYS_COLLECT_MAX = 100_000

#: a file whose cumulative deletion vector reaches this fraction of its
#: rows is FOLDED (rewritten without the dead rows) by the commit that
#: crossed the line — merge-on-read trades a little read-side masking
#: for write economy, and this cap bounds the trade (Delta compacts
#: heavy DVs the same way).
DV_MAX_FILE_FRACTION = 0.5

#: cap on deletion indexes collected to the driver per commit; a churn
#: batch deleting more live rows than this takes the copy-on-write
#:  path instead (the bitmaps would stop being "sparse" anyway)
DV_ROWS_COLLECT_MAX = 1_000_000


def _compute_dv(spark: SparkSession, path: str, snap: Snapshot,
                touched: list[str], hit_rows, key: str):
    """Plan the merge-on-read arm for one commit attempt: which touched
    files take a ``dv`` action and which must FOLD (rewrite).

    ``hit_rows(df)`` filters a frame of the touched files to the rows
    the operation deletes (key ∈ batch for merge, the range predicate
    for delete).  Returns ``(dv_actions, fold_files)`` or ``(None,
    None)`` when the deletion is too large to plan as bitmaps (caller
    falls back to copy-on-write).  Driver memory is bounded by
    DV_ROWS_COLLECT_MAX int pairs — same discipline as the merge key
    collect cap."""
    schema = StructType.fromJson(json.loads(snap.schema_json))
    raw = _scan(spark, path, schema, touched, snap.colmap,
                snap.partition_by)
    # raw (unmasked) is correct here: an already-dead row that matches
    # again just re-enters the union — idempotent on ranges.  Row-meta
    # attaches on the PHYSICAL scan (it needs `_metadata`), the
    # logical aliasing follows so hit_rows sees logical names.
    base = _alias_logical(_with_rowmeta(raw), schema, snap.colmap,
                          extra=(_FILE_META, _ROW_META))
    hits = hit_rows(base).select(_FILE_META, _ROW_META)
    # one bounded job: cap + 1 rows proves "too big" without a second scan
    got = hits.limit(DV_ROWS_COLLECT_MAX + 1).collect()
    if len(got) > DV_ROWS_COLLECT_MAX:
        return None, None
    rev = {os.path.basename(n): n for n in touched}
    per: dict[str, list[int]] = {}
    for fn, ri in got:
        per.setdefault(rev[fn], []).append(ri)
    dv_actions: list[dict] = []
    fold: list[str] = []
    for fname in sorted(per):
        st = snap.files[fname]
        old_rg = st.get("dv") or []
        new_rg = _ranges_union(old_rg, _ranges_from_indexes(
            sorted(per[fname])))
        n_total = _ranges_count(new_rg)
        n_new = n_total - _ranges_count(old_rg)
        if n_new == 0:
            continue            # every hit row was already dead
        if n_total >= DV_MAX_FILE_FRACTION * st["rows"]:
            fold.append(fname)
        else:
            dv_actions.append({"file": fname, "ranges": new_rg,
                               "n": n_total, "n_new": n_new})
    return dv_actions, fold


def _rewrite_unaffected(s0: Snapshot, s1: Snapshot,
                        touched: list, hits) -> bool:
    """Logical conflict detection for staged rewrites (r13, Delta's
    rule): a lost VERSION race does not by itself invalidate a staged
    merge/apply/delete — commits are deltas, so a concurrent commit
    that neither changes the files this rewrite read (same stats,
    same DVs), nor adds interval-hit files it should have covered,
    nor touches schema/constraints/colmap, leaves the staged output
    VALID VERBATIM.  Then the loser only re-claims the next version
    instead of re-reading and re-staging — under append churn this is
    the difference between a merge that commits and a merge that
    starves (observed in bench's serializability lane: 3 mergers vs
    9 appenders, zero merges landed on a 5-re-derive budget)."""
    if (s1.schema_json != s0.schema_json
            or s1.constraints != s0.constraints
            or s1.colmap != s0.colmap):
        return False
    touched2 = {n for n, s in s1.files.items() if hits(s)}
    if touched2 != set(touched):
        return False
    return all(s1.files[n] == s0.files[n] for n in touched)


def merge(spark: SparkSession, path: str, batch: DataFrame, *,
          key: str,
          partition_filter: dict[str, object] | None = None) -> Snapshot:
    """Delete+insert MERGE keyed on ``key`` (the reference's re-import
    semantics): rows whose key appears in the batch are replaced,
    everything else inserted.

    Data skipping: only files whose footer [kmin, kmax] interval
    contains a batch key are considered; disjoint files carry over by
    log reference alone.  The batch key set is collected to the
    driver ONLY below MERGE_KEYS_COLLECT_MAX distinct keys (O(log B)
    bisect per file); a wider batch prunes by its min/max envelope —
    one aggregate row, driver cost O(1) regardless of churn.

    Merge-on-read (r11): below the key-collect cap the replaced rows
    are DELETION-VECTORED, not rewritten — the commit carries the
    batch's own files plus per-file row-index bitmaps; a file whose
    cumulative DV crosses DV_MAX_FILE_FRACTION is folded (rewritten
    live-rows-only) by that same commit.  Wide batches keep the
    copy-on-write rewrite.
    Optimistic concurrency: on a lost version race the staged files
    are dropped and the WHOLE merge re-derives from the fresh
    snapshot (a concurrent commit may have rewritten the very files
    this merge read), up to MERGE_MAX_ATTEMPTS.

    ``partition_filter`` (r14, partitioned tables): a {col: value}
    conjunction over partition columns that SCOPES the merge — only
    files in matching partitions are considered (pruned before key
    intervals), and concurrent commits in OTHER partitions are
    logically disjoint, so partition-local writers commit without
    re-deriving each other.  This is a CALLER CONTRACT, the same one
    Delta's partition-predicate-in-ON-clause merge makes: every batch
    row must match the filter (validated — a stray row raises), and
    the caller asserts no existing row with a batch key lives OUTSIDE
    the scope (true whenever the partition column is functionally
    dependent on the merge key, the normal layout).  Without the
    filter, semantics are global delete+insert — a key may move
    between partitions — at the cost of key-interval conflict scope."""
    batch = batch.cache()
    try:
        dk = batch.select(key).distinct()
        # ONE driver round-trip decides the arm (r15: was count() THEN
        # collect() — two sequential jobs on the common path): collect
        # at most cap+1 keys; fewer than that IS the full key set
        head = dk.limit(MERGE_KEYS_COLLECT_MAX + 1).collect()
        n_keys = len(head)
        if not n_keys:
            return append(spark, batch, path, key=key)
        if n_keys <= MERGE_KEYS_COLLECT_MAX:
            keys = sorted(r[0] for r in head)
            def key_hits(s): return _interval_hits(s, keys)
            anti_keys = F.broadcast(dk)
        else:
            lo, hi = dk.agg(F.min(key), F.max(key)).first()
            def key_hits(s): return _envelope_hits(s, lo, hi)
            # ADVICE r10: above the collect cap the key set can be
            # millions of rows — a broadcast hint would force it
            # through the driver and onto every executor, defeating
            # the bounded-driver-memory goal of the envelope arm.
            # Let it run as a shuffle anti-join instead.
            anti_keys = dk
        hits = key_hits
        if partition_filter:
            snap0 = snapshot(path)
            bad = [c for c in partition_filter
                   if c not in (snap0.partition_by or ())]
            if bad:
                raise ValueError(
                    f"merge: partition_filter names {bad}, not "
                    f"partition columns (partitioned by "
                    f"{snap0.partition_by})")
            import functools
            in_scope = functools.reduce(
                lambda a, b: a & b,
                [F.col(c).eqNullSafe(F.lit(v))
                 for c, v in partition_filter.items()])
            n_out = batch.filter(~in_scope).count()
            if n_out:
                raise ValueError(
                    f"merge: {n_out} batch row(s) fall outside "
                    f"partition_filter {partition_filter} — the scope "
                    f"contract requires every batch row to match")
            ptypes = _pv_types(
                StructType.fromJson(json.loads(snap0.schema_json)),
                list(partition_filter))

            def hits(s):
                pv = s.get("pv") or {}
                for c, v in partition_filter.items():
                    if c not in pv or _pv_decode(pv[c],
                                                 ptypes[c]) != v:
                        return False
                return key_hits(s)
        for _ in range(MERGE_MAX_ATTEMPTS):
            snap = snapshot(path)
            touched = [n for n, s in snap.files.items() if hits(s)]
            logged_cols = [fl.name for fl in StructType.fromJson(
                json.loads(snap.schema_json)).fields]
            extra = [c for c in batch.columns if c not in logged_cols]
            if extra:
                raise ValueError(
                    f"merge: batch adds columns {extra} not in the "
                    f"table schema; widen first with "
                    f"append(evolve_schema=True)")
            _check_types(snap, batch, "merge")
            _check_constraints(snap, batch, "merge")
            _require_partition_cols(batch, snap.partition_by)
            schema = StructType.fromJson(json.loads(snap.schema_json))
            dv_actions = fold = None
            if touched and n_keys <= MERGE_KEYS_COLLECT_MAX:
                dv_actions, fold = _compute_dv(
                    spark, path, snap, touched,
                    lambda df: df.join(F.broadcast(dk), key,
                                       "left_semi"), key)
            if dv_actions is not None:
                # merge-on-read: the commit is the batch's own files,
                # per-file deletion vectors for the replaced rows, and
                # a rewrite ONLY of files whose DV crossed the fold
                # cap — rewrite bytes ∝ touched rows, not files
                # r16 (guide §5): the fold-kept rows and the batch used
                # to stage as TWO sequential Spark write jobs; one
                # union stages both in a single job (the commit's add
                # set is the same row set either way — adds are
                # per-file log entries, and the read/CDC paths are
                # row-level, never file-boundary-sensitive)
                if fold:
                    live = _read_files(spark, path, schema, fold,
                                       snap.files, snap.colmap,
                                       snap.partition_by)
                    kept = live.join(anti_keys, key, "left_anti")
                    to_stage = kept.unionByName(
                        batch, allowMissingColumns=True)
                else:
                    to_stage = batch
                adds = _stage_data_files(spark, to_stage, path, key,
                                         snap.version + 1, snap.colmap,
                                         snap.partition_by)
                payload = {"op": "merge", "add": adds, "remove": fold}
                if dv_actions:
                    payload["dv"] = dv_actions
            else:
                if touched:
                    # copy-on-write fallback (wide batch / huge churn):
                    # logged schema + DV masking — a raw read would
                    # resurrect rows an earlier DV killed
                    old = _read_files(spark, path, schema, touched,
                                      snap.files, snap.colmap,
                                      snap.partition_by)
                    kept = old.join(anti_keys, key, "left_anti")
                    # a batch NARROWER than the evolved schema
                    # NULL-fills its missing columns (delete+insert
                    # semantics: the replacing row version simply has
                    # no value there)
                    merged = kept.unionByName(batch,
                                              allowMissingColumns=True)
                else:
                    merged = batch
                adds = _stage_data_files(spark, merged, path, key,
                                         snap.version + 1, snap.colmap,
                                         snap.partition_by)
                payload = {"op": "merge", "add": adds,
                           "remove": touched}
            # claim loop: while the winner's commit is logically
            # disjoint (see _rewrite_unaffected), the staged output
            # stays valid — retry the claim only, no re-derive
            v = snap.version + 1
            for _ in range(MERGE_MAX_ATTEMPTS * 8):
                if _try_commit(path, v, payload):
                    return snapshot(path, v)
                nxt = snapshot(path)
                if not _rewrite_unaffected(snap, nxt, touched, hits):
                    break                     # real conflict: re-derive
                snap = nxt
                v = max(v + 1, nxt.version + 1)
            _drop_files(path, adds)   # lost materially: redo vs new state
        raise CommitConflictError(
            f"merge lost {MERGE_MAX_ATTEMPTS} commit races at {path}")
    finally:
        batch.unpersist()


#: op values apply_changes accepts as "replace/insert this key" (any
#: NULL or out-of-vocabulary op raises — ADVICE r10: `op != delete` is
#: NULL for a NULL op, so an unvalidated malformed row would silently
#: DELETE its key: excluded from the upsert arm yet anti-joined out)
APPLY_UPSERT_OPS = ("insert", "update", "upsert")


def apply_changes(spark: SparkSession, path: str, feed: DataFrame, *,
                  key: str, op_col: str = "op",
                  delete_op: str = "delete",
                  upsert_ops: tuple[str, ...] = APPLY_UPSERT_OPS
                  ) -> Snapshot:
    """Apply a MIXED change batch — inserts, updates AND deletes — as
    ONE atomic commit (the ``MERGE WHEN MATCHED [AND cond] THEN
    DELETE`` shape; what a CDC consumer needs to maintain a replica
    from an endpoint diff).  ``feed`` carries the table's columns plus
    ``op_col``; rows whose op equals ``delete_op`` remove their key,
    every other row replaces/inserts its key.  The feed must carry at
    most one row per key (the endpoint-diff contract of
    table_changes; a key that is both updated and deleted in one
    batch is a malformed feed and raises).

    Same data skipping and optimistic concurrency as :func:`merge`:
    files disjoint from every feed key (delete keys included) carry
    over by log reference; a lost version race re-derives from the
    fresh snapshot.  Crucially, delete and upsert commit TOGETHER —
    a crash can never leave deletes applied but upserts missing (the
    two-call merge+delete_range emulation has exactly that window)."""
    feed = feed.cache()
    try:
        # both feed validations in ONE job (r15: was a dup-key count
        # THEN a bad-op count — two sequential actions): per-key row
        # counts and per-key invalid-op counts fold in one groupBy,
        # then one 2-column reduce
        valid_ops = tuple(upsert_ops) + (delete_op,)
        bad_pred = (F.col(op_col).isNull()
                    | ~F.col(op_col).isin(*valid_ops))
        # r16 (guide §5): the SAME aggregate also answers every other
        # control-plane question the verb needs — exact distinct-key
        # count (the arm gate), whether any upsert row exists (was a
        # separate isEmpty job), and the key envelope (was a separate
        # agg job on the wide arm) — so the wide arm now decides with
        # ZERO extra actions and the narrow arm with one (the bounded
        # key-values collect below).
        dup, n_bad, n_keys, n_ups, env_lo, env_hi = (
            feed.groupBy(key)
                .agg(F.count("*").alias("c"),
                     F.count_if(bad_pred).alias("b"),
                     # NULL op counts as neither (matches the ups
                     # filter, where NULL != delete_op is not true)
                     F.count_if(F.col(op_col) != delete_op).alias("u"))
                .agg(F.count_if(F.col("c") > 1),
                     F.sum("b"),
                     F.count(F.lit(1)),
                     F.count_if(F.col("u") > 0),
                     F.min(key), F.max(key)).first())
        if dup:
            raise ValueError(
                f"apply_changes: feed carries {dup} keys with more "
                f"than one op row — endpoint diffs are one-op-per-key")
        # Validate ops up front (ADVICE r10), mirroring the duplicate-
        # key feed check: a NULL op is neither upsert nor delete under
        # three-valued logic, so its key would be anti-joined out of
        # the existing files — a silent delete — and an out-of-
        # vocabulary op is a malformed feed either way.
        if n_bad:
            raise ValueError(
                f"apply_changes: feed carries {n_bad} rows whose "
                f"{op_col!r} is NULL or not in {sorted(valid_ops)} — "
                f"refusing to guess (a NULL op would silently delete "
                f"its key)")
        dk = feed.select(key).distinct()
        if not n_keys:
            return snapshot(path)
        if n_keys <= MERGE_KEYS_COLLECT_MAX:
            # narrow arm: ONE bounded driver round-trip for the key
            # VALUES (the count came with the validation aggregate)
            keys = sorted(r[0] for r in dk.collect())
            def hits(s): return _interval_hits(s, keys)
            anti_keys = F.broadcast(dk)
        else:
            def hits(s): return _envelope_hits(s, env_lo, env_hi)
            anti_keys = dk        # wide batch: no broadcast (see merge)
        ups = feed.filter(F.col(op_col) != delete_op).drop(op_col)
        # a delete-only feed stages NOTHING — without this guard the
        # empty upsert frame still walks _stage_data_files, which on a
        # partitioned table refuses a feed that (legitimately) carries
        # only the key column (r15: the MERGE ... WHEN MATCHED THEN
        # DELETE SQL shape is exactly such a feed).  Answered by the
        # validation aggregate — no isEmpty job (r16).
        ups_empty = n_ups == 0
        for _ in range(MERGE_MAX_ATTEMPTS):
            snap = snapshot(path)
            logged_cols = [fl.name for fl in StructType.fromJson(
                json.loads(snap.schema_json)).fields]
            extra = [c for c in ups.columns if c not in logged_cols]
            if extra:
                raise ValueError(
                    f"apply_changes: feed adds columns {extra} not in "
                    f"the table schema; widen first with "
                    f"append(evolve_schema=True)")
            _check_types(snap, ups, "apply_changes")
            _check_constraints(snap, ups, "apply_changes")
            if not ups_empty:
                _require_partition_cols(ups, snap.partition_by)
            touched = [n for n, s in snap.files.items() if hits(s)]
            schema = StructType.fromJson(json.loads(snap.schema_json))
            dv_actions = fold = None
            if touched and n_keys <= MERGE_KEYS_COLLECT_MAX:
                dv_actions, fold = _compute_dv(
                    spark, path, snap, touched,
                    lambda df: df.join(F.broadcast(dk), key,
                                       "left_semi"), key)
            if dv_actions is not None:
                # merge-on-read: deletes AND replaced update rows are
                # bitmapped; only the upsert rows (and any fold) stage
                # r16: fold-kept + upserts stage in ONE write job
                # (same single-staging fold as merge, guide §5)
                to_stage = None
                if fold:
                    live = _read_files(spark, path, schema, fold,
                                       snap.files, snap.colmap,
                                       snap.partition_by)
                    kept = live.join(anti_keys, key, "left_anti")
                    to_stage = kept if ups_empty else kept.unionByName(
                        ups, allowMissingColumns=True)
                elif not ups_empty:
                    to_stage = ups
                adds = [] if to_stage is None else _stage_data_files(
                    spark, to_stage, path, key, snap.version + 1,
                    snap.colmap, snap.partition_by)
                payload = {"op": "apply", "add": adds, "remove": fold}
                if dv_actions:
                    payload["dv"] = dv_actions
            else:
                if touched:
                    old = _read_files(spark, path, schema, touched,
                                      snap.files, snap.colmap,
                                      snap.partition_by)
                    kept = old.join(anti_keys, key, "left_anti")
                    merged = kept if ups_empty else kept.unionByName(
                        ups, allowMissingColumns=True)
                else:
                    merged = ups
                adds = _stage_data_files(spark, merged, path, key,
                                         snap.version + 1, snap.colmap,
                                         snap.partition_by)
                payload = {"op": "apply", "add": adds,
                           "remove": touched}
            v = snap.version + 1
            for _ in range(MERGE_MAX_ATTEMPTS * 8):
                if _try_commit(path, v, payload):
                    return snapshot(path, v)
                nxt = snapshot(path)
                if not _rewrite_unaffected(snap, nxt, touched, hits):
                    break                     # real conflict: re-derive
                snap = nxt
                v = max(v + 1, nxt.version + 1)
            _drop_files(path, adds)
        raise CommitConflictError(
            f"apply_changes lost {MERGE_MAX_ATTEMPTS} commit races "
            f"at {path}")
    finally:
        feed.unpersist()


def replace_contents(spark: SparkSession, path: str, df: DataFrame, *,
                     key: str, txn: tuple[str, int] | None = None
                     ) -> Snapshot | None:
    """Atomically replace the WHOLE table content with ``df`` — the
    materialized-view update shape (the view is group-cardinality
    sized, so full replacement is the cheap and correct move).

    ``txn=(app_id, app_version)`` makes the write IDEMPOTENT the way
    Delta's txn action does: the application version commits in the
    same atomic log entry as the content, and a replace whose
    app_version is ≤ the snapshot's recorded version for that app is
    a no-op (returns None).  This is what closes the
    marker-after-view crash window of the plain-parquet applier
    (operators/maintenance.make_idempotent_applier): there is no
    instant where the view is updated but the marker is not — they
    are one commit."""
    for _ in range(MERGE_MAX_ATTEMPTS):
        snap = snapshot(path)
        if txn is not None and snap.txns.get(txn[0], -1) >= txn[1]:
            return None                       # already applied
        _check_types(snap, df, "replace_contents")
        _check_constraints(snap, df, "replace_contents")
        adds = _stage_data_files(spark, df, path, key, snap.version + 1,
                                 snap.colmap, snap.partition_by)
        payload = {"op": "replace", "add": adds,
                   "remove": sorted(snap.files)}
        if txn is not None:
            payload["txn"] = {"app": txn[0], "version": txn[1]}
        if _try_commit(path, snap.version + 1, payload):
            return snapshot(path, snap.version + 1)
        _drop_files(path, adds)   # lost the race: re-check idempotency
    raise CommitConflictError(
        f"replace lost {MERGE_MAX_ATTEMPTS} commit races at {path}")


def compact(spark: SparkSession, path: str, *, key: str,
            target_files: int = 1, min_files: int = 2,
            zorder_by: tuple[str, str] | None = None,
            partition_filter: dict[str, object] | None = None
            ) -> Snapshot | None:
    """Small-file compaction (the lakehouse OPTIMIZE verb): rewrite the
    current snapshot's data files into ``target_files`` range-sorted
    files and commit the swap atomically.  Content is unchanged — only
    the file layout.  Compaction is what keeps a txn table healthy
    after many small MERGE/append commits (every streaming micro-batch
    adds a file; scan cost and footer-stat precision both degrade
    until someone rewrites).  Range-repartitioning by the merge key
    restores TIGHT per-file [kmin, kmax] intervals, so post-compaction
    MERGEs skip better than pre-compaction ones.

    ``zorder_by=(a, b)`` is Delta's OPTIMIZE ZORDER BY: files cluster
    on the Morton interleave of the two columns
    (operators/maintenance.zorder_key — pure JVM bit arithmetic), so
    per-file envelopes stay tight in BOTH dimensions and scans
    filtering on EITHER column prune files.  The trade: the merge
    key's own intervals loosen relative to single-key range packing —
    pick it for tables queried by more than one column.  Bounds for
    the quantization come from one control-plane aggregate.

    No-op (returns None) when the table already has fewer than
    ``min_files`` files.  Concurrency: loses its version race politely
    and retries against the fresh snapshot like merge().

    ``partition_filter`` (r14, partitioned tables) scopes the rewrite
    to the matching partitions — how a 100 TB table compacts in
    practice: partition by partition (ideally the recently-churned
    ones), never as one table-sized job; files in other partitions
    carry over by log reference and concurrent writers there are
    logically untouched."""
    for _ in range(MERGE_MAX_ATTEMPTS):
        snap = snapshot(path)
        if partition_filter:
            bad = [c for c in partition_filter
                   if c not in (snap.partition_by or ())]
            if bad:
                raise ValueError(
                    f"compact: partition_filter names {bad}, not "
                    f"partition columns (partitioned by "
                    f"{snap.partition_by})")
            types = _pv_types(
                StructType.fromJson(json.loads(snap.schema_json)),
                list(partition_filter))
            scope = {
                n: s for n, s in snap.files.items()
                if all(c in (s.get("pv") or {})
                       and _pv_decode(s["pv"][c], types[c]) == v
                       for c, v in partition_filter.items())}
        else:
            scope = snap.files
        has_dv = any(s.get("dv") for s in scope.values())
        if len(scope) < min_files and not has_dv:
            return None
        if not scope:
            return None
        # masked read: compaction FOLDS deletion vectors — the rewritten
        # files carry live rows only and start with empty DVs
        cur = _read_files(spark, path,
                          StructType.fromJson(json.loads(
                              snap.schema_json)),
                          sorted(scope), snap.files, snap.colmap,
                          snap.partition_by)
        if zorder_by is not None:
            from ..operators.maintenance import zorder_key
            a, b = zorder_by
            lo_a, hi_a, lo_b, hi_b = cur.agg(
                F.min(a), F.max(a), F.min(b), F.max(b)).first()
            z = zorder_key(F.col(a), F.col(b), lo_a, hi_a, lo_b, hi_b)
            packed = (cur.withColumn("__z", z)
                         .repartitionByRange(target_files, "__z")
                         .sortWithinPartitions("__z").drop("__z"))
        else:
            packed = cur.repartitionByRange(target_files, key)
        adds = _stage_data_files(spark, packed, path, key,
                                 snap.version + 1, snap.colmap,
                                 snap.partition_by)
        if _try_commit(path, snap.version + 1,
                       {"op": "compact", "add": adds,
                        "remove": sorted(scope),
                        # Delta's OPTIMIZE marks its file actions
                        # dataChange=false: identical rows, new
                        # layout — streaming readers skip the commit
                        # instead of erroring or re-delivering
                        "data_change": False}):
            return snapshot(path, snap.version + 1)
        _drop_files(path, adds)
    raise CommitConflictError(
        f"compact lost {MERGE_MAX_ATTEMPTS} commit races at {path}")


def _interval_hits(stats: dict, keys: list) -> bool:
    """Does any batch key fall inside the file's [kmin, kmax]?  Missing
    stats → conservatively true.  Binary search over the sorted batch
    keys: O(log B) per file, control-plane.  Endpoints are stored in
    their JSON encoding (date/timestamp keys encode as tagged dicts —
    _stats_encode) and decode before comparing; an incomparable pair
    keeps the file (skipping is an optimization, never correctness)."""
    import bisect
    kmin, kmax = stats.get("kmin"), stats.get("kmax")
    if kmin is None or kmax is None:
        return True
    try:
        i = bisect.bisect_left(keys, _stats_decode(kmin))
        return i < len(keys) and keys[i] <= _stats_decode(kmax)
    except TypeError:
        return True


def _envelope_hits(stats: dict, lo, hi) -> bool:
    """Does the file's [kmin, kmax] intersect the batch's [lo, hi]
    envelope (both ends inclusive)?  Missing stats → conservatively
    true.  The coarse wide-batch pruning arm of :func:`merge`."""
    kmin, kmax = stats.get("kmin"), stats.get("kmax")
    if kmin is None or kmax is None:
        return True
    try:
        return _stats_decode(kmin) <= hi and _stats_decode(kmax) >= lo
    except TypeError:
        return True


def delete_range(spark: SparkSession, path: str, *, key,
                 lo, hi) -> Snapshot:
    """DELETE WHERE ``lo <= key < hi`` — the DELETE verb of the format,
    with the same footer-stats data skipping as :func:`merge`: only
    files whose [kmin, kmax] interval intersects [lo, hi) are rewritten
    (their surviving rows re-staged); disjoint files carry over by log
    reference alone.  At 100 TB a range delete (GDPR erasure of an id
    range, retention drop of an old key band) touches the handful of
    files holding the range, never the table.  Optimistic concurrency
    as in merge: a lost version race re-derives from the fresh
    snapshot."""
    pred = lambda df: df.filter((F.col(key) >= F.lit(lo))   # noqa: E731
                                & (F.col(key) < F.lit(hi)))
    for _ in range(MERGE_MAX_ATTEMPTS):
        snap = snapshot(path)
        touched = sorted(n for n, s in snap.files.items()
                         if _range_hits(s, lo, hi))
        if not touched:
            return snap                       # statically nothing to do
        schema = StructType.fromJson(json.loads(snap.schema_json))
        # merge-on-read first: a sparse erasure (one id band in a
        # 100 TB table) commits bitmaps, zero data rewrite
        dv_actions, fold = _compute_dv(spark, path, snap, touched,
                                       pred, key)
        if dv_actions is not None:
            adds = []
            if fold:
                live = _read_files(spark, path, schema, fold,
                                   snap.files, snap.colmap,
                                   snap.partition_by)
                adds = _stage_data_files(
                    spark, live.filter(~((F.col(key) >= F.lit(lo))
                                         & (F.col(key) < F.lit(hi)))),
                    path, key, snap.version + 1, snap.colmap,
                    snap.partition_by)
            payload = {"op": "delete", "add": adds, "remove": fold}
            if dv_actions:
                payload["dv"] = dv_actions
            if not dv_actions and not fold:
                return snap     # footer false positive: nothing to do
        else:
            old = _read_files(spark, path, schema, touched, snap.files,
                              snap.colmap, snap.partition_by)
            kept = old.filter(~((F.col(key) >= F.lit(lo))
                                & (F.col(key) < F.lit(hi))))
            adds = _stage_data_files(spark, kept, path, key,
                                     snap.version + 1, snap.colmap,
                                     snap.partition_by)
            payload = {"op": "delete", "add": adds, "remove": touched}
        v = snap.version + 1
        for _ in range(MERGE_MAX_ATTEMPTS * 8):
            if _try_commit(path, v, payload):
                return snapshot(path, v)
            nxt = snapshot(path)
            if not _rewrite_unaffected(
                    snap, nxt, touched,
                    lambda s: _range_hits(s, lo, hi)):
                break                         # real conflict: re-derive
            snap = nxt
            v = max(v + 1, nxt.version + 1)
        _drop_files(path, adds)
    raise CommitConflictError(
        f"delete lost {MERGE_MAX_ATTEMPTS} commit races at {path}")


def _filters_pred(filters: list[tuple[str, str, object]]):
    """The row-level predicate Column for a (col, op, literal)
    conjunction — the SAME semantics prune_files applies at file
    granularity, so pruning never changes the answer."""
    import functools
    ops = {
        "=": lambda c, v: F.col(c) == F.lit(v),
        "<": lambda c, v: F.col(c) < F.lit(v),
        "<=": lambda c, v: F.col(c) <= F.lit(v),
        ">": lambda c, v: F.col(c) > F.lit(v),
        ">=": lambda c, v: F.col(c) >= F.lit(v),
        "in": lambda c, v: F.col(c).isin(*list(v)),
    }
    return functools.reduce(lambda a, b: a & b,
                            [ops[o](c, v) for c, o, v in filters])


def _snap_file_hits(snap: Snapshot,
                    filters: list[tuple[str, str, object]]):
    """Per-file can-match closure for ``filters`` under ``snap``'s
    schema — partition values first (exact), then footer intervals;
    used both for the touched set and for logical conflict detection
    on retry."""
    pcols = set(snap.partition_by or ())
    types = {}
    if pcols and snap.schema_json:
        types = _pv_types(
            StructType.fromJson(json.loads(snap.schema_json)),
            list(pcols))
    part = [(c, o, v) for c, o, v in filters if c in pcols]
    rest = [(_phys_name(snap.colmap, c), o, v)
            for c, o, v in filters if c not in pcols]

    def hits(stats: dict) -> bool:
        return (all(_pv_hit(stats, c, o, v, types[c])
                    for c, o, v in part)
                and all(_interval_hit(stats, c, o, v)
                        for c, o, v in rest))
    return hits


def update_where(spark: SparkSession, path: str, *, key: str,
                 filters: list[tuple[str, str, object]],
                 assignments: dict[str, object]) -> Snapshot:
    """``UPDATE ... SET`` as ONE atomic commit (r14 — Delta's UPDATE,
    the lakehouse verb merge/apply/delete did not yet cover; reference
    analogue: plain SQL UPDATE on stock Postgres).  ``filters`` is the
    same (col, op, literal) conjunction read_table/prune_files speak —
    it prunes files control-plane FIRST (partition values, then footer
    intervals), so at 100 TB an update touching one id band opens the
    interval-hit handful of files, never the table.  ``assignments``
    maps column → new value (a Column, or a SQL expression string
    evaluated per row — old column values referencable).

    Merge-on-read: matched rows are DELETION-VECTORED in place and the
    updated row versions stage as new files — rewrite bytes ∝ updated
    ROWS (files whose cumulative DV crosses the fold cap rewrite, as
    everywhere).  Wide updates past the DV collect cap fall back to
    copy-on-write.  The merge key cannot be assigned (key identity is
    what CDC/merge semantics are built on — re-keying is a
    merge/delete+insert, not an update).  Constraints and the retype
    guard validate the UPDATED rows before anything commits; the
    change feed classifies the result as update_preimage/postimage
    pairs with no stored change column.  Optimistic concurrency: lost
    claims retry claim-only while the winner is logically disjoint
    (_rewrite_unaffected), else re-derive."""
    if not filters:
        raise ValueError("update_where: empty filters would rewrite "
                         "the whole table; pass an explicit "
                         "conjunction (or use replace_contents)")
    if key in assignments:
        raise ValueError(
            f"update_where: cannot assign the merge key {key!r} — "
            f"re-keying rows is a merge/delete+insert, not an update")
    pred = _filters_pred(filters)

    def assign(df: DataFrame) -> DataFrame:
        # ONE projection for all assignments so every expression sees
        # the PRE-update row (SQL/Delta UPDATE semantics: {'a': col
        # ('b'), 'b': col('a')} swaps; sequential withColumn would
        # feed later assignments the NEW values — ADVICE r14).
        return df.withColumns(
            {c: (F.expr(v) if isinstance(v, str) else v)
             for c, v in assignments.items()})

    for _ in range(MERGE_MAX_ATTEMPTS):
        snap = snapshot(path)
        schema = StructType.fromJson(json.loads(snap.schema_json))
        logged = {f.name for f in schema.fields}
        bad = [c for c in assignments if c not in logged]
        if bad:
            raise ValueError(
                f"update_where: assignment targets {bad} not in the "
                f"table schema (have {sorted(logged)})")
        hits = _snap_file_hits(snap, filters)
        touched = sorted(n for n, s in snap.files.items()
                         if hits(s))
        if not touched:
            return snap                   # statically nothing matches
        live = _read_files(spark, path, schema, touched, snap.files,
                           snap.colmap, snap.partition_by)
        updated = assign(live.filter(pred)).select(
            *[f.name for f in schema.fields])
        _check_types(snap, updated, "update_where")
        _check_constraints(snap, updated, "update_where")
        dv_actions, fold = _compute_dv(spark, path, snap, touched,
                                       lambda df: df.filter(pred), key)
        if dv_actions is not None:
            if not dv_actions and not fold:
                return snap   # footer false positive: nothing matches
            adds = []
            if fold:
                flive = _read_files(spark, path, schema, fold,
                                    snap.files, snap.colmap,
                                    snap.partition_by)
                adds += _stage_data_files(
                    spark, flive.filter(~pred), path, key,
                    snap.version + 1, snap.colmap, snap.partition_by)
            adds += _stage_data_files(spark, updated, path, key,
                                      snap.version + 1, snap.colmap,
                                      snap.partition_by)
            payload = {"op": "update", "add": adds, "remove": fold}
            if dv_actions:
                payload["dv"] = dv_actions
        else:
            merged = live.filter(~pred).unionByName(updated)
            adds = _stage_data_files(spark, merged, path, key,
                                     snap.version + 1, snap.colmap,
                                     snap.partition_by)
            payload = {"op": "update", "add": adds, "remove": touched}
        v = snap.version + 1
        for _ in range(MERGE_MAX_ATTEMPTS * 8):
            if _try_commit(path, v, payload):
                return snapshot(path, v)
            nxt = snapshot(path)
            if not _rewrite_unaffected(snap, nxt, touched, hits):
                break                     # real conflict: re-derive
            snap = nxt
            v = max(v + 1, nxt.version + 1)
        _drop_files(path, adds)
    raise CommitConflictError(
        f"update_where lost {MERGE_MAX_ATTEMPTS} commit races at "
        f"{path}")


def delete_where(spark: SparkSession, path: str, *, key: str,
                 filters: list[tuple[str, str, object]]) -> Snapshot:
    """``DELETE WHERE`` over an arbitrary (col, op, literal)
    conjunction (r14 — Delta's predicate DELETE; :func:`delete_range`
    remains the key-range fast form).  Same physics as
    :func:`update_where` minus the assignments: conjunction-pruned
    file selection (partition values first, then footer intervals),
    merge-on-read deletion vectors for sparse hits with fold/copy-on-
    write fallbacks, CDC classifies plain deletes, claim-only retries
    while the winner is logically disjoint."""
    if not filters:
        raise ValueError("delete_where: empty filters would delete "
                         "the whole table; pass an explicit "
                         "conjunction")
    pred = _filters_pred(filters)
    for _ in range(MERGE_MAX_ATTEMPTS):
        snap = snapshot(path)
        schema = StructType.fromJson(json.loads(snap.schema_json))
        hits = _snap_file_hits(snap, filters)
        touched = sorted(n for n, s in snap.files.items() if hits(s))
        if not touched:
            return snap                   # statically nothing matches
        dv_actions, fold = _compute_dv(spark, path, snap, touched,
                                       lambda df: df.filter(pred), key)
        if dv_actions is not None:
            if not dv_actions and not fold:
                return snap   # footer false positive: nothing matches
            adds = []
            if fold:
                live = _read_files(spark, path, schema, fold,
                                   snap.files, snap.colmap,
                                   snap.partition_by)
                adds = _stage_data_files(
                    spark, live.filter(~pred), path, key,
                    snap.version + 1, snap.colmap, snap.partition_by)
            payload = {"op": "delete", "add": adds, "remove": fold}
            if dv_actions:
                payload["dv"] = dv_actions
        else:
            old = _read_files(spark, path, schema, touched, snap.files,
                              snap.colmap, snap.partition_by)
            adds = _stage_data_files(spark, old.filter(~pred), path,
                                     key, snap.version + 1,
                                     snap.colmap, snap.partition_by)
            payload = {"op": "delete", "add": adds, "remove": touched}
        v = snap.version + 1
        for _ in range(MERGE_MAX_ATTEMPTS * 8):
            if _try_commit(path, v, payload):
                return snapshot(path, v)
            nxt = snapshot(path)
            if not _rewrite_unaffected(snap, nxt, touched, hits):
                break                     # real conflict: re-derive
            snap = nxt
            v = max(v + 1, nxt.version + 1)
        _drop_files(path, adds)
    raise CommitConflictError(
        f"delete_where lost {MERGE_MAX_ATTEMPTS} commit races at "
        f"{path}")


def drop_partition(spark: SparkSession, path: str, *,
                   values: dict[str, object]) -> Snapshot:
    """Drop whole partitions as a METADATA-ONLY commit (r14 — the
    retention fast path the reference gets from ``ALTER TABLE ...
    DETACH PARTITION``/``DROP TABLE`` on its month-partitioned fact
    tables): every live file whose partition values match ALL of
    ``values`` (a {col: value} conjunction over partition columns)
    leaves the snapshot by log reference — no data file is read or
    written; vacuum reclaims the bytes after retention.  Time travel
    below the drop still sees the partition; the change feed
    classifies its rows as deletes.  At 100 TB this is how a month of
    history retires: one commit, zero data I/O."""
    for _ in range(METADATA_MAX_ATTEMPTS):
        snap = snapshot(path)
        if not snap.partition_by:
            raise ValueError(
                f"drop_partition: table at {path} is not partitioned "
                f"(use delete_range for key-range erasure)")
        bad = [c for c in values if c not in snap.partition_by]
        if bad:
            raise ValueError(
                f"drop_partition: {bad} are not partition columns "
                f"(partitioned by {snap.partition_by})")
        schema = StructType.fromJson(json.loads(snap.schema_json))
        types = _pv_types(schema, list(values))
        removes = sorted(
            n for n, s in snap.files.items()
            if all(c in (s.get("pv") or {})
                   and _pv_decode(s["pv"][c], types[c]) == v
                   for c, v in values.items()))
        if not removes:
            return snap                   # nothing lives there
        if _try_commit(path, snap.version + 1,
                       {"op": "drop_partition", "add": [],
                        "remove": removes,
                        "dropped_partition": {
                            c: None if v is None else str(v)
                            for c, v in values.items()}}):
            return snapshot(path, snap.version + 1)
    raise CommitConflictError(
        f"drop_partition lost {METADATA_MAX_ATTEMPTS} races at {path}")


def _range_hits(stats: dict, lo, hi) -> bool:
    """Does the file's [kmin, kmax] interval intersect [lo, hi)?
    Missing stats → conservatively true; encoded endpoints decode
    first (see _interval_hits)."""
    kmin, kmax = stats.get("kmin"), stats.get("kmax")
    if kmin is None or kmax is None:
        return True
    try:
        return _stats_decode(kmin) < hi and _stats_decode(kmax) >= lo
    except TypeError:
        return True


def changed_file_sets(s_from: Snapshot,
                      s_to: Snapshot) -> tuple[list[str], list[str]]:
    """The version-asymmetric file sets between two snapshots.  Data
    files are immutable and referenced by name, so a file present in
    BOTH snapshots is byte-identical in both — it cannot contribute a
    change and the CDC diff never opens it.  Control-plane only."""
    old_only = sorted(n for n in s_from.files if n not in s_to.files)
    new_only = sorted(n for n in s_to.files if n not in s_from.files)
    return old_only, new_only


def table_changes(spark: SparkSession, path: str, v_from: int,
                  v_to: int | None = None, *, key: str) -> DataFrame:
    """Change-data feed between two committed versions, Delta-CDF
    style, computed WITHOUT any stored change column: only the
    version-asymmetric files (:func:`changed_file_sets`) are read and
    full-outer-joined on the merge key — files common to both
    snapshots are pruned before any data I/O, so cost scales with the
    CHURNED fraction of the table, not its size (the only viable CDC
    shape at 100 TB; a full two-snapshot diff would read the table
    twice).  Merge-on-read commits contribute through their DV
    DELTAS: files common to both snapshots whose deletion vector grew
    are read once for exactly the newly-dead rows.  Emits Delta's change shape: the data columns plus
    ``change_type`` ∈ {insert, delete, update_preimage,
    update_postimage}.  Rows rewritten with IDENTICAL values (file
    churn from compaction, or neighbors of a point update inside a
    rewritten file) are suppressed by a null-safe struct equality —
    physical rewrite is not logical change.  Assumes the merge
    contract's key-uniqueness per version.  ONE pass over the changed
    files: the classification explodes a per-row event array instead
    of re-reading the join once per change type."""
    s0 = snapshot(path, v_from)
    s1 = snapshot(path, v_to)
    if s1.version < s0.version:
        raise ValueError(
            f"table_changes: v_to {s1.version} precedes v_from "
            f"{s0.version} — a reversed range would silently emit the "
            f"INVERTED feed (inserts as deletes)")
    old_only, new_only = changed_file_sets(s0, s1)
    # schema AND colmap come from the same endpoint (the TO version
    # when it logs one): physical names are rename-stable, so the TO
    # colmap projects the right storage columns out of files from
    # EITHER side — a renamed column diffs as the same column, a
    # post-mapping added column NULL-fills on pre-mapping files.
    if s1.schema_json is not None:
        schema = StructType.fromJson(json.loads(s1.schema_json))
        cm = s1.colmap
    else:
        schema = StructType.fromJson(json.loads(s0.schema_json))
        cm = s0.colmap

    def side(names: list[str], snap: Snapshot) -> DataFrame:
        if not names:
            return local_frame(spark, [], schema)
        # read under the WIDER logged schema of the endpoint version,
        # never file inference: across a schema-evolving commit the
        # old side's files lack the new columns (they NULL-fill here),
        # and a side mixing pre/post-evolution files must not let
        # Spark infer from one file and silently misalign the
        # struct-equality change classification (ADVICE r9).  Each
        # side is masked by ITS OWN snapshot's deletion vectors — a
        # row already dead at the endpoint is not part of that state.
        return _read_files(spark, path, schema, names, snap.files, cm,
                           s1.partition_by or s0.partition_by)

    old_df = side(old_only, s0)
    new_df = side(new_only, s1)
    # DV deltas on files COMMON to both snapshots: a merge-on-read
    # commit deletes rows without changing file membership, so the
    # rows in (dv_to \ dv_from) are old-side rows — live at v_from,
    # dead at v_to.  Ordinary commits only GROW a file's DV, but
    # RESTORE can shrink it (rolling back a deletion): the rows in
    # (dv_from \ dv_to) are resurrected — new-side rows.
    dv_dead: dict[str, list] = {}
    dv_alive: dict[str, list] = {}
    for fname, st1 in s1.files.items():
        st0 = s0.files.get(fname)
        if st0 is None:
            continue
        d0, d1 = st0.get("dv") or [], st1.get("dv") or []
        if d1 == d0:
            continue
        dead = _ranges_subtract(d1, d0)
        if dead:
            dv_dead[fname] = dead
        alive = _ranges_subtract(d0, d1)
        if alive:
            dv_alive[fname] = alive

    def delta_rows(dvmap: dict[str, list]) -> DataFrame:
        raw = _scan(spark, path, schema, sorted(dvmap), cm,
                    s1.partition_by or s0.partition_by)
        base_dv = {os.path.basename(n): rg for n, rg in dvmap.items()}
        return _alias_logical(_apply_dv(spark, raw, base_dv,
                                        keep_dead=True), schema, cm)

    if dv_dead:
        old_df = old_df.unionByName(delta_rows(dv_dead))
    if dv_alive:
        new_df = new_df.unionByName(delta_rows(dv_alive))

    cols = [f.name for f in schema.fields]
    o = old_df.select(F.col(key).alias("_k"),
                      F.struct(*cols).alias("_o"))
    n = new_df.select(F.col(key).alias("_k"),
                      F.struct(*cols).alias("_n"))
    j = o.join(n, "_k", "full_outer")

    def rec(tag: str, image):
        return F.struct(F.lit(tag).alias("change_type"),
                        image.alias("r"))

    events = (
        F.when(F.col("_o").isNull(),
               F.array(rec("insert", F.col("_n"))))
         .when(F.col("_n").isNull(),
               F.array(rec("delete", F.col("_o"))))
         .when(~F.col("_o").eqNullSafe(F.col("_n")),
               F.array(rec("update_preimage", F.col("_o")),
                       rec("update_postimage", F.col("_n"))))
         # unchanged-but-rewritten: empty event array (same type)
         .otherwise(F.slice(F.array(rec("insert", F.col("_n"))), 1, 0)))
    return (j.select(F.explode(events).alias("e"))
             .select("e.r.*", "e.change_type"))


def restore(spark: SparkSession, path: str, *, version: int) -> Snapshot:
    """RESTORE TABLE ... TO VERSION AS OF (Delta's verb): commit a NEW
    version whose state — file set, deletion vectors, schema — equals
    the target version's.  Pure metadata: no data file is read or
    written; old files re-enter by log reference (vacuum keeps any
    file referenced by a retained commit, so files a rewrite dropped
    are still on disk unless history was truncated past them).  The
    rollback is itself a commit: history stays append-only and
    auditable (describe_history shows op='restore'), readers pinned on
    intermediate versions are untouched, and the change feed across
    the restore classifies resurrected rows as inserts (DV shrink) —
    table_changes handles the one case where a deletion vector ever
    shrinks.  Raises if a needed file was already vacuumed away."""
    def _state(files: dict) -> dict:
        # normalized comparison: a CLEARED vector ("dv": []) and an
        # absent one are the same logical state
        return {n: (s.get("rows"), s.get("kmin"), s.get("kmax"),
                    tuple(tuple(r) for r in (s.get("dv") or [])))
                for n, s in files.items()}

    for _ in range(METADATA_MAX_ATTEMPTS):
        cur = snapshot(path)
        tgt = snapshot(path, version)
        if (_state(tgt.files) == _state(cur.files)
                and tgt.schema_json == cur.schema_json
                and tgt.constraints == cur.constraints
                and tgt.colmap == cur.colmap):
            return cur                         # already that state
        missing = [n for n in tgt.files
                   if n not in cur.files
                   and not os.path.exists(os.path.join(path, n))]
        if missing:
            raise FileNotFoundError(
                f"restore to v{version}: {len(missing)} data file(s) "
                f"of that version were vacuumed (e.g. {missing[0]}) — "
                f"unrecoverable; raise keep_last/retention if restores "
                f"must reach this far back")
        adds = [{"file": n,
                 **{k: s[k] for k in ("rows", "kmin", "kmax",
                                      "cols", "pv") if k in s}}
                for n, s in sorted(tgt.files.items())
                if n not in cur.files]
        removes = sorted(n for n in cur.files if n not in tgt.files)
        dv_actions = []
        for n, s in sorted(tgt.files.items()):
            tgt_dv = s.get("dv") or []
            cur_dv = (cur.files.get(n) or {}).get("dv") or []
            if n in cur.files and tgt_dv == cur_dv:
                continue
            if tgt_dv or cur_dv:
                # the action carries the COMPLETE vector; an empty
                # ranges list CLEARS a current DV the target lacked
                dv_actions.append({"file": n, "ranges": tgt_dv,
                                   "n": _ranges_count(tgt_dv),
                                   "n_new": 0})
        payload: dict = {"op": "restore", "add": adds,
                         "remove": removes,
                         "restore_of": tgt.version,
                         "schema": tgt.schema_json,
                         "constraints": tgt.constraints,
                         "colmap": tgt.colmap,   # may be null: restore
                         "key": tgt.key}         # below activation
        if dv_actions:
            payload["dv"] = dv_actions
        if _try_commit(path, cur.version + 1, payload):
            return snapshot(path, cur.version + 1)
    raise CommitConflictError(
        f"restore lost {METADATA_MAX_ATTEMPTS} commit races at {path}")


def clone_table(path: str, dest: str) -> Snapshot:
    """Zero-copy table clone (the SHALLOW CLONE economics on POSIX):
    the destination gets a fresh single-commit log referencing
    HARDLINKED data files — no bytes move, immutability makes sharing
    safe (neither table ever mutates a data file in place; rewrites
    create new files), and the clone evolves independently from its
    own v0 (merge/delete/compact/vacuum on either side never disturb
    the other — vacuum deletes names, and a hardlinked inode survives
    until both names drop).  Deletion vectors and the logged schema
    carry over exactly.  On an object store, swap the hardlink for a
    path-reference add entry — same protocol shape as Delta's shallow
    clone.  Control-plane cost: one link(2) per live file."""
    snap = snapshot(path)
    os.makedirs(_log_dir(dest), exist_ok=False)
    adds, dv_actions = [], []
    for n, s in sorted(snap.files.items()):
        dst = os.path.join(dest, n)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.link(os.path.join(path, n), dst)
        adds.append({"file": n,
                     **{k: s[k] for k in ("rows", "kmin", "kmax",
                                          "cols", "pv") if k in s}})
        if s.get("dv"):
            dv_actions.append({"file": n, "ranges": s["dv"],
                               "n": _ranges_count(s["dv"]), "n_new": 0})
    payload: dict = {"op": "clone", "add": adds, "remove": [],
                     "schema": snap.schema_json,
                     "constraints": snap.constraints,
                     "colmap": snap.colmap, "key": snap.key,
                     "partition_by": snap.partition_by,
                     "clone_of": {"path": os.path.abspath(path),
                                  "version": snap.version}}
    if dv_actions:
        payload["dv"] = dv_actions
    if not _try_commit(dest, 0, payload):   # pragma: no cover
        raise CommitConflictError(f"clone target {dest} already exists")
    return snapshot(dest)


def truncate_history(path: str, *, keep_last: int = 10,
                     retention_seconds: float = VACUUM_RETENTION_SECONDS
                     ) -> dict:
    """Retention policy (the lifecycle verb vacuum alone lacks): keep
    only the newest ``keep_last`` versions.  A full checkpoint is
    written AT the cutoff version first (so every retained version
    still replays), then older commit/checkpoint files are dropped and
    :func:`vacuum` reclaims data files referenced only by the dropped
    history.  Time travel below the cutoff raises afterwards — the
    Delta VACUUM retention contract: a reader pinned on a dropped
    version loses it (callers pick ``keep_last`` ≥ their longest
    reader).  Concurrent WRITERS are safe: they only claim versions
    above the current latest, which truncation never touches."""
    versions = _list_versions(path)
    if len(versions) <= keep_last:
        return {"dropped_versions": 0, "removed_files": []}
    cut = versions[-keep_last]
    # r15: never drop a version YOUNGER than the retention window —
    # dropping frees its NUMBER for re-claim, and a writer stalled
    # since before that commit landed could resurrect it below the
    # cutoff checkpoint (the same contract vacuum applies to data
    # files: retention bounds every in-flight writer's stall).
    # Clamp the cut to the oldest version still inside the window.
    import time as _time
    now = _time.time()
    log_dir_ = _log_dir(path)
    for v in versions:
        if v >= cut:
            break
        try:
            age = now - os.path.getmtime(
                os.path.join(log_dir_, _commit_name(v)))
        except OSError:
            continue
        if age < retention_seconds:
            cut = v
            break
    if cut <= versions[0]:
        return {"dropped_versions": 0, "removed_files": []}
    # Checkpoint the state STRICTLY BELOW the cutoff (cut-1), not at
    # it (ADVICE r11): a checkpoint at cut contains the cut commit's
    # own post-state, so describe_history could never compare the
    # oldest retained commit against its true pre-commit state — a
    # schema evolution in that very commit vanished from the audit
    # trail.  cut-1 always exists and is contiguous (there is at
    # least one dropped version below cut); replay of any retained
    # version v ≥ cut loads this checkpoint and applies commits
    # cut..v, all of which are retained.
    pre = cut - 1
    _core.write_checkpoint(path, snapshot(path, pre))
    log = _log_dir(path)
    # Publish the truncation floor BEFORE deleting any commit file
    # (r15, post-review): _try_commit refuses claims below it with an
    # O(1) read, and RE-CHECKS it after winning a link — closing the
    # check-then-act window where a stalled writer passes the
    # pre-check, truncation lands, and the writer links a freed
    # number anyway.  Monotonic: the floor only ever rises.
    mark = os.path.join(log, _core.TRUNC_MARK)
    floor = max(cut, _core.truncated_floor(path))
    mtmp = os.path.join(log, f".trunc-{uuid.uuid4().hex}")
    with open(mtmp, "w") as f:
        f.write(str(floor))
        f.flush()
        os.fsync(f.fileno())
    os.replace(mtmp, mark)
    for v in _core.checkpoint_versions(path):
        if v < pre:
            os.remove(os.path.join(log, _ckpt_name(v)))
    dropped = [v for v in _list_versions(path) if v < cut]
    for v in dropped:
        os.remove(os.path.join(log, _commit_name(v)))
    return {"dropped_versions": len(dropped), "cut": cut,
            "removed_files": vacuum(
                path, retention_seconds=retention_seconds)}


def table_changes_range(spark: SparkSession, path: str, v_from: int,
                        v_to: int | None = None, *,
                        key: str) -> DataFrame:
    """Per-version CDC feed (Delta's ``readChangeFeed`` shape): one
    classified diff PER COMMIT in ``(v_from, v_to]``, each row tagged
    with the commit version that produced it.  Unlike
    :func:`table_changes` (an endpoint diff), INTERMEDIATE states are
    visible: a row deleted at v2 and re-inserted identically at v3
    appears as delete@2 + insert@3 here but is (correctly) suppressed
    by the endpoint diff — the distinction that matters to a consumer
    replaying effects in order.  Cost: each per-version diff reads
    only that commit's asymmetric file sets, so the whole feed is
    ∝ total churn across the range; the version loop is control-plane
    (bounded by retained versions) and builds ONE union plan."""
    s_to = snapshot(path, v_to)
    out = None
    skipped = 0
    for v in range(v_from + 1, s_to.version + 1):
        try:
            with open(os.path.join(_log_dir(path),
                                   _commit_name(v))) as f:
                c = json.load(f)
        except FileNotFoundError:
            # truncated below a checkpoint: let table_changes raise
            # its own (clearer) error for the missing version
            c = {}
        if c.get("data_change") is False:
            # compact/OPTIMIZE (or a synced foreign no-data commit):
            # the rows are DECLARED identical — skip the whole
            # version instead of scanning both sides to suppress
            # every rewritten-but-identical row (the dominant cost of
            # CDC over a freshly compacted 100 TB table)
            skipped += 1
            continue
        d = (table_changes(spark, path, v - 1, v, key=key)
             .withColumn("commit_version", F.lit(v).cast("long")))
        out = d if out is None else out.unionByName(d)
    if out is None:
        if skipped:
            # a non-empty range of ONLY no-data commits: an empty
            # frame in the change-feed shape (filter-false folds to
            # an empty LocalTableScan — no file is read)
            return (table_changes(spark, path, v_from,
                                  s_to.version, key=key)
                    .withColumn("commit_version",
                                F.lit(v_to).cast("long"))
                    .filter(F.lit(False)))
        raise ValueError(
            f"table_changes_range: empty range ({v_from}, "
            f"{s_to.version}]")
    return out


def describe_history(spark: SparkSession, path: str) -> DataFrame:
    """DESCRIBE HISTORY (the Delta audit verb): one row per retained
    commit — version, operation, files added/removed, rows added, the
    schema-evolution flag and the evolved column names — assembled
    from the commit JSONs alone (control-plane; no data file opens).
    The log IS the audit trail: every MERGE/DELETE/APPLY/compaction is
    attributable by version, which is what an operator inspects before
    trusting or time-traveling a table."""
    versions = _list_versions(path)
    if not versions:
        raise FileNotFoundError(f"no txnlog table at {path}")
    rows = []
    # Seed prev_cols from the newest checkpoint STRICTLY BELOW the
    # first retained version (the same replay source snapshot() uses)
    # — ADVICE r10: after truncate_history the pre-truncation schema
    # lives only in the cutoff checkpoint, and a None seed made the
    # first schema-bearing retained commit report schema_changed=False
    # and lose its new_columns.  Strictly-below (ADVICE r11): a
    # periodic checkpoint coinciding with the oldest retained commit
    # already CONTAINS that commit's schema, so seeding from it would
    # compare the commit against its own post-state and hide an
    # evolution in that very commit — the oldest retained commit must
    # be compared against pre-commit state.
    prev_cols: set[str] | None = None
    for cv in reversed(_core.checkpoint_versions(path)):
        if cv < versions[0]:
            with open(os.path.join(_log_dir(path), _ckpt_name(cv))) as f:
                ck = json.load(f)
            if ck.get("schema") is not None:
                prev_cols = {fl.name for fl in StructType.fromJson(
                    json.loads(ck["schema"])).fields}
            break
    for v in versions:
        with open(os.path.join(_log_dir(path), _commit_name(v))) as f:
            c = json.load(f)
        added = c.get("add", [])
        schema_changed = False
        new_cols: list[str] = []
        if c.get("schema") is not None:
            cols = {fl.name for fl in
                    StructType.fromJson(json.loads(c["schema"])).fields}
            if prev_cols is not None and cols != prev_cols:
                schema_changed = True
                new_cols = sorted(cols - prev_cols)
            prev_cols = cols
        txn = c.get("txn")
        dv = c.get("dv", [])
        rows.append((
            v, c.get("op", "unknown"), len(added),
            len(c.get("remove", [])),
            sum(a.get("rows", 0) for a in added),
            schema_changed, new_cols,
            txn["app"] if txn else None,
            txn["version"] if txn else None,
            len(dv), sum(d.get("n_new", 0) for d in dv)))
    return local_frame(
        spark, rows,
        "version long, op string, n_added int, n_removed int, "
        "rows_added long, schema_changed boolean, "
        "new_columns array<string>, txn_app string, txn_version long, "
        "n_dv_files int, rows_dv_deleted long")


def vacuum(path: str, *,
           retention_seconds: float = VACUUM_RETENTION_SECONDS
           ) -> list[str]:
    """Delete ORPHAN data files — present in the directory but
    referenced by no RETAINED commit or checkpoint (crashed writers'
    staged output; after :func:`truncate_history`, files only the
    dropped history referenced).  Files referenced by any retained
    version are kept (time travel above the retention cutoff
    intact).  Candidates younger than ``retention_seconds`` (mtime)
    are NOT reclaimed: they may be a live writer's staged output
    whose commit hasn't landed yet — see VACUUM_RETENTION_SECONDS."""
    import time as _time

    referenced: set[str] = set()
    for v in _core.checkpoint_versions(path):
        with open(os.path.join(_log_dir(path), _ckpt_name(v))) as f:
            referenced |= set(json.load(f).get("files", {}))
    for v in _list_versions(path):
        c = _core.read_commit(path, v)
        referenced |= {a["file"] for a in c.get("add", [])}
        referenced |= set(c.get("remove", []))
    now = _time.time()

    def aged(p: str) -> bool:
        try:
            return (now - os.path.getmtime(p)) >= retention_seconds
        except OSError:
            return False        # vanished mid-scan: nothing to reclaim

    def aged_tree(p: str) -> bool:
        """A staging DIR ages by the NEWEST mtime anywhere inside it
        (r15): a live Spark write touches files deep under
        _temporary/ without refreshing the top dir's mtime, so
        top-mtime aging could reclaim an in-flight writer's stage the
        moment it outlives the retention — a crashed writer's tree
        stops changing and still reclaims one retention later."""
        newest = 0.0
        try:
            for r, _ds, ns in os.walk(p):
                newest = max(newest, os.path.getmtime(r))
                for n in ns:
                    newest = max(newest,
                                 os.path.getmtime(os.path.join(r, n)))
        except OSError:
            return False
        return (now - newest) >= retention_seconds

    removed = []
    for root, dirs, names in os.walk(path):
        rel = os.path.relpath(root, path)
        if rel == ".":
            # the commit log is never a data dir; staged dirs are
            # reclaimed whole (their contents are pre-commit)
            dirs[:] = [d for d in dirs if d != _LOG
                       and not d.startswith("_stage-")]
            for d in os.listdir(path):
                full = os.path.join(path, d)
                if d.startswith("_stage-") and aged_tree(full):
                    shutil.rmtree(full, ignore_errors=True)
                    removed.append(d)
            rel = ""
        for n in names:
            full = os.path.join(root, n)
            key = f"{rel}/{n}" if rel else n
            if (n.endswith(".parquet") and key not in referenced
                    and os.path.isfile(full) and aged(full)):
                os.remove(full)
                removed.append(key)
    # reclaim partition dirs a partition drop + vacuum emptied
    for root, dirs, names in os.walk(path, topdown=False):
        if root != path and not dirs and not names \
                and "=" in os.path.basename(root):
            with contextlib.suppress(OSError):
                os.rmdir(root)
    return sorted(removed)
