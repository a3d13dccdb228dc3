"""The txnlog on-disk format, defined once.

Every reader and writer of a txnlog table goes through this module:
``txnlog`` (the Python verbs) and the Spark DataSources ``txnbatch``
(``format("txnlog")``), ``txnstream`` (``txnlog_stream``) and
``cdcstream`` (``txnlog_cdc``).  It holds the layout and version
listing, the checkpoint-bounded replay, the deletion-vector range
algebra, footer statistics, partition values, timestamp-to-version
resolution, the version-claim commit and DataSource registration.

Import rule: this module imports the standard library, numpy, pyarrow
and pyspark — never this package.  Spark plans and commits Python data
sources in worker processes (the streaming-source runner, the batch
planner and committer) that unpickle the DataSource without the
package on their path.  So the DataSource modules import nothing from
the package except this module, and both they and this module are
pickled BY VALUE (:func:`ship_by_value`): their classes and functions
travel as definitions.  tests/test_logcore.py enforces the rule.

Layout::

    <table>/
      p-<version>-<seq>-<uuid>.parquet          immutable data files
      _txnlog/00000000000000000042.json         commit v42 (atomic)
      _txnlog/00000000000000000040.ckpt.json    checkpoint <= v42
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import threading
import uuid
import weakref

from pyspark.sql.datasource import InputPartition

LOG = "_txnlog"
W = 20                        # zero-padded version width in filenames
CHECKPOINT_EVERY = 10
#: longest string min/max recorded in per-column stats; longer values
#: drop the COLUMN's entry for that file (omission = unprunable =
#: correct) rather than truncating, because a truncated max
#: underestimates the interval and would prune files that match
STATS_STR_MAX = 64
HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"
#: truncation floor marker: the first RETAINED version after the most
#: recent truncate_history, published atomically BEFORE any commit
#: file is deleted.  Claims below the floor are refused O(1), and the
#: floor is re-checked after a won claim — the two reads bracket the
#: whole claim, so a truncation landing anywhere inside it cannot
#: leave a resurrected version behind.
TRUNC_MARK = "_truncated_below"

# the ONE filename rule: anything else in the log dir (temp files,
# claim side files, the truncation marker) is not a version
_COMMIT_RE = re.compile(rf"\d{{{W}}}\.json")
_CKPT_RE = re.compile(rf"\d{{{W}}}\.ckpt\.json")


def log_dir(table: str) -> str:
    return os.path.join(table, LOG)


def commit_name(version: int) -> str:
    return f"{version:0{W}d}.json"


def ckpt_name(version: int) -> str:
    return f"{version:0{W}d}.ckpt.json"


def list_versions(table: str) -> list[int]:
    try:
        names = os.listdir(log_dir(table))
    except FileNotFoundError:
        return []
    return sorted(int(n[:W]) for n in names if _COMMIT_RE.fullmatch(n))


def checkpoint_versions(table: str) -> list[int]:
    try:
        names = os.listdir(log_dir(table))
    except FileNotFoundError:
        return []
    return sorted(int(n[:W]) for n in names if _CKPT_RE.fullmatch(n))


def read_commit(table: str, version: int) -> dict:
    with open(os.path.join(log_dir(table), commit_name(version))) as f:
        return json.load(f)


class Snapshot:
    """Immutable view of the table at one committed version:
    ``files`` maps data-file name → its stats dict ({rows, kmin, kmax});
    ``txns`` maps application id → the highest writer-supplied version
    committed for it (Delta's ``txn`` action — the mechanism that makes
    streaming writes idempotent: content and application version commit
    in ONE atomic log entry, so there is no crash window between
    "view updated" and "batch marked applied")."""

    def __init__(self, version: int, files: dict[str, dict],
                 schema_json: str | None, txns: dict[str, int],
                 constraints: dict[str, str] | None = None,
                 colmap: dict[str, str] | None = None,
                 key: str | None = None,
                 partition_by: list[str] | None = None):
        self.version = version
        self.files = files
        self.schema_json = schema_json
        self.txns = txns
        #: hive-style partition columns fixed at create_table (r14,
        #: Delta's partitionValues / the reference's declarative
        #: partitioning on the visit/fact tables): data files live in
        #: ``col=value`` directories, each add action records the
        #: file's partition values, and partition pruning runs BEFORE
        #: footer-stats pruning (an exact [v, v] interval per file).
        #: None/[] = unpartitioned.
        self.partition_by = partition_by or None
        #: CHECK constraints (name → SQL boolean expr) enforced on
        #: every write verb — Delta's table constraints (r11)
        self.constraints = constraints or {}
        #: column mapping (r13, Delta's columnMapping mode "name"):
        #: COMPLETE logical → physical name map once a rename/drop has
        #: activated it, else None (identity — pre-mapping tables pay
        #: zero translation).  Data files always store PHYSICAL names;
        #: the logged schema is logical.  Physical names never change
        #: after assignment (renames are logical-only), and columns
        #: added post-activation get FRESH uuid physical names so a
        #: re-added logical name can never resurrect a dropped
        #: column's data.
        self.colmap = colmap
        #: the logged merge key (logical name; renames update it)
        self.key = key


def replay(table: str, version: int | None = None) -> Snapshot:
    """Replay the commit log from the newest checkpoint at or below
    ``version`` (default: latest).  Pure metadata reads — no data file
    is opened."""
    versions = list_versions(table)
    if not versions:
        raise FileNotFoundError(f"no txnlog table at {table}")
    target = versions[-1] if version is None else int(version)
    if target not in versions:
        raise ValueError(f"versionAsOf {target} not in log (have "
                         f"{versions[0]}..{versions[-1]})")
    files: dict[str, dict] = {}
    schema_json: str | None = None
    txns: dict[str, int] = {}
    constraints: dict[str, str] = {}
    colmap: dict[str, str] | None = None
    key: str | None = None
    partition_by: list[str] | None = None
    start = 0
    # newest checkpoint at or below the target bounds the replay
    for v in reversed(checkpoint_versions(table)):
        if v <= target:
            with open(os.path.join(log_dir(table), ckpt_name(v))) as f:
                ck = json.load(f)
            files = dict(ck["files"])
            schema_json = ck.get("schema")
            txns = dict(ck.get("txns", {}))
            constraints = dict(ck.get("constraints", {}))
            colmap = ck.get("colmap")
            key = ck.get("key")
            partition_by = ck.get("partition_by")
            start = v + 1
            if "key" not in ck or "colmap" not in ck:
                # checkpoint written before the r13 column-mapping
                # fields existed (ADVICE r13): replaying from it would
                # reset key/colmap to None on an existing table and
                # silently disable drop_column's merge-key guard.
                # Recover them from the retained commits BELOW the
                # checkpoint (the create commit logs the key; any
                # rename/drop logs key/colmap) instead of defaulting.
                for pv in versions:
                    if pv >= start:
                        break
                    pc = read_commit(table, pv)
                    if "key" not in ck and "key" in pc:
                        key = pc["key"]
                    if "colmap" not in ck and "colmap" in pc:
                        colmap = pc["colmap"]
            break
    for v in versions:
        if v < start or v > target:
            continue
        c = read_commit(table, v)
        for name in c.get("remove", []):
            files.pop(name, None)
        for a in c.get("add", []):
            files[a["file"]] = {k: a[k] for k in
                                ("rows", "kmin", "kmax", "cols", "pv")
                                if k in a}
        for d in c.get("dv", []):
            # the action carries the file's COMPLETE (cumulative) DV —
            # it supersedes, never appends to, any earlier vector
            files[d["file"]]["dv"] = d["ranges"]
        schema_json = c.get("schema", schema_json)
        if "constraints" in c:
            constraints = dict(c["constraints"])   # full map, latest wins
        if "colmap" in c:
            colmap = c["colmap"]                   # full map (or null)
        if "key" in c:
            key = c["key"]
        if "partition_by" in c:
            partition_by = c["partition_by"]       # create-only, fixed
        t = c.get("txn")
        if t:
            txns[t["app"]] = max(t["version"],
                                 txns.get(t["app"], t["version"]))
    return Snapshot(target, files, schema_json, txns, constraints,
                    colmap, key, partition_by)


def write_checkpoint(table: str, snap: Snapshot) -> None:
    """Publish ``snap`` as the checkpoint at its version (fsynced temp
    file + atomic rename: readers see the whole checkpoint or none)."""
    tmp = os.path.join(log_dir(table), f".ckpt-{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        json.dump({"version": snap.version, "files": snap.files,
                   "schema": snap.schema_json, "txns": snap.txns,
                   "constraints": snap.constraints,
                   "colmap": snap.colmap, "key": snap.key,
                   "partition_by": snap.partition_by}, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(log_dir(table), ckpt_name(snap.version)))


def nullable_schema_json(schema_json: str) -> str:
    """The logged schema with every field forced NULLABLE: a
    schema-evolving append logs the new column with the frame's own
    nullability, but pre-evolution files NULL-fill it on read — the
    read schema must admit those nulls (an Arrow batch with nulls in a
    declared-non-nullable column crashes the vectorized reader)."""
    d = json.loads(schema_json)
    for f in d.get("fields", []):
        f["nullable"] = True
    return json.dumps(d)


def arrow_schema(schema_json: str):
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType
    return to_arrow_schema(StructType.fromJson(json.loads(schema_json)))


# ---------------------------------------------------------- the commit

def posix_link_claim(tmp: str, target: str) -> bool:
    """link(2) fails with EEXIST if another writer won AND publishes
    complete content or nothing — a crash can never leave a truncated
    commit file for replay() to choke on (O_CREAT|O_EXCL alone would
    claim the version before its bytes exist)."""
    try:
        os.link(tmp, target)
        return True
    except FileExistsError:
        return False


def truncated_floor(table: str) -> int:
    try:
        with open(os.path.join(log_dir(table), TRUNC_MARK)) as f:
            return int(f.read().strip() or 0)
    except (FileNotFoundError, ValueError):
        return 0


def commit(table: str, version: int, payload: dict, claim) -> bool:
    """Atomically claim ``version`` through ``claim(tmp, target)`` (see
    txnlog.set_claim_backend for the contract).  Returns False,
    side-effect free, when the version was already taken — or (r15)
    when the number sits at or below the newest CHECKPOINT:
    truncate_history deletes dropped commit FILES, which would
    otherwise make their version numbers claimable again, and a writer
    stalled long enough to still hold such a target would RESURRECT a
    version below the cutoff with state derived against ancient
    history.  Refusing the claim sends the writer back through its
    ordinary re-derive loop.

    The guard is gated on the O(1) truncation-floor marker: numbers
    are only ever freed by truncate_history, which publishes the
    floor before deleting anything, so never-truncated tables skip the
    checkpoint listing on this hottest write path.  The floor is
    RE-CHECKED after a won claim: a truncation landing between the
    pre-check and the claim cannot leave the resurrected version
    behind — the writer deletes its own just-published commit and
    reports the claim lost.  Every CHECKPOINT_EVERY-th won version
    writes a checkpoint carrying every file's full stats."""
    floor = truncated_floor(table)
    if floor and (version < floor or version <= max(
            checkpoint_versions(table), default=-1)):
        return False
    payload = {"version": version, **payload}
    target = os.path.join(log_dir(table), commit_name(version))
    tmp = os.path.join(log_dir(table), f".commit-{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        json.dump(payload, f)
        f.flush()
        os.fsync(f.fileno())
    try:
        won = claim(tmp, target)
    finally:
        with contextlib.suppress(OSError):
            os.remove(tmp)
    if not won:
        return False
    if version < truncated_floor(table):
        # truncation raced the claim: self-revert before anything can
        # replay the resurrected version
        with contextlib.suppress(OSError):
            os.remove(target)
        return False
    if version % CHECKPOINT_EVERY == 0 and version > 0:
        write_checkpoint(table, replay(table, version))
    return True


def resolve_timestamp(table: str, ts) -> int:
    """``timestampAsOf`` resolution (r12, Delta's rule): the LATEST
    version whose commit landed at or before ``ts`` (epoch seconds, or
    an ISO 'YYYY-MM-DD[ HH:MM:SS]' string), judged by the commit
    FILE's modification time — the same authority Delta uses (no clock
    is recorded in the payload; the log file IS the commit event).
    Non-monotonic mtimes (clock skew between racing writers, file
    copies) are adjusted upward like Delta's monotonization: each
    version's effective time is the running max, so version order
    always wins over clock order.  Raises if ``ts`` predates the first
    retained commit (after truncate_history the honest answer is
    "unknown", not version 0)."""
    import datetime
    try:
        ts = float(ts)
    except ValueError:
        ts = datetime.datetime.fromisoformat(str(ts)).timestamp()
    versions = list_versions(table)
    if not versions:
        raise FileNotFoundError(f"no txnlog table at {table}")
    eff = []
    run = float("-inf")
    for v in versions:
        m = os.stat(os.path.join(log_dir(table), commit_name(v))).st_mtime
        run = max(run, m)
        eff.append((v, run))
    if ts < eff[0][1]:
        raise ValueError(
            f"timestampAsOf {ts} predates the first retained commit "
            f"(version {eff[0][0]} at {eff[0][1]}); earlier history "
            f"is truncated or never existed")
    return max(v for v, m in eff if m <= ts)


# ----------------------------------------------------------- DV ranges
# A deletion vector is a sorted list of inclusive [start, end] row-index
# ranges within ONE data file — run-length encoded so a contiguous
# erasure of 10k rows is one entry, and small enough to live inline in
# the commit JSON (the log stays the single source of truth; Delta
# keeps bitmaps in side files for the same structure).

def ranges_from_indexes(idx: list[int]) -> list[list[int]]:
    """Sorted distinct row indexes → inclusive [start, end] runs."""
    out: list[list[int]] = []
    for i in idx:
        if out and i == out[-1][1] + 1:
            out[-1][1] = i
        elif out and i <= out[-1][1]:
            continue                      # duplicate index
        else:
            out.append([i, i])
    return out


def ranges_union(a: list, b: list) -> list[list[int]]:
    """Union of two inclusive range lists, normalized."""
    runs = sorted([list(r) for r in a] + [list(r) for r in b])
    out: list[list[int]] = []
    for s, e in runs:
        if out and s <= out[-1][1] + 1:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return out


def ranges_subtract(a: list, b: list) -> list[list[int]]:
    """Ranges in ``a`` not covered by ``b`` (the CDC dv-delta: rows
    dead at v_to that were still live at v_from)."""
    out: list[list[int]] = []
    bs = [list(r) for r in sorted(b)]
    for s, e in sorted(a):
        cur = s
        for t, u in bs:
            if u < cur or t > e:
                continue
            if t > cur:
                out.append([cur, t - 1])
            cur = max(cur, u + 1)
            if cur > e:
                break
        if cur <= e:
            out.append([cur, e])
    return out


def ranges_count(ranges: list) -> int:
    return sum(e - s + 1 for s, e in ranges)


# ------------------------------------------------------- footer stats

def stats_encode(v):
    """JSON-encode one footer min/max value; None = not encodable
    (drop the column's stats for this file)."""
    import datetime
    if isinstance(v, bool) or v is None:
        return None                 # boolean intervals never prune
    if isinstance(v, (int, float)):
        return v
    if isinstance(v, str):
        return v if len(v) <= STATS_STR_MAX else None
    if isinstance(v, datetime.datetime):
        return {"t": "ts", "v": v.isoformat()}
    if isinstance(v, datetime.date):
        return {"t": "d", "v": v.isoformat()}
    return None


def stats_decode(v):
    import datetime
    if isinstance(v, dict):
        if v.get("t") == "ts":
            return datetime.datetime.fromisoformat(v["v"])
        if v.get("t") == "d":
            return datetime.date.fromisoformat(v["v"])
    return v


def file_stats(fpath: str, key: str | None) -> dict:
    """rows + merge-key min/max + PER-COLUMN [min, max] intervals from
    the parquet FOOTER (no data scan; catalog.table_row_count's
    discipline).  Missing statistics fall back to an unbounded
    interval — correct, just unprunable.

    The ``cols`` map (VERDICT r11 item 4) is what lets the READ path
    skip files on any predicate column, not just the merge key: at
    100 TB a table has tens of thousands of files and a selective
    non-key filter should open only the interval-hit ones — Delta
    records the same per-column min/max in its add actions."""
    import pyarrow.parquet as pq
    md = pq.ParquetFile(fpath).metadata
    # Accumulate by the LEAF path, not the arrow field index: row-group
    # column chunks enumerate parquet LEAVES, so any nested column
    # (struct/list) shifts positional indexing and attributes another
    # column's interval — which would prune files that DO match.  Only
    # top-level primitives (path == field name, no dot) get stats;
    # nested leaves ("s.x", "emb.list.element") are skipped — their
    # parent column is simply unprunable, which is always correct.
    acc: dict[str, list] = {}
    dead: set[str] = set()
    for rg in range(md.num_row_groups):
        grp = md.row_group(rg)
        for ci in range(grp.num_columns):
            col = grp.column(ci)
            name = col.path_in_schema
            if "." in name or name in dead:
                continue
            st = col.statistics
            try:
                ok = st is not None and st.has_min_max
                lo_hi = (st.min, st.max) if ok else None
            except Exception:
                # pyarrow raises ArrowNotImplementedError extracting
                # min/max for some physical types (e.g. INT96) —
                # unprunable, never fatal
                lo_hi = None
            if lo_hi is None:
                dead.add(name)
                acc.pop(name, None)
                continue
            cur = acc.get(name)
            if cur is None:
                acc[name] = list(lo_hi)
            else:
                cur[0] = min(cur[0], lo_hi[0])
                cur[1] = max(cur[1], lo_hi[1])
    per: dict[str, list] = {}
    for name, (cmin, cmax) in acc.items():
        lo, hi = stats_encode(cmin), stats_encode(cmax)
        if lo is not None and hi is not None:
            per[name] = [lo, hi]
    kiv = per.get(key) if key else None
    return {"rows": md.num_rows,
            "kmin": kiv[0] if kiv else None,
            "kmax": kiv[1] if kiv else None,
            "cols": per}


def interval_hit(stats: dict, col: str, op: str, val) -> bool:
    """Can a file with these per-column stats contain a row satisfying
    ``col <op> val``?  True (keep the file) whenever the answer is
    not provably no — missing stats, un-stats'd column, or a type
    mismatch all keep the file (skipping is an optimization, never a
    correctness lever)."""
    iv = (stats.get("cols") or {}).get(col)
    if iv is None:
        return True
    lo, hi = stats_decode(iv[0]), stats_decode(iv[1])
    try:
        if op == "=":
            return lo <= val <= hi
        if op == "<":
            return lo < val
        if op == "<=":
            return lo <= val
        if op == ">":
            return hi > val
        if op == ">=":
            return hi >= val
        if op == "in":
            # an IN list can match iff ANY member falls in [lo, hi]
            return any(lo <= v <= hi for v in val)
    except TypeError:
        return True                 # incomparable literal: no pruning
    return True                     # unknown op: no pruning


# ---------------------------------------------------- partition values
# Hive-style partitioning (r14, Delta's partitionValues): every add
# action records its file's partition values as the raw directory
# fragments (percent-escaped; HIVE_NULL for null).

def pv_frag(v) -> str:
    """One partition value → its raw hive dir fragment.  Escaping
    EVERY special character makes any string round-trip."""
    from urllib.parse import quote
    if v is None:
        return HIVE_NULL
    if isinstance(v, bool):
        return "true" if v else "false"
    return quote(str(v), safe="")


def pv_decode(raw: str, dtype):
    """Decode one raw partition-directory fragment (as Spark's
    partitioned write escaped it) to the Python value of the logged
    column type.  ``HIVE_NULL`` → None."""
    import datetime
    import decimal
    from urllib.parse import unquote

    from pyspark.sql.types import (BooleanType, ByteType, DateType,
                                   DecimalType, DoubleType, FloatType,
                                   IntegerType, LongType, ShortType,
                                   TimestampNTZType, TimestampType)
    if raw == HIVE_NULL:
        return None
    s = unquote(raw)
    if isinstance(dtype, (ByteType, ShortType, IntegerType, LongType)):
        return int(s)
    if isinstance(dtype, (FloatType, DoubleType)):
        return float(s)
    if isinstance(dtype, BooleanType):
        return s == "true"
    if isinstance(dtype, DateType):
        return datetime.date.fromisoformat(s)
    if isinstance(dtype, (TimestampType, TimestampNTZType)):
        return datetime.datetime.fromisoformat(s.replace(" ", "T"))
    if isinstance(dtype, DecimalType):
        return decimal.Decimal(s)
    return s


def pv_constant(raw: str | None, n: int, arrow_type):
    """One partition column as a constant Arrow column: the raw
    fragment unescapes and casts through Arrow's string parser (the
    value space pv_decode covers); the null marker yields nulls."""
    import pyarrow as pa
    from urllib.parse import unquote
    if raw is None or raw == HIVE_NULL:
        return pa.nulls(n, arrow_type)
    return pa.array([unquote(raw)] * n).cast(arrow_type)


# ---------------------------------------------- executor-side file read

class FilePartition(InputPartition):
    """One data file of a DataSource scan: its path, raw partition
    values, deletion vector and (for streams) the commit version that
    added it."""

    def __init__(self, path: str, pv: dict | None = None,
                 dv: list | None = None, version: int | None = None):
        self.path = path
        self.pv = pv
        self.dv = dv
        self.version = version


def read_file(path: str, target, colmap: dict | None,
              pv: dict | None = None, dead: list | None = None,
              live: list | None = None):
    """One data file as an Arrow table aligned to the logical
    ``target`` Arrow schema: physical names translate through
    ``colmap``, partition columns come from their ``pv`` fragments, and
    columns the file predates are NULL.  Rows in the ``dead`` ranges
    are dropped; with ``live``, only rows in those ranges are kept."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    t = pq.read_table(path)
    cm, pv = colmap or {}, pv or {}
    cols = []
    for field in target:
        phys = cm.get(field.name, field.name)
        if phys in t.column_names:
            cols.append(t.column(phys).cast(field.type))
        elif phys in pv:
            cols.append(pv_constant(pv[phys], t.num_rows, field.type))
        else:
            cols.append(pa.nulls(t.num_rows, field.type))
    t = pa.table(dict(zip(target.names, cols)), schema=target)
    if live is None and not dead:
        return t
    keep = live is not None         # True: keep only the ranges
    mask = np.full(t.num_rows, not keep)
    for s, e in (live if keep else dead):
        mask[s:e + 1] = keep
    return t.filter(pa.array(mask))


# ----------------------------------------------------- registration

_REGISTER_LOCK = threading.Lock()
_REGISTERED: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def register(spark, cls) -> None:
    """Register DataSource ``cls`` on ``spark`` once per session, under
    a lock: DataSourceManager.register REPLACES an existing entry, so
    re-registering from a pooled worker thread opens a lookup-miss
    window (DATA_SOURCE_NOT_FOUND) for queries mid-plan on other
    threads."""
    with _REGISTER_LOCK:
        names = _REGISTERED.setdefault(spark, set())
        if cls.name() not in names:
            spark.dataSource.register(cls)
            names.add(cls.name())


def ship_by_value(module_name: str) -> None:
    """Make a module's classes and functions cloudpickle BY VALUE, so
    they reach worker processes that cannot import this package."""
    import sys

    from pyspark import cloudpickle
    cloudpickle.register_pickle_by_value(sys.modules[module_name])


ship_by_value(__name__)
