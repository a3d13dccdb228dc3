"""The read side of the Delta Lake transaction log (public protocol
spec: delta-io/delta PROTOCOL.md), and a streaming SOURCE over a
FOREIGN Delta table built on it.

One copy of the log reader serves the importer, its incremental sync
(sources/delta_import) and the stream below:

- :func:`commit_versions` lists the JSON commits — the exact
  ``<20 digits>.json`` shape; V2-checkpoint and compacted-log names
  also end in ``.json`` and are skipped;
- :func:`read_commit` parses one commit's actions and names the
  version when its file is missing;
- :func:`check_protocol` is the reader gate PROTOCOL.md requires:
  refuse minReaderVersion > 3 and reader features beyond
  {deletionVectors, columnMapping, typeWidening};
- :func:`replay_delta_log` rebuilds one version's state — seeded from
  ``N.checkpoint.parquet`` via ``_last_checkpoint`` when present, so
  log-cleaned histories work, then the contiguous JSON commits after
  it — reconciling file actions by the spec's (path, deletion-vector
  uniqueId) key, and returns the version it replayed to.

The stream: ``spark.readStream.format("delta_stream").option("path",
<delta table>)`` tails an externally-written Delta log directly — no
import step — with version-based offsets, exactly like Delta's own
streaming source.  Each micro-batch reads exactly the data files the
foreign commits in ``(start, end]`` added; every row carries
``_commit_version``.  Semantics mirror the txnlog commit-log source
(sources/txnstream.py):

- APPEND-ONLY tail.  A foreign commit whose file actions all carry
  ``dataChange: false`` (OPTIMIZE) is SKIPPED silently — Delta's own
  stream rule.  A data-changing commit with removes or
  deletion-vector adds raises unless ``option("skipChangeCommits",
  "true")``, which skips the whole commit (Delta's documented
  under-deliver trade-off).
- ``option("startingVersion", n)`` begins the tail at commit n
  (default 0).  Checkpoint-only histories (older JSON vacuumed away)
  need it pointed at the first retained JSON commit — the source
  names the option in its error instead of replaying a hole.
- Honest refusals, never a wrong decode: the protocol gate (at start
  and on every mid-stream protocol action), columnMapping mode !=
  none (physical file names diverge from the logical schema) and
  absent commit files raise with the failing version.

Scale shape: ``partitions()`` is control-plane (commit JSON lines
only); each added file is one InputPartition read executor-side by
``logcore.read_file`` — per-trigger work ∝ the new commits' files,
never the table.  Partition columns materialize as constants from the
add's ``partitionValues`` (Delta stores them in the log, not the
files), mapped to fragments by ``logcore.pv_frag`` exactly as the
importer maps them.

Import rule: like txnstream, this module imports nothing from the
package except sources/logcore.py; both travel to the
streaming-source runner pickled by value (see logcore).  That is why
the log reader lives here and delta_import imports it, not the other
way round.

Reference analogue: the broker POLLS its exchange partner for new
submissions (src/build.sh:255) — here the partner is a Delta-writing
engine we don't control.
"""

from __future__ import annotations

import json
import os
import re
from itertools import chain
from urllib.parse import unquote

from pyspark.sql.datasource import DataSource, DataSourceStreamReader
from pyspark.sql.types import LongType, StructField, StructType

from .logcore import (FilePartition, pv_frag, read_file,
                      register as _register, ship_by_value)

_DLOG = "_delta_log"

#: exact commit-file shape — V2 checkpoints
#: (<v>.checkpoint.<uuid>.json) and compacted logs
#: (<s>.<e>.compact.json) also end in .json with digit prefixes and
#: must NOT parse as commit versions
_COMMIT_RE = re.compile(r"\d{20}\.json")

_ALLOWED_READER_FEATURES = {"deletionVectors", "columnMapping",
                            "typeWidening"}


# -------------------------------------------------------- log reading

def commit_versions(src: str) -> list[int]:
    """Every JSON commit version under ``src``'s _delta_log, sorted."""
    try:
        names = os.listdir(os.path.join(src, _DLOG))
    except FileNotFoundError:
        raise FileNotFoundError(f"no _delta_log under {src}") from None
    return sorted(int(n[:20]) for n in names if _COMMIT_RE.fullmatch(n))


def read_commit(src: str, version: int) -> list[dict]:
    """One JSON commit's actions, in file order."""
    try:
        with open(os.path.join(src, _DLOG, f"{version:020d}.json")) as f:
            return [json.loads(ln) for ln in f if ln.strip()]
    except FileNotFoundError:
        raise FileNotFoundError(
            f"Delta commit {version} missing under {src}") from None


def check_protocol(p: dict) -> None:
    """PROTOCOL.md requires readers to FAIL on unsupported reader
    versions and features."""
    if p.get("minReaderVersion", 1) > 3:
        raise NotImplementedError(
            f"Delta minReaderVersion {p['minReaderVersion']}")
    unknown = set(p.get("readerFeatures") or ()) \
        - _ALLOWED_READER_FEATURES
    if unknown:
        raise NotImplementedError(
            f"Delta reader features {sorted(unknown)}")


def _dv_uid(dv: dict | None) -> str | None:
    """PROTOCOL.md uniqueId — file actions reconcile on (path, this)."""
    if not dv or not dv.get("storageType"):
        return None
    uid = dv["storageType"] + dv["pathOrInlineDv"]
    if dv.get("offset"):
        uid += f"@{dv['offset']}"
    return uid


def _norm_map(m) -> dict:
    """A map field as a dict — checkpoint parquet yields key/value
    pair lists."""
    if m is None:
        return {}
    return m if isinstance(m, dict) else dict(m)


def _checkpoint_actions(src: str, version: int) -> list[dict]:
    """``N.checkpoint.parquet`` as JSON-shaped actions: one per row,
    null fields dropped (a checkpoint row holds one non-null action
    column)."""
    import pyarrow.parquet as pq
    rows = pq.read_table(os.path.join(
        src, _DLOG, f"{version:020d}.checkpoint.parquet")).to_pylist()
    return [{kind: {k: v for k, v in body.items() if v is not None}}
            for row in rows for kind, body in row.items()
            if isinstance(body, dict)]


def replay_delta_log(src: str, version: int | None = None
                     ) -> tuple[int, dict, dict, dict]:
    """Replay ``src``'s _delta_log → (the version replayed to, live
    adds by (path, dvId), metaData, txns).  Seeds from the newest
    checkpoint when it is at or below ``version`` — a foreign table
    whose older JSON commits were vacuumed away replays only from the
    checkpoint, exactly like Delta's own readers."""
    seed: list[dict] = []
    start = 0
    lc = os.path.join(src, _DLOG, "_last_checkpoint")
    if os.path.exists(lc):
        with open(lc) as f:
            cv = json.load(f)["version"]
        if version is None or cv <= version:
            seed = _checkpoint_actions(src, cv)
            start = cv + 1
    got = [v for v in commit_versions(src)
           if v >= start and (version is None or v <= version)]
    target = version if version is not None \
        else (got[-1] if got else start - 1)
    required = list(range(start, target + 1))
    if got != required:
        # version above the latest commit, below a checkpoint whose
        # older commits were log-cleaned, or a hole in the run —
        # replaying a non-contiguous prefix silently drops actions
        missing = sorted(set(required) - set(got))[:5]
        raise ValueError(
            f"delta log at {os.path.join(src, _DLOG)} cannot replay "
            f"version {target}: missing commit(s) {missing} "
            f"(checkpoint seed at {start - 1}, "
            f"available {got[:3]}..{got[-3:] if got else []})")
    live: dict = {}
    meta = protocol = None
    txns: dict[str, int] = {}
    for action in chain(seed, chain.from_iterable(
            read_commit(src, v) for v in got)):
        if "add" in action:
            a = action["add"]
            a["partitionValues"] = _norm_map(a.get("partitionValues"))
            uid = _dv_uid(a.get("deletionVector"))
            if uid is None:
                a.pop("deletionVector", None)
            live[(a["path"], uid)] = a
        elif "remove" in action:
            r = action["remove"]
            live.pop((r["path"], _dv_uid(r.get("deletionVector"))),
                     None)
        elif "metaData" in action:
            meta = action["metaData"]
            meta["configuration"] = _norm_map(meta.get("configuration"))
        elif "protocol" in action:
            protocol = action["protocol"]
        elif "txn" in action:
            t = action["txn"]
            txns[t["appId"]] = max(t["version"],
                                   txns.get(t["appId"], t["version"]))
    if meta is None or protocol is None:
        raise ValueError(f"no metaData/protocol action found under "
                         f"{os.path.join(src, _DLOG)}")
    check_protocol(protocol)
    return target, live, meta, txns


# ------------------------------------------------------------- stream

def _check_mapping(meta: dict) -> None:
    mode = ((meta.get("configuration") or {})
            .get("delta.columnMapping.mode", "none"))
    if mode != "none":
        raise NotImplementedError(
            f"delta_stream: columnMapping mode {mode!r} — physical "
            f"file names diverge from the logical schema; import the "
            f"table (sources/delta_import) and stream the txnlog "
            f"commit log instead")


def _latest_meta(table: str) -> dict:
    """The replayed metaData (schema evolution re-emits it; the latest
    governs the stream's declared schema, older files align with null
    fills), past the replay's protocol gate and the stream's
    columnMapping gate.  Both DataSource.schema() and streamReader()
    call it: a user-supplied .schema() bypasses the first."""
    meta = replay_delta_log(table)[2]
    _check_mapping(meta)
    return meta


class DeltaStreamReader(DataSourceStreamReader):
    def __init__(self, table: str, schema_json: str,
                 starting_version: int = 0,
                 skip_change_commits: bool = False,
                 with_version_col: bool = True):
        self._table = table
        self._schema_json = schema_json
        self._start = starting_version
        self._skip_change = skip_change_commits
        self._with_version = with_version_col

    def initialOffset(self) -> dict:
        return {"version": self._start - 1}

    def latestOffset(self) -> dict:
        vs = commit_versions(self._table)
        return {"version": vs[-1] if vs else self._start - 1}

    def partitions(self, start: dict, end: dict):
        parts: list[FilePartition] = []
        for v in range(start["version"] + 1, end["version"] + 1):
            try:
                actions = read_commit(self._table, v)
            except FileNotFoundError as e:
                raise ValueError(
                    f"delta_stream: {e} (vacuumed? set "
                    f"startingVersion to the first retained JSON "
                    f"commit)") from None
            # mid-stream protocol/metaData actions re-run the gates:
            # a foreign writer enabling columnMapping (or an unknown
            # reader feature) after the stream started must REFUSE,
            # not deliver null-aligned garbage
            for a in actions:
                if "protocol" in a:
                    check_protocol(a["protocol"])
                elif "metaData" in a:
                    _check_mapping(a["metaData"])
            adds = [a["add"] for a in actions if "add" in a]
            removes = [a["remove"] for a in actions if "remove" in a]
            file_actions = adds + removes
            if file_actions and not any(
                    fa.get("dataChange", True) for fa in file_actions):
                continue        # foreign OPTIMIZE: rows identical —
                # Delta's stream skips it without any option
            if removes or any(a.get("deletionVector") for a in adds):
                if self._skip_change:
                    continue
                raise ValueError(
                    f"delta_stream: foreign version {v} removes or "
                    f"deletion-vectors rows — this source tails "
                    f"APPEND-ONLY history; import + CDC covers "
                    f"rewrites, or option('skipChangeCommits', "
                    f"'true') skips such commits entirely")
            for a in adds:
                # add.path is RFC 2396 percent-encoded per PROTOCOL.md
                pv = {c: pv_frag(x) for c, x in
                      (a.get("partitionValues") or {}).items()}
                parts.append(FilePartition(
                    os.path.join(self._table, unquote(a["path"])),
                    pv or None, version=v))
        return parts

    def read(self, partition: FilePartition):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        target = to_arrow_schema(StructType.fromJson(
            json.loads(self._schema_json)))
        t = read_file(partition.path, target, None, partition.pv)
        if self._with_version:
            ver = pa.nulls(t.num_rows, pa.int64()) \
                .fill_null(partition.version)
            t = t.append_column("_commit_version", ver)
        yield from t.to_batches()

    def commit(self, end: dict) -> None:
        pass


class DeltaStreamDataSource(DataSource):
    """``spark.readStream.format("delta_stream").option("path", p)``
    — register with ``spark.dataSource.register(
    DeltaStreamDataSource)`` (or :func:`register`)."""

    @classmethod
    def name(cls) -> str:
        return "delta_stream"

    def schema(self) -> StructType:
        meta = _latest_meta(self.options["path"])
        fields = json.loads(meta["schemaString"])
        for fld in fields["fields"]:
            md = fld.get("metadata") or {}
            fld["metadata"] = {k: v for k, v in md.items()
                               if not k.startswith("delta.")}
        logical = StructType.fromJson(fields)
        return StructType(list(logical.fields)
                          + [StructField("_commit_version",
                                         LongType(), False)])

    def streamReader(self, schema: StructType) -> DeltaStreamReader:
        # a user-supplied .schema(...) bypasses DataSource.schema()
        # entirely (pyspark create_data_source), so the protocol /
        # columnMapping gates must run HERE too; a user schema
        # without _commit_version simply doesn't get the column
        _latest_meta(self.options["path"])
        names = [f.name for f in schema.fields]
        logical = StructType([f for f in schema.fields
                              if f.name != "_commit_version"])
        skip = str(self.options.get("skipChangeCommits", "false"))
        return DeltaStreamReader(
            self.options["path"], logical.json(),
            starting_version=int(
                self.options.get("startingVersion", 0)),
            skip_change_commits=skip.lower() == "true",
            with_version_col="_commit_version" in names)


def register(spark) -> None:
    """Idempotently register the stream source (logcore.register)."""
    _register(spark, DeltaStreamDataSource)


ship_by_value(__name__)
