"""Streaming SOURCE over a FOREIGN Delta table's ``_delta_log``
(Spark 4 Python DataSource API): ``spark.readStream
.format("delta_stream").option("path", <delta table>)`` tails an
externally-written Delta log directly — no import step — with
version-based offsets, exactly like Delta's own streaming source
(public protocol spec: delta-io/delta PROTOCOL.md).  Each micro-batch
reads exactly the data files the foreign commits in ``(start, end]``
added; every row carries ``_commit_version``.

Semantics mirror the txnlog commit-log source (sources/txnstream.py):

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
- Honest refusals, never a wrong decode: columnMapping mode != none
  (physical file names diverge from the logical schema) and absent
  commit files raise with the failing version.

Scale shape: ``partitions()`` is control-plane (commit JSON lines
only); each added file is one InputPartition read executor-side via
pyarrow into Arrow batches — per-trigger work ∝ the new commits'
files, never the table.  Partition columns materialize as constants
from the add's ``partitionValues`` (Delta stores them in the log, not
the files).

Import rule: like txnstream, this module imports nothing from the
package except sources/logcore.py (for registration only — it keeps
its own Delta-log reader); both travel to the streaming-source runner
pickled by value (see logcore).

Reference analogue: the broker POLLS its exchange partner for new
submissions (src/build.sh:255) — here the partner is a Delta-writing
engine we don't control.
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import (DataSource, DataSourceStreamReader,
                                    InputPartition)
from pyspark.sql.types import LongType, StructField, StructType

from .logcore import register as _register, ship_by_value

_DLOG = "_delta_log"
_W = 20


def _commit_path(table: str, version: int) -> str:
    return os.path.join(table, _DLOG, f"{version:0{_W}d}.json")


import re as _re

_COMMIT_RE = _re.compile(r"\d{20}\.json")


def _versions(table: str) -> list[int]:
    log = os.path.join(table, _DLOG)
    try:
        names = os.listdir(log)
    except FileNotFoundError:
        raise FileNotFoundError(
            f"delta_stream: no _delta_log under {table}")
    # fullmatch on the exact commit shape — V2 checkpoints
    # (<v>.checkpoint.<uuid>.json) and compacted logs
    # (<s>.<e>.compact.json) also end in .json with digit prefixes
    return sorted(int(n[:_W]) for n in names
                  if _COMMIT_RE.fullmatch(n))


_ALLOWED_READER_FEATURES = {"deletionVectors", "columnMapping",
                            "typeWidening"}


def _check_protocol(p: dict) -> None:
    """PROTOCOL.md requires readers to FAIL on unsupported reader
    versions/features (same gate as sources/delta_import)."""
    if p.get("minReaderVersion", 1) > 3:
        raise NotImplementedError(
            f"delta_stream: minReaderVersion "
            f"{p['minReaderVersion']}")
    unknown = set(p.get("readerFeatures") or ()) \
        - _ALLOWED_READER_FEATURES
    if unknown:
        raise NotImplementedError(
            f"delta_stream: reader features {sorted(unknown)}")


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
    """The newest metaData action — checkpoint parquet (via
    ``_last_checkpoint``) seeded first so log-cleaned histories work,
    then the retained JSON commits (schema evolution re-emits
    metaData; the latest governs the stream's declared schema, older
    files align with null fills).  Protocol and columnMapping gates
    run here AND again in streamReader (a user-supplied .schema()
    bypasses this function entirely)."""
    meta = protocol = None
    lc = os.path.join(table, _DLOG, "_last_checkpoint")
    if os.path.exists(lc):
        import pyarrow.parquet as pq
        with open(lc) as f:
            v = json.load(f)["version"]
        rows = pq.read_table(os.path.join(
            table, _DLOG, f"{v:0{_W}d}.checkpoint.parquet")).to_pylist()
        for row in rows:
            if row.get("metaData"):
                meta = {k: val for k, val in row["metaData"].items()
                        if val is not None}
                meta["configuration"] = dict(
                    meta.get("configuration") or {})
            elif row.get("protocol"):
                protocol = {k: val
                            for k, val in row["protocol"].items()
                            if val is not None}
    for v in _versions(table):
        with open(_commit_path(table, v)) as f:
            for line in f:
                if not line.strip():
                    continue
                a = json.loads(line)
                if "metaData" in a:
                    meta = a["metaData"]
                elif "protocol" in a:
                    protocol = a["protocol"]
    if meta is None:
        raise FileNotFoundError(
            f"delta_stream: no metaData action in any retained JSON "
            f"commit or checkpoint of {table} — is this a Delta "
            f"table?")
    if protocol is not None:
        _check_protocol(protocol)
    _check_mapping(meta)
    return meta


class _FilePartition(InputPartition):
    def __init__(self, path: str, version: int,
                 pv: dict | None):
        self.path = path
        self.version = version
        self.pv = pv


def _pv_constant(raw, n, arrow_type):
    """One partitionValues entry (Delta serializes them as strings,
    null as JSON null) → an n-row Arrow constant column."""
    import pyarrow as pa
    import pyarrow.compute as pc
    if raw is None:
        return pa.nulls(n, arrow_type)
    s = pa.nulls(n, pa.string()).fill_null(str(raw))
    return pc.cast(s, arrow_type)


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
        vs = _versions(self._table)
        return {"version": vs[-1] if vs else self._start - 1}

    def partitions(self, start: dict, end: dict):
        parts: list[_FilePartition] = []
        for v in range(start["version"] + 1, end["version"] + 1):
            try:
                with open(_commit_path(self._table, v)) as f:
                    lines = [json.loads(ln) for ln in f
                             if ln.strip()]
            except FileNotFoundError:
                raise ValueError(
                    f"delta_stream: foreign commit {v} missing under "
                    f"{self._table} (vacuumed? set startingVersion "
                    f"to the first retained JSON commit)")
            # mid-stream protocol/metaData actions re-run the gates:
            # a foreign writer enabling columnMapping (or an unknown
            # reader feature) after the stream started must REFUSE,
            # not deliver null-aligned garbage
            for a in lines:
                if "protocol" in a:
                    _check_protocol(a["protocol"])
                elif "metaData" in a:
                    _check_mapping(a["metaData"])
            adds = [a["add"] for a in lines if "add" in a]
            removes = [a["remove"] for a in lines if "remove" in a]
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
            from urllib.parse import unquote
            for a in adds:
                # add.path is RFC 2396 percent-encoded per PROTOCOL.md
                parts.append(_FilePartition(
                    os.path.join(self._table, unquote(a["path"])), v,
                    a.get("partitionValues") or None))
        return parts

    def read(self, partition: _FilePartition):
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.sql.types import StructType as _ST

        t = pq.read_table(partition.path)
        target = to_arrow_schema(_ST.fromJson(
            json.loads(self._schema_json)))
        pv = partition.pv or {}
        cols = []
        for field in target:
            if field.name in t.column_names:
                cols.append(t.column(field.name).cast(field.type))
            elif field.name in pv:
                cols.append(_pv_constant(pv[field.name], t.num_rows,
                                         field.type))
            else:
                cols.append(pa.nulls(t.num_rows, field.type))
        t = pa.table(dict(zip(target.names, cols)), schema=target)
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
