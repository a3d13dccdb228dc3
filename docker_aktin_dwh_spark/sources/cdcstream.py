"""CHANGE-DATA FEED over the txnlog format (Spark 4 Python DataSource
API) — Delta's ``readChangeFeed``, as a stream and as a batch read:
the CLASSIFIED per-version diffs (insert / delete / update_preimage /
update_postimage, tagged ``_commit_version``) of the commits in
``(startingVersion, end]``, from the version-asymmetric file sets and
deletion-vector deltas — never a full table read.  The stream is what
the append-only source (txnstream) points rewrites at; the batch read
IS :func:`txnlog.table_changes_range`, one Spark job for any number
of versions.  Both run the same two steps:

- :func:`plan_versions` (control plane, commit JSONs only; each
  version replayed once and reused as the next one's old side): one
  partition per commit, shipping its old/new files with their DV
  masks and the DV deltas on membership-stable files (newly vectored
  rows → old side; restore-resurrected rows → new side).  A
  ``data_change: false`` commit (compaction) gets none;
- :func:`classify_version` (executor): read only those files through
  pyarrow, outer-join the sides on the merge key in pandas, classify,
  and SUPPRESS rewritten-but-identical rows — cost ∝ the churn.

Every partition reads under the schema and column map logged at ONE
version, as ``table_changes`` does: the range end for a batch read,
the latest version when a stream starts.  A renamed column diffs as
one column (physical names are rename-stable); columns a version
predates NULL-fill.  A stream version logging a column outside that
schema raises, naming the version, rather than drop it (a restart
reads under the new schema).  Stream offsets are versions: a restart
resumes from its checkpoint exactly-once.

Options: ``path`` and ``key`` (the merge key the diff joins on);
``startingVersion`` (default 0 — the create is state, not change, as
in Delta's CDF); for batch reads ``endingVersion`` (default the latest
version at planning), the inclusive range end, like txnbatch's
``versionAsOf``: the read is pinned to it and takes its schema.

Import rule: this module imports nothing from the package except
sources/logcore.py — Spark's data-source workers cannot import the
package, so both modules travel to them pickled by value (logcore).

Reference analogue: the broker's incremental result forwarding
(/root/reference/src/docker/template.yml:51) upgraded from "new rows
only" to a full classified change protocol.
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import (DataSource, DataSourceReader,
                                    DataSourceStreamReader, InputPartition)
from pyspark.sql.types import StringType, LongType, StructField, StructType

from .logcore import (arrow_schema, latest_version, nullable_schema_json,
                      ranges_subtract, read_commit, read_file,
                      register as _register, replay, schema_snapshot,
                      ship_by_value)


class _VersionDiffPartition(InputPartition):
    def __init__(self, table: str, version: int, key: str,
                 old_files: list, new_files: list,
                 dv_dead: list, dv_alive: list):
        self.table = table
        self.version = version
        self.key = key
        # [(name, ranges, pv), ...]: whole files minus their DV ranges
        self.old_files = old_files
        self.new_files = new_files
        # [(name, ranges, pv), ...]: only the rows in the ranges
        self.dv_dead = dv_dead      # newly vectored rows -> old side
        self.dv_alive = dv_alive    # resurrected rows -> new side


def _physical(schema_json: str, colmap: dict | None) -> dict[str, str]:
    """Physical → logical name of every column of a logged schema."""
    return {(colmap or {}).get(f["name"], f["name"]): f["name"]
            for f in json.loads(schema_json)["fields"]}


def plan_versions(table: str, key: str, start: int, end: int,
                  declared: dict | None = None
                  ) -> list[_VersionDiffPartition]:
    """One partition per data-changing commit in ``(start, end]`` that
    touched a file or a deletion vector.  ``declared`` (the stream:
    its schema's physical names): a version whose schema holds a
    column outside it raises instead of being read without it."""
    parts = []
    prev = None                     # replayed v-1, when v-1 was replayed
    for v in range(start + 1, end + 1):
        if read_commit(table, v).get("data_change") is False:
            prev = None             # compaction: no change rows
            continue
        f0 = (prev or replay(table, v - 1)).files
        prev = replay(table, v)
        f1 = prev.files
        old_files = [(n, f0[n].get("dv"), f0[n].get("pv"))
                     for n in sorted(f0) if n not in f1]
        new_files = [(n, f1[n].get("dv"), f1[n].get("pv"))
                     for n in sorted(f1) if n not in f0]
        dv_dead, dv_alive = [], []
        for n in sorted(f0.keys() & f1.keys()):
            d0, d1 = f0[n].get("dv") or [], f1[n].get("dv") or []
            if d1 != d0:
                for out, rg in ((dv_dead, ranges_subtract(d1, d0)),
                                (dv_alive, ranges_subtract(d0, d1))):
                    if rg:
                        out.append((n, rg, f1[n].get("pv")))
        if not (old_files or new_files or dv_dead or dv_alive):
            continue
        if declared is not None:
            extra = sorted(c for p, c in _physical(
                prev.schema_json, prev.colmap).items()
                if p not in declared)
            if extra:
                raise ValueError(
                    f"txnlog_cdc: version {v} of {table} logs "
                    f"column(s) {extra} outside the stream's schema — "
                    f"restart the stream to read under the new schema")
        parts.append(_VersionDiffPartition(
            table, v, key, old_files, new_files, dv_dead, dv_alive))
    return parts


def classify_version(partition: _VersionDiffPartition, schema_json: str,
                     colmap: dict | None):
    """Executor side: one version's classified change rows as Arrow
    record batches, read under ``schema_json`` and ``colmap`` (logical
    → physical names; rename-stable, so one map serves both sides)."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa

    target = arrow_schema(schema_json)

    def side(files, keeps):
        tabs = [read_file(os.path.join(partition.table, n), target,
                          colmap, pv, dead=dv)
                for n, dv, pv in files]
        tabs += [read_file(os.path.join(partition.table, n), target,
                           colmap, pv, live=ranges)
                 for n, ranges, pv in keeps]
        if not tabs:
            return pa.table(
                {f.name: pa.nulls(0, f.type) for f in target},
                schema=target).to_pandas()
        return pa.concat_tables(tabs).to_pandas()

    old = side(partition.old_files, partition.dv_dead)
    new = side(partition.new_files, partition.dv_alive)
    k = partition.key
    cols = [f.name for f in target]
    j = old.merge(new, on=k, how="outer", suffixes=("_o", "_n"),
                  indicator=True)
    data_cols = [c for c in cols if c != k]

    def rows(frame, src, ctype):
        out = frame[[k] + [f"{c}{src}" for c in data_cols]].copy()
        out.columns = [k] + data_cols
        out["change_type"] = ctype
        return out[cols + ["change_type"]]

    ins = rows(j[j["_merge"] == "right_only"], "_n", "insert")
    del_ = rows(j[j["_merge"] == "left_only"], "_o", "delete")
    both = j[j["_merge"] == "both"]
    if len(both) and data_cols:
        same = np.ones(len(both), dtype=bool)
        for c in data_cols:
            a, b = both[f"{c}_o"], both[f"{c}_n"]
            same &= ((a == b) | (a.isna() & b.isna())).to_numpy()
        changed = both[~same]
    else:
        changed = both.iloc[0:0]
    pre = rows(changed, "_o", "update_preimage")
    post = rows(changed, "_n", "update_postimage")
    out = pd.concat([ins, del_, pre, post], ignore_index=True)
    out["_commit_version"] = np.int64(partition.version)
    result = pa.Table.from_pandas(
        out, schema=target.append(
            pa.field("change_type", pa.string(), False)).append(
            pa.field("_commit_version", pa.int64(), False)),
        preserve_index=False)
    yield from result.to_batches()


class _Reader:
    """Reads every partition under the schema and column map at
    ``schema_version`` (default latest)."""

    def __init__(self, table: str, key: str, start: int,
                 schema_version: int | None = None):
        self._table, self._key, self._start = table, key, start
        self._end = schema_version
        snap = schema_snapshot(table, schema_version)
        self._schema_json = nullable_schema_json(snap.schema_json)
        self._colmap = snap.colmap

    def read(self, partition: _VersionDiffPartition):
        # an empty batch plan reaches read() as [None] (pyspark)
        return iter(()) if partition is None else classify_version(
            partition, self._schema_json, self._colmap)


class TxnlogCdcStreamReader(_Reader, DataSourceStreamReader):
    def initialOffset(self) -> dict:
        return {"version": self._start}

    def latestOffset(self) -> dict:
        return {"version": latest_version(self._table)}

    def partitions(self, start: dict, end: dict):
        return plan_versions(self._table, self._key, start["version"],
                             end["version"], _physical(self._schema_json,
                                                       self._colmap))


class TxnlogCdcBatchReader(_Reader, DataSourceReader):
    def partitions(self):
        return plan_versions(self._table, self._key, self._start,
                             self._end)


class TxnlogCdcDataSource(DataSource):
    """``spark.readStream.format("txnlog_cdc")`` or
    ``spark.read.format("txnlog_cdc")``, options as in the module
    docstring — register with :func:`register`."""

    @classmethod
    def name(cls) -> str:
        return "txnlog_cdc"

    def _args(self) -> tuple[str, str, int, int]:
        if "key" not in self.options:
            raise ValueError(
                "txnlog_cdc requires option('key', <merge key>) — the "
                "classified diff joins old/new sides on it")
        return (self.options["path"], self.options["key"],
                int(self.options.get("startingVersion", 0)),
                self._version())

    def _version(self) -> int:
        # pinned once: Spark pickles this instance after schema(), so
        # the readers see the version the schema came from
        if getattr(self, "_pinned", None) is None:
            end = self.options.get("endingVersion")
            self._pinned = int(end) if end is not None \
                else latest_version(self.options["path"])
        return self._pinned

    def schema(self) -> StructType:
        logged = StructType.fromJson(json.loads(nullable_schema_json(
            schema_snapshot(self.options["path"],
                            self._version()).schema_json)))
        return StructType(
            list(logged.fields)
            + [StructField("change_type", StringType(), False),
               StructField("_commit_version", LongType(), False)])

    def reader(self, schema: StructType) -> TxnlogCdcBatchReader:
        return TxnlogCdcBatchReader(*self._args())

    def streamReader(self, schema: StructType) -> TxnlogCdcStreamReader:
        return TxnlogCdcStreamReader(*self._args())


def register(spark) -> None:
    """Idempotently register the CDC source (logcore.register)."""
    _register(spark, TxnlogCdcDataSource)


ship_by_value(__name__)
