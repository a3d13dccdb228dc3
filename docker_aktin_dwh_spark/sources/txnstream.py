"""Streaming SOURCE over the txnlog commit log (Spark 4 Python
DataSource API): stream offsets are commit VERSIONS, and each
micro-batch reads exactly the data files the commits in
``(start, end]`` added — the table's append history replayed with
commit-boundary fidelity.  This is the design Delta Lake's streaming
source uses (public protocol spec): version-based offsets over an
ACID log, so the stream sees only COMMITTED files (a crashed writer's
staged orphans are invisible — same isolation read_table enjoys), and
restart resumes from the checkpointed version with no loss and no
re-delivery.

Every emitted row carries ``_commit_version`` — the log position that
added it — which makes the version→row assignment certifiable by a
batch oracle.

Scale shape: ``partitions()`` is control-plane (reads commit JSONs,
never data); each data file becomes one InputPartition, so executors
read files in parallel through pyarrow and hand Spark Arrow record
batches (zero row-at-a-time Python).  At 100 TB the per-batch work is
proportional to the files the tailed commits added, never the table.

Honest guard: this is an APPEND-ONLY source.  A commit that removes
files (merge/delete/compact/replace) raises — streaming semantics for
rewrites would need change-data capture (txnlog.table_changes is the
batch form).  ``option("skipChangeCommits", "true")`` is Delta's
escape hatch, implemented here with the same semantics: commits that
remove files are SKIPPED ENTIRELY (their adds are NOT emitted — a
merge's rewritten files carry mostly old rows, so emitting them would
re-deliver history; skipping the whole commit under-delivers instead,
which is the documented Delta trade-off), while pure appends keep
flowing.

Import rule: this module imports nothing from the package except
sources/logcore.py, the one definition of the txnlog format.  Spark
plans a Python streaming source in a dedicated
``python_streaming_source_runner`` process that unpickles the
DataSource without the package on its path, so both modules travel to
it pickled by value (see logcore); read() on executors needs only
stdlib + pyarrow.

Reference analogue: the broker's incremental poll loop
(/root/reference/src/docker/template.yml:51) generalized to
transactional commit tailing.
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import DataSource, DataSourceStreamReader
from pyspark.sql.types import LongType, StructField, StructType

from .logcore import (FilePartition, arrow_schema, list_versions,
                      read_commit, read_file, register as _register,
                      replay, ship_by_value)


class TxnlogStreamReader(DataSourceStreamReader):
    def __init__(self, path: str, skip_change_commits: bool = False,
                 schema_json: str | None = None,
                 colmap: dict | None = None):
        self._path = path
        self._skip_change = skip_change_commits
        self._schema_json = schema_json
        self._colmap = colmap

    def initialOffset(self) -> dict:
        return {"version": -1}

    def latestOffset(self) -> dict:
        vs = list_versions(self._path)
        if not vs:
            raise FileNotFoundError(f"no txnlog table at {self._path}")
        return {"version": vs[-1]}

    def partitions(self, start: dict, end: dict):
        parts: list[FilePartition] = []
        for v in range(start["version"] + 1, end["version"] + 1):
            c = read_commit(self._path, v)
            if c.get("data_change") is False:
                # the commit declares its rows IDENTICAL to the prior
                # version (compact/OPTIMIZE, or a synced foreign
                # commit whose actions all carry dataChange=false):
                # Delta's streaming source skips such commits without
                # any option, and so does this one — emitting the
                # rewritten files would re-deliver history
                continue
            if c.get("remove") or c.get("dv") or c.get("op") == "restore":
                # a deletion-vector commit changes rows without
                # changing file membership, and a RESTORE re-adds OLD
                # files (emitting them would re-deliver history) —
                # both are CHANGE commits exactly like a rewrite and
                # trip the same guard
                if self._skip_change:
                    continue        # Delta's skipChangeCommits: the
                    # WHOLE commit is skipped (its adds are rewritten
                    # files carrying old rows — emitting them would
                    # re-deliver history)
                raise ValueError(
                    f"txnlog_stream: version {v} ({c.get('op')}) removes "
                    f"or deletion-vectors rows — this source tails "
                    f"APPEND-ONLY history; rewrites need the CDC form "
                    f"(txnlog.table_changes) "
                    f"or option('skipChangeCommits', 'true')")
            for a in c.get("add", []):
                parts.append(FilePartition(
                    os.path.join(self._path, a["file"]), a.get("pv"),
                    version=v))
        return parts

    def read(self, partition: FilePartition):
        # executor-side: one parquet file -> Arrow batches with the
        # commit version appended (vectorized, no per-row Python).
        # Files store PHYSICAL column names under column mapping and
        # pre-evolution files lack later columns — align each file to
        # the declared logical schema (cast + NULL-fill), exactly like
        # the batch DataSource's read.
        import pyarrow as pa
        import pyarrow.parquet as pq
        if self._schema_json is None:
            t = pq.read_table(partition.path)
        else:
            t = read_file(partition.path, arrow_schema(self._schema_json),
                          self._colmap, partition.pv)
        ver = pa.nulls(t.num_rows, pa.int64()).fill_null(partition.version)
        t = t.append_column("_commit_version", ver)
        yield from t.to_batches()

    def commit(self, end: dict) -> None:
        pass


class TxnlogStreamDataSource(DataSource):
    """``spark.readStream.format("txnlog_stream").option("path", p)`` —
    register with ``spark.dataSource.register(TxnlogStreamDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "txnlog_stream"

    def schema(self) -> StructType:
        table = self.options["path"]
        schema_json = replay(table).schema_json
        if schema_json is None:
            # no retained commit or checkpoint records a schema —
            # name the table instead of json.loads(None)'s opaque
            # TypeError (ADVICE r9)
            raise FileNotFoundError(
                f"txnlog_stream: no schema recorded in any retained "
                f"commit or checkpoint of {table} — is this a txnlog "
                f"table (created via txnlog.create_table)?")
        logged = StructType.fromJson(json.loads(schema_json))
        return StructType(list(logged.fields)
                          + [StructField("_commit_version", LongType(),
                                         False)])

    def streamReader(self, schema: StructType) -> TxnlogStreamReader:
        skip = str(self.options.get("skipChangeCommits", "false"))
        # the declared schema minus the appended _commit_version is the
        # logical table schema read() aligns every file to
        logical = StructType([f for f in schema.fields
                              if f.name != "_commit_version"])
        return TxnlogStreamReader(self.options["path"],
                                  skip_change_commits=skip.lower()
                                  == "true",
                                  schema_json=logical.json(),
                                  colmap=replay(
                                      self.options["path"]).colmap)


def register(spark) -> None:
    """Idempotently register the stream source (logcore.register)."""
    _register(spark, TxnlogStreamDataSource)


ship_by_value(__name__)
