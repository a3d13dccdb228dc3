"""SparkSession factory and configuration policy.

The reference pins session locale/timezone to de_DE.UTF-8 / Europe/Berlin
(reference: src/docker/wildfly/Dockerfile:24-26).  For oracle parity we
keep *naive* (NTZ) timestamp semantics everywhere instead: the driver
fixtures store parquet TIMESTAMP(isAdjustedToUTC=false), which Spark 4
reads as TIMESTAMP_NTZ and DuckDB reads as naive TIMESTAMP — identical
wall-clock values in any session zone.  Display timezone is therefore a
rendering concern only and is deliberately NOT baked into query results.

The session timezone is additionally pinned to UTC: the few places that
cast NTZ → TIMESTAMP to reach epoch functions (unix_timestamp /
unix_micros in temporal.range_join and fn_dt2) would otherwise apply the
ambient zone's offset, and around a DST transition the two sides of a
range join could disagree by an hour.  UTC has no transitions, so the
NTZ→TS cast is a pure reinterpretation everywhere.

Scale posture (100 TB design point):
- AQE on (runtime re-plan, skew-join splitting, auto broadcast).
- shuffle partitions default 32 for local[32] tests; on a real cluster
  AQE coalescing makes the initial number a ceiling, not a tuning knob.
- Arrow enabled for the Pandas-UDF paths (dedup/similarity/multimodal).
"""

from __future__ import annotations

import datetime
import hashlib
import os
import tempfile
import zipfile

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType, TimestampType

#: Read parquet TIMESTAMP(NANOS) columns (the `events` fixture) as raw
#: int64 nanoseconds; catalog.load() converts them to TIMESTAMP_NTZ.
#: Spark 4 has no native nanos timestamp type (PARQUET_TYPE_ILLEGAL
#: otherwise).  Runtime-settable, so it also works on driver-owned sessions.
NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def build_session(app_name: str = "docker-aktin-dwh-spark",
                  cpus: int | None = None,
                  shuffle_partitions: int | None = None) -> SparkSession:
    """Create (or get) a SparkSession with the engine's config policy."""
    cpus = cpus or default_parallelism()
    shuffle = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalesce to the advisory partition size instead of maximizing
        # parallelism: fewer, right-sized tasks (A/B: ~9% on the
        # relational headline set; also the documented efficiency
        # setting for clusters where executors aren't starved)
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
                "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config(NANOS_AS_LONG, "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # r16 (guide §5 driver round-trips): executeTake's default ramp
        # scans 1 partition, then 4×, then the rest — so every bounded
        # `limit(cap+1).collect()` (the txnlog control-plane decisions:
        # merge key arm, DV planning) runs as 3 SEQUENTIAL jobs when the
        # frame holds fewer than cap rows.  Starting the ramp at core
        # width folds those into one round; the collect stays bounded
        # by the limit either way, so this is scale-neutral (a cluster
        # first-round scans `cpus` partitions of a 100 TB table, not
        # the table).  Derived from SPARK_GRAFT_CPUS, not a constant.
        .config("spark.sql.limit.initialNumPartitions", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark


def apply_runtime_policy(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable policy to an externally-created session.

    The correctness driver owns its own SparkSession; everything our
    queries depend on must be settable post-hoc.  Static configs (memory,
    master) are left alone.
    """
    spark.conf.set(NANOS_AS_LONG, "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst",
                   "false")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    # Python DataSource filter pushdown (txnbatch file skipping): with
    # this off, Spark REFUSES a reader that overrides pushFilters
    # instead of skipping the pushdown — must be on wherever the
    # txnlog format might be read.
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    # same executeTake-ramp fold as build_session (runtime-settable)
    spark.conf.set("spark.sql.limit.initialNumPartitions",
                   str(default_parallelism()))
    ship_package(spark)
    return spark


def local_frame(spark: SparkSession, rows: list[tuple],
                schema: str | StructType) -> DataFrame:
    """A DataFrame over driver-held ``rows`` (tuples; structs as
    tuples; an empty list is allowed) typed by ``schema`` (DDL string
    or StructType) — the engine's one way to build a driver-side frame.

    The rows go to the JVM as a pyarrow Table, which Spark turns into a
    ``LocalRelation``: building it runs no job, and scanning or
    broadcasting it starts no Python worker.  (Past
    ``spark.sql.execution.arrow.localRelationThreshold`` bytes Spark
    keeps the Arrow batches in a JVM-side RDD instead — still no
    Python worker.)  ``createDataFrame(list)`` instead plans a
    PythonRDD, so every scan of it — an empty one included — costs a
    job of Python-worker tasks.  Independent of the Arrow conf, so it
    behaves the same on externally created sessions.

    Naive top-level TIMESTAMP values are read as local time of this
    process, the rule ``createDataFrame(list)`` applies."""
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    fields = schema.fields
    for r in rows:
        if len(r) != len(fields):
            raise ValueError(f"local_frame: row {r!r} has {len(r)} "
                             f"values for {len(fields)} field(s)")
    arrow = to_arrow_schema(schema)
    cols = []
    for i, (f, af) in enumerate(zip(fields, arrow)):
        vals = [r[i] for r in rows]
        if isinstance(f.dataType, TimestampType):
            vals = [v.astimezone(datetime.timezone.utc)
                    if isinstance(v, datetime.datetime) and v.tzinfo is None
                    else v for v in vals]
        cols.append(pa.array(vals, type=af.type))
    return spark.createDataFrame(pa.Table.from_arrays(cols, schema=arrow),
                                 schema)


def ship_package(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via addPyFile.

    Module-level Arrow-UDF functions (xml_cda.shred_xml, the multimodal
    stubs) are cloudpickled BY REFERENCE, so every worker must be able
    to import docker_aktin_dwh_spark.  When the engine owns the process
    that holds via PYTHONPATH/cwd, but the correctness driver may import
    us from an arbitrary cwd with only driver-side sys.path pointing at
    the repo — local-mode workers inherit the JVM env, not driver
    sys.path, and fail with ModuleNotFoundError.  addPyFile is the
    standard Spark deployment path (workers prepend SparkFiles root to
    sys.path) and equally covers a real multi-node cluster."""
    sc = spark.sparkContext
    if sc is None or getattr(sc, "_aktin_pkg_shipped", False):
        return
    sc.addPyFile(_package_zip())
    sc._aktin_pkg_shipped = True


def _package_zip() -> str:
    """Deterministic per-content zip path: the same package bytes always
    map to the same /tmp path, so repeated sessions (or stop-and-recreate
    contexts, which re-ship correctly via the per-context flag) REUSE one
    zip instead of leaking a fresh mkdtemp per context.  Concurrent
    builders race benignly: each writes a private .tmp and the atomic
    os.replace makes last-writer-wins with no torn zip visible."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    entries = []
    for dirpath, _dirs, files in os.walk(pkg_dir):
        for fname in files:
            if fname.endswith(".py"):
                full = os.path.join(dirpath, fname)
                rel = os.path.join("docker_aktin_dwh_spark",
                                   os.path.relpath(full, pkg_dir))
                entries.append((rel, full))
    entries.sort()
    h = hashlib.sha256()
    for rel, full in entries:
        h.update(rel.encode())
        with open(full, "rb") as f:
            h.update(f.read())
    zdir = os.path.join(tempfile.gettempdir(),
                        f"aktin_pyfiles_{h.hexdigest()[:16]}")
    zpath = os.path.join(zdir, "docker_aktin_dwh_spark.zip")
    if os.path.exists(zpath):
        return zpath
    os.makedirs(zdir, exist_ok=True)
    tmp = f"{zpath}.{os.getpid()}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for rel, full in entries:
            z.write(full, rel)
    os.replace(tmp, zpath)
    return zpath
