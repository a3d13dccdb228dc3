"""catalog.load's schema memo: a parquet table is read under the schema
Spark inferred on its first load, keyed by absolute path, file identity
and the parquet inference confs — so a repeated load runs no Spark job,
and any change to the files or to those confs re-infers."""

from __future__ import annotations

import os
import sys
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql.types import (BinaryType, LongType, StringType,
                               TimestampNTZType)

from conftest import SF_SMOKE

from docker_aktin_dwh_spark import catalog


def _next_job_id(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _plain_load(spark, sf_dir, name):
    """Reference load: a schemaless read, no memo."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes)["ts"] == "bigint":
        df = df.withColumn("ts", F.expr(catalog._NANOS_TO_NTZ))
    return df


def test_repeated_load_submits_no_job(spark):
    catalog.load(spark, SF_SMOKE, "lineitem")
    j0 = _next_job_id(spark)
    df = catalog.load(spark, SF_SMOKE, "lineitem")
    assert _next_job_id(spark) == j0
    assert df.columns[0] == "l_orderkey"


@pytest.mark.parametrize("name", catalog.TABLES)
def test_cached_schema_equals_spark_inference(spark, name):
    catalog.load(spark, SF_SMOKE, name)
    j0 = _next_job_id(spark)
    cached = catalog.load(spark, SF_SMOKE, name)
    assert _next_job_id(spark) == j0
    plain = _plain_load(spark, SF_SMOKE, name)
    assert cached.schema == plain.schema
    assert cached.count() == plain.count()
    if name == "events":
        assert cached.schema["ts"].dataType == TimestampNTZType()


def test_inplace_pyarrow_rewrite_reinfers(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}), path)
    assert catalog.load(spark, str(tmp_path), "t").schema["a"].dataType \
        == LongType()
    pq.write_table(pa.table({"a": pa.array(["x", "yy"], pa.string())}),
                   path)
    df = catalog.load(spark, str(tmp_path), "t")
    assert df.schema["a"].dataType == StringType()
    assert sorted(r.a for r in df.collect()) == ["x", "yy"]


def test_spark_overwrite_adding_column_reinfers(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(4).write.mode("overwrite").parquet(path)
    assert catalog.load(spark, str(tmp_path), "t").columns == ["id"]
    spark.range(4).withColumn("b", F.col("id") * 2) \
        .write.mode("overwrite").parquet(path)
    df = catalog.load(spark, str(tmp_path), "t")
    assert df.columns == ["id", "b"]
    assert sorted(tuple(r) for r in df.collect()) == \
        [(i, 2 * i) for i in range(4)]


def test_binary_as_string_toggle_reinfers(spark, tmp_path):
    pq.write_table(pa.table({"v": pa.array([b"ab"], pa.binary())}),
                   str(tmp_path / "t.parquet"))
    key = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert catalog.load(spark, str(tmp_path), "t") \
            .schema["v"].dataType == BinaryType()
        spark.conf.set(key, "true")
        df = catalog.load(spark, str(tmp_path), "t")
        assert df.schema["v"].dataType == StringType()
        assert df.collect()[0].v == "ab"
    finally:
        spark.conf.set(key, before)


def test_partitioned_directory_keeps_partition_columns(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    (spark.range(6)
     .withColumn("p", (F.col("id") % 3).cast("int"))
     .withColumn("q", F.concat(F.lit("k"), (F.col("id") % 2).cast("string")))
     .write.partitionBy("p", "q").parquet(path))
    plain = spark.read.parquet(path)
    catalog.load(spark, str(tmp_path), "t")
    j0 = _next_job_id(spark)
    cached = catalog.load(spark, str(tmp_path), "t")
    assert _next_job_id(spark) == j0
    assert cached.schema == plain.schema
    assert [(f.name, f.dataType.simpleString()) for f in cached.schema] \
        == [("id", "bigint"), ("p", "int"), ("q", "string")]
    assert sorted(tuple(r) for r in cached.collect()) == \
        sorted(tuple(r) for r in plain.collect())
    key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert catalog.load(spark, str(tmp_path), "t") \
            .schema["p"].dataType == StringType()
    finally:
        spark.conf.set(key, before)


def test_missing_path_keeps_sparks_error(spark, tmp_path):
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        catalog.load(spark, str(tmp_path), "absent")


def test_concurrent_loads_agree(spark, tmp_path, monkeypatch):
    """More loader threads than cores over more tables than the memo
    holds, with a short switch interval: every load returns Spark's own
    schema for its table, and the memo never exceeds its bound."""
    names = [f"t{i}" for i in range(4)]
    for i, n in enumerate(names):
        pq.write_table(pa.table({f"c{j}": pa.array([j], pa.int32())
                                 for j in range(i + 1)}),
                       str(tmp_path / f"{n}.parquet"))
    expected = {n: spark.read.parquet(str(tmp_path / f"{n}.parquet")).schema
                for n in names}
    monkeypatch.setattr(catalog, "_SCHEMA_MEMO_MAX", 2)
    monkeypatch.setattr(catalog, "_schema_memo", {})
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=2 * (os.cpu_count() or 4)) as ex:
            futures = [(n, ex.submit(catalog.load, spark, str(tmp_path), n))
                       for _ in range(6) for n in names]
            got = [(n, f.result(timeout=120).schema) for n, f in futures]
    finally:
        sys.setswitchinterval(interval)
    assert all(schema == expected[n] for n, schema in got)
    assert len(catalog._schema_memo) <= 2
