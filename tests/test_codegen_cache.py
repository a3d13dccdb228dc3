"""Spark's generated-code cache holds the query mix.

Spark keeps whole-stage-codegen classes in one JVM-wide LRU cache
(``spark.sql.codegen.cache.maxEntries``).  The benchmark's ``query_mix``
keys need about 200 classes; at Spark's default of 100 entries a second
pass in another order found its classes evicted and compiled nearly all
of them again."""

from __future__ import annotations

from conftest import SF_SMOKE

from docker_aktin_dwh_spark.registry import build_registry
from docker_aktin_dwh_spark.session import codegen_compilations

#: the benchmark's ``query_mix`` keys: six i2b2/AKTIN analytics queries
#: and six LLM-corpus operators
QUERY_MIX = ("jn_03 agg_02 coh_01 ont_02 eav_01 cor_01 "
             "text_fp pii_01 qrep_01 kw_01 vq_01 mm_png").split()


def test_repeated_pass_stays_compiled(spark):
    registry = build_registry()

    def one_pass(keys) -> int:
        c0 = codegen_compilations(spark)
        for key in keys:
            registry[key].fn(spark, SF_SMOKE).toPandas()
        return codegen_compilations(spark) - c0

    first = one_pass(QUERY_MIX)
    second = one_pass(QUERY_MIX[::-1])
    assert second <= first / 10, (
        f"the reversed pass compiled {second} classes after a first "
        f"pass compiled {first}: the generated-code cache evicted them")
