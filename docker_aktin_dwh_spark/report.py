"""Report runner — the R-report analogue (SURVEY.md §3.3 / M5).

The reference generates monthly aggregate reports inside WildFly and
renders them with R (R runtime installed via the dependency filter at
reference src/build.sh:273; artifacts land under /var/lib/aktin,
volume at src/docker/template.yml:51).  Here a report is a
parameterized DAG of registry operators materialized to parquet — the
rendering hand-off is `toPandas()` on the final small frames (UDF-04),
never on anything large.

Pseudonymization (FN-HASH): patient-level exports one-way-hash their
identifiers before leaving the engine, mirroring AKTIN's broker-export
pseudonymization (aktin.properties deployed at reference
src/build.sh:253).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import catalog
from .operators import cohort


def monthly_report(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """The AKTIN monthly-report shape: zero-filled visit counts,
    age/sex breakdown, top concepts — each a small aggregate frame."""
    fact = catalog.observation_fact(spark, sf_dir)
    pat = catalog.patient_dimension(spark, sf_dir)
    top_concepts = (fact.groupBy("concept_cd")
                    .agg(F.count("*").alias("n"))
                    .orderBy(F.desc("n"), "concept_cd").limit(10))
    by_sex = (fact.join(pat, "patient_num")
              .groupBy("sex_cd")
              .agg(F.countDistinct("patient_num").alias("patients"))
              .orderBy("sex_cd"))
    return {
        "monthly_visits": cohort.rep_01(spark, sf_dir),
        "top_concepts": top_concepts,
        "patients_by_sex": by_sex,
    }


def pseudonymize(df: DataFrame, id_cols: tuple[str, ...]) -> DataFrame:
    """One-way hash of identifier columns (FN-HASH) before export."""
    out = df
    for c in id_cols:
        out = out.withColumn(c, F.sha2(F.col(c).cast("string"), 256))
    return out


def run_report(spark: SparkSession, sf_dir: str, out_dir: str) -> dict[str, int]:
    """Materialize every report frame to parquet under `out_dir`
    (SNK-02).  Returns row counts per artifact (the bookkeeping row the
    aktin schema keeps per generated report), summed from the footers
    of the files just written — no read-back job."""
    counts: dict[str, int] = {}
    for name, df in monthly_report(spark, sf_dir).items():
        path = str(Path(out_dir) / name)
        df.write.mode("overwrite").parquet(path)
        counts[name] = catalog.parquet_row_count(path)
    return counts
