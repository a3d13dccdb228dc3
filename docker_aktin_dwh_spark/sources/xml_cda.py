"""CDA-like XML document shred (SRC-03 / UDF-03, SURVEY.md §3.2).

The reference ingests one HL7 CDA XML document per ED encounter via a
REST POST and decomposes it into observation_fact rows (wildfly
deployments copied at reference src/build.sh:260; admin/REST surface
evidenced by the healthcheck URL at src/docker/template.yml:57).

Spark re-design: binaryFile/text batch source (or STR-01 streaming
directory watch) → Arrow-batched mapInPandas parse with the stdlib XML
parser → exploded fact rows → txnlog.merge (SNK-01) for idempotent
re-submission.  Parsing is per-document and embarrassingly parallel —
partition count scales with input file count; no driver-side XML work.

Document shape (FIXTURES.md §C):
    <encounter id="E7" patient="P3">
      <obs code="AKTIN:R:1" ts="1996-01-05T10:00:00" valtype="N"
           value="12.5" unit="1"/>
      ...
    </encounter>
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

FACT_SCHEMA = ("encounter_num long, patient_num long, concept_cd string, "
               "start_date timestamp_ntz, valtype_cd string, "
               "tval_char string, nval_num double, units_cd string")


def render_encounter_xml(encounter_num: int, patient_num: int,
                         obs: list[dict]) -> str:
    """Inverse of the shred — used by tests and the ingest fixtures."""
    root = ET.Element("encounter", id=f"E{encounter_num}",
                      patient=f"P{patient_num}")
    for o in obs:
        ET.SubElement(root, "obs", **{k: str(v) for k, v in o.items()
                                      if v is not None})
    return ET.tostring(root, encoding="unicode")


def _parse_doc(content: str) -> list[dict]:
    root = ET.fromstring(content)
    enc = int(root.attrib["id"].lstrip("E"))
    pat = int(root.attrib["patient"].lstrip("P"))
    rows = []
    for o in root.findall("obs"):
        valtype = o.attrib.get("valtype", "T")
        rows.append({
            "encounter_num": enc,
            "patient_num": pat,
            "concept_cd": o.attrib["code"],
            "start_date": pd.Timestamp(o.attrib["ts"]),
            "valtype_cd": valtype,
            "tval_char": o.attrib.get("value") if valtype == "T" else None,
            "nval_num": float(o.attrib["value"]) if valtype == "N" else None,
            "units_cd": o.attrib.get("unit"),
        })
    return rows


def shred_xml(docs: DataFrame, content_col: str = "value") -> DataFrame:
    """XML documents → fact rows (one doc → N rows, UDF-03 table shape)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[dict] = []
            for content in pdf[content_col]:
                out.extend(_parse_doc(content))
            yield pd.DataFrame(out) if out else pd.DataFrame(
                columns=["encounter_num", "patient_num", "concept_cd",
                         "start_date", "valtype_cd", "tval_char",
                         "nval_num", "units_cd"])

    return docs.mapInPandas(run, FACT_SCHEMA)


def read_and_shred(spark: SparkSession, path: str) -> DataFrame:
    """Batch entry: one XML document per file under `path`."""
    raw = spark.read.text(path, wholetext=True)
    return shred_xml(raw, content_col="value")
