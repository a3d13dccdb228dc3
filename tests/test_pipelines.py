"""Pipeline tests (SURVEY.md §5.2 item 4): ingest idempotency, XML
shred round-trip, P21 zip-string semantics, broker polling."""

from __future__ import annotations

import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from conftest import SF_SMOKE

from docker_aktin_dwh_spark import catalog
from docker_aktin_dwh_spark.sources import p21_csv, txnlog, xml_cda
from docker_aktin_dwh_spark.streaming import broker


@pytest.fixture(scope="module")
def fact(spark):
    # computed once and pinned in block storage: the tests below read
    # this frame's lineage many times over
    return catalog.observation_fact(spark, SF_SMOKE).localCheckpoint()


def test_merge_upsert_idempotent(spark, fact, tmp_path):
    """SNK-01: importing the same batch twice leaves the txnlog table
    unchanged, and an updated batch replaces its encounters' rows.  A
    300-encounter slice carries the full semantics (batch keys < 100,
    multiple months) at a fraction of the four-merge wall time."""
    fact = fact.filter(F.col("encounter_num") < 300).localCheckpoint()
    table = str(tmp_path / "fact")
    txnlog.create_table(spark, fact, table, key="encounter_num")
    before = txnlog.read_table(spark, table).count()
    assert before == fact.count()

    batch = fact.filter(F.col("encounter_num") < 100)
    txnlog.merge(spark, table, batch, key="encounter_num")
    after1 = txnlog.read_table(spark, table).count()
    txnlog.merge(spark, table, batch, key="encounter_num")
    after2 = txnlog.read_table(spark, table).count()
    assert before == after1 == after2

    # and an updated batch actually replaces (not appends)
    updated = batch.withColumn("tval_char", F.lit("UPDATED"))
    txnlog.merge(spark, table, updated, key="encounter_num")
    got = txnlog.read_table(spark, table)
    assert got.count() == before
    assert (got.filter(F.col("encounter_num") < 100)
               .filter(F.col("tval_char") != "UPDATED")
               .filter(F.col("tval_char").isNotNull()).count() == 0)


def test_xml_shred_roundtrip(spark, fact, tmp_path):
    """SRC-03/UDF-03: encounter XML → fact rows matches the source rows."""
    sample = (fact.filter(F.col("encounter_num") < 20)
                  .select("encounter_num", "patient_num", "concept_cd",
                          "start_date", "valtype_cd", "tval_char",
                          "nval_num", "units_cd"))
    rows = sample.collect()
    by_enc: dict[tuple[int, int], list[dict]] = {}
    for r in rows:
        obs = {"code": r.concept_cd,
               "ts": r.start_date.isoformat(),
               "valtype": r.valtype_cd,
               "value": (str(r.nval_num) if r.valtype_cd == "N"
                         else r.tval_char),
               "unit": r.units_cd}
        by_enc.setdefault((r.encounter_num, r.patient_num), []).append(obs)
    xml_dir = tmp_path / "cda"
    xml_dir.mkdir()
    for (enc, pat), obs in by_enc.items():
        (xml_dir / f"enc{enc}.xml").write_text(
            xml_cda.render_encounter_xml(enc, pat, obs))

    shredded = xml_cda.read_and_shred(spark, str(xml_dir))
    assert shredded.count() == len(rows)
    src = {(r.encounter_num, r.concept_cd, r.start_date,
            float(r.nval_num) if r.nval_num is not None else None)
           for r in rows}
    got = {(r.encounter_num, r.concept_cd, r.start_date, r.nval_num)
           for r in shredded.collect()}
    assert src == got


def test_p21_csv_zip_leading_zeros(spark, tmp_path):
    """SRC-04: PLZ round-trips as string (update01 semantics)."""
    csv = tmp_path / "p21.csv"
    csv.write_text(
        "encounter_id;admission_ts;discharge_ts;zip;age\n"
        "1;2024-01-01T10:00:00;2024-01-01T16:30:00;01067;34\n"
        "2;2024-01-02T08:15:00;2024-01-03T09:15:00;00123;71\n")
    df = p21_csv.read_p21(spark, str(csv))
    rows = {r.encounter_num: r for r in
            p21_csv.p21_to_visits(df).collect()}
    assert rows[1].zip_cd == "01067"
    assert rows[2].zip_cd == "00123"
    assert rows[1].los_hours == 6.5
    assert rows[2].los_hours == 25.0


def test_p21_zip_archive_extract(spark, tmp_path):
    import zipfile
    src = tmp_path / "drop"
    work = tmp_path / "work"
    src.mkdir()
    content = ("encounter_id;admission_ts;discharge_ts;zip;age\n"
               "7;2024-02-01T00:00:00;2024-02-01T04:00:00;04109;50\n")
    with zipfile.ZipFile(src / "batch1.zip", "w") as zf:
        zf.writestr("batch1.csv", content)
    files = p21_csv.extract_zip_archives(str(src), str(work))
    assert len(files) == 1
    df = p21_csv.read_p21(spark, files[0])
    assert df.collect()[0].zip == "04109"


def test_broker_poll_executes_requests(spark, tmp_path):
    """SRC-05/SNK-03: request pickup → local execution → JSON export +
    bookkeeping, including a failed request."""
    inbox = str(tmp_path / "inbox")
    outbox = str(tmp_path / "outbox")
    broker.submit_request(inbox, "req1", "agg_01", SF_SMOKE)
    broker.submit_request(inbox, "req2", "no_such_query", SF_SMOKE)
    statuses = {s["request_id"]: s
                for s in broker.poll_once(spark, inbox, outbox)}
    assert statuses["req1"]["state"] == "completed"
    assert statuses["req2"]["state"] == "failed"
    exported = json.loads((Path(outbox) / "req1.json").read_text())
    assert len(exported) == 3  # o_orderstatus groups
    # second tick: nothing new → no duplicate execution (replayable offsets)
    assert broker.poll_once(spark, inbox, outbox) == []


def test_sky01_tie_and_dominance_semantics(spark):
    """Equal (price, size) points never dominate each other — BOTH
    survive; a point strictly worse on one axis and equal on the
    other is dominated; the frontier is strictly monotone."""
    from docker_aktin_dwh_spark.operators import relational as R
    from pyspark.sql import functions as F

    rows = [  # (partkey, price, size)
        (1, 10.0, 5), (2, 10.0, 5),     # tied frontier pair: both kept
        (3, 10.0, 4),                   # same price, smaller size: out
        (4, 12.0, 5),                   # pricier, same size: out
        (5, 12.0, 7),                   # pricier but bigger: kept
        (6, 9.0, 2),                    # cheapest: kept
    ]
    df = spark.createDataFrame(
        rows, "p_partkey int, p_retailprice double, p_size int"
    ).withColumn("p_brand", F.lit("B"))
    orig_load = R.T
    try:
        R.T = lambda spark_, sf_, name: df     # only 'part' is read
        got = {r.p_partkey for r in R.sky_01(spark, "ignored").collect()}
    finally:
        R.T = orig_load
    assert got == {1, 2, 5, 6}


def test_mba01_lift_ranks_exclusive_pair_over_common_pair(spark):
    """A pair that ONLY ever co-occurs (3 baskets, each part in 3
    orders total) must outrank a pair of corpus-wide common parts
    that co-occur just as often — lift is the ranking, support only
    the floor.  Also pins the basket pair explosion: a 3-part basket
    yields all 3 ordered pairs, and p1 < p2 always."""
    from docker_aktin_dwh_spark.operators import relational as R

    rows = []
    # exclusive pair (101, 102): 3 shared orders, nothing else
    for o in (1, 2, 3):
        rows += [(o, 101), (o, 102)]
    # common parts 201/202: in 12 orders each, co-occur in 3
    for o in range(10, 22):
        rows += [(o, 201)]
    for o in range(19, 31):
        rows += [(o, 202)]
    # one 3-part basket to pin the pair explosion
    rows += [(40, 301), (40, 302), (40, 303)]
    # filler orders so N is meaningful
    rows += [(o, 400 + o) for o in range(50, 60)]
    df = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    orig = R.T
    try:
        R.T = lambda spark_, sf_, name: df
        got = R.mba_01(spark, "ignored").collect()
    finally:
        R.T = orig
    assert all(r.p1 < r.p2 for r in got)
    by_pair = {(r.p1, r.p2): r for r in got}
    assert (101, 102) in by_pair and (201, 202) in by_pair
    assert by_pair[(101, 102)].lift_s > by_pair[(201, 202)].lift_s
    assert by_pair[(101, 102)].sup == by_pair[(201, 202)].sup == 3
    # the 3-part basket contributed C(3,2) pairs but sup=1 < floor
    assert (301, 302) not in by_pair


def test_ntile_closed_form_matches_native_ntile(spark):
    """rfm_01's closed-form NTILE over a distributed rank must equal
    Spark's native ntile window for every n mod k residue (bucket
    sizes differ by one, extras go to the FIRST buckets)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from docker_aktin_dwh_spark.operators.relational import \
        _ntile_from_rank

    for n in (8, 9, 10, 11, 4, 5):
        df = (spark.range(1, n + 1)
              .select(F.col("id").alias("rnk"), F.lit(n).alias("n")))
        got = df.select(
            "rnk", _ntile_from_rank("rnk", "n", 4).alias("b"))
        nat = df.select(
            "rnk",
            F.ntile(4).over(Window.orderBy("rnk")).alias("b"))
        assert ({(r.rnk, r.b) for r in got.collect()}
                == {(r.rnk, r.b) for r in nat.collect()}), f"n={n}"
