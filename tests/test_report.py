"""Report-runner tests (SURVEY.md §3.3 / M5): artifacts materialize,
re-running overwrites idempotently, exports are pseudonymized."""

from __future__ import annotations

# priv_02's mechanism test lives here beside the report tests

from conftest import SF_SMOKE

from docker_aktin_dwh_spark import catalog, report


def test_run_report_materializes_all_frames(spark, tmp_path):
    counts = report.run_report(spark, SF_SMOKE, str(tmp_path))
    assert set(counts) == {"monthly_visits", "top_concepts",
                           "patients_by_sex"}
    assert counts["monthly_visits"] == 24        # 12 months × 2 classes
    assert counts["top_concepts"] == 10
    assert all(n > 0 for n in counts.values())
    # idempotent re-run (overwrite, not append)
    again = report.run_report(spark, SF_SMOKE, str(tmp_path))
    assert again == counts


def test_run_report_counts_rows_without_a_job(spark, tmp_path, monkeypatch):
    """The per-artifact row count is read from the footers of the files
    just written: the counting step submits no Spark job."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    real = catalog.parquet_row_count
    jobs = []

    def counting(path):
        j0 = dag.nextJobId()
        n = real(path)
        jobs.append(dag.nextJobId() - j0)
        return n

    monkeypatch.setattr(catalog, "parquet_row_count", counting)
    counts = report.run_report(spark, SF_SMOKE, str(tmp_path))
    assert jobs == [0, 0, 0]
    assert counts == {name: spark.read.parquet(str(tmp_path / name)).count()
                      for name in counts}


def test_ont02_rollup_respects_tree_invariants(spark):
    """ont_02's hierarchy invariants beyond the hash: the root node
    counts every fact and every distinct patient of the corpus;
    every folder's n_facts equals the sum of its leaf children's
    (disjoint concepts partition the facts); and totalnum is monotone
    — a folder's distinct-patient count is at least any child's and
    at most the sum of its children's."""
    from docker_aktin_dwh_spark.operators.cohort import _fact, ont_02

    rows = {r.c_fullname: r for r in ont_02(spark, SF_SMOKE).collect()}
    fact = _fact(spark, SF_SMOKE)
    n_facts_total = fact.count()
    n_pat_total = fact.select("patient_num").distinct().count()
    root = rows["\\AKTIN\\"]
    assert root.n_facts == n_facts_total
    assert root.totalnum == n_pat_total

    folders = {k: v for k, v in rows.items() if k.count("\\") == 3}
    assert folders
    for fk, fv in folders.items():
        kids = [v for k, v in rows.items()
                if k.startswith(fk) and k != fk]
        assert kids, fk
        assert fv.n_facts == sum(k.n_facts for k in kids), fk
        assert max(k.totalnum for k in kids) <= fv.totalnum \
            <= sum(k.totalnum for k in kids), fk


def test_ont02_size_gate_swaps_to_sketch_arm(spark):
    """The ont_02 size gate (VERDICT r8 item 1), both arms pinned:
    below the pair threshold the plan carries the exact two-phase
    distinct; with exact_max_pairs=0 the SAME key runs ont_03's
    approx_count_distinct arm — the plan shows the HLL aggregate and
    no distinct expand, n_facts stays exactly equal, and every node's
    sketched totalnum sits inside the agg_03 5·rsd band of exact."""
    from docker_aktin_dwh_spark import plans
    from docker_aktin_dwh_spark.operators.cohort import _ONT3_RSD, ont_02

    exact_df = ont_02(spark, SF_SMOKE)
    sketch_df = ont_02(spark, SF_SMOKE, exact_max_pairs=0)
    p_exact = plans.formatted_plan(exact_df)
    p_sketch = plans.formatted_plan(sketch_df)
    assert "approx_count_distinct" not in p_exact
    assert "approx_count_distinct" in p_sketch
    assert "Expand" not in p_sketch, "sketch arm still expands distinct"

    exact = {r.c_fullname: r for r in exact_df.collect()}
    sketch = {r.c_fullname: r for r in sketch_df.collect()}
    assert set(exact) == set(sketch)
    for k in exact:
        assert sketch[k].n_facts == exact[k].n_facts, k
        assert (abs(sketch[k].totalnum - exact[k].totalnum)
                <= 5 * _ONT3_RSD * exact[k].totalnum), k


def test_priv02_noise_is_real_and_release_nonnegative(spark):
    """priv_02 mechanism sanity: the Laplace noise actually perturbs
    (some cells differ from the exact report — a zero-noise 'DP'
    release certifies nothing), releases are never negative, and the
    empirical noise magnitude is consistent with b = 1/ε (|Δ| ≤ 10/ε
    for every cell — P(|lap| > 10b) ≈ 5e-5, so a hit means a broken
    inverse-CDF, not bad luck)."""
    from docker_aktin_dwh_spark.operators.cohort import (PRIV_EPS, priv_02,
                                                         rep_01)

    exact = {(r.m, r.inout_cd): r.n
             for r in rep_01(spark, SF_SMOKE).collect()}
    noisy = {(r.m, r.inout_cd): r.n_noisy
             for r in priv_02(spark, SF_SMOKE).collect()}
    assert set(exact) == set(noisy)
    deltas = [noisy[k] - exact[k] for k in exact]
    assert any(d != 0 for d in deltas), "noise never perturbed anything"
    assert all(v >= 0 for v in noisy.values())
    assert all(abs(d) <= 10 / PRIV_EPS for d in deltas), deltas


def test_priv02_secret_salt_changes_noise(spark):
    """The production arm (ADVICE r8): a secret salt reseeds the
    noise — the salted release differs from certification mode (and
    between two different salts), so the 'publicly recomputable'
    property really is confined to salt=None; calibration (|Δ| bound,
    nonnegativity) holds in every mode."""
    from docker_aktin_dwh_spark.operators.cohort import (PRIV_EPS, priv_02,
                                                         rep_01)

    exact = {(r.m, r.inout_cd): r.n
             for r in rep_01(spark, SF_SMOKE).collect()}
    cert = {(r.m, r.inout_cd): r.n_noisy
            for r in priv_02(spark, SF_SMOKE).collect()}
    s1 = {(r.m, r.inout_cd): r.n_noisy
          for r in priv_02(spark, SF_SMOKE, salt="release-2026-08").collect()}
    s2 = {(r.m, r.inout_cd): r.n_noisy
          for r in priv_02(spark, SF_SMOKE, salt="other-salt").collect()}
    assert set(cert) == set(s1) == set(s2)
    assert s1 != cert and s2 != cert and s1 != s2
    for rel in (s1, s2):
        assert all(v >= 0 for v in rel.values())
        assert all(abs(rel[k] - exact[k]) <= 10 / PRIV_EPS for k in exact)


def test_pseudonymize_hashes_ids(spark):
    pat = catalog.patient_dimension(spark, SF_SMOKE).limit(20)
    out = report.pseudonymize(pat, ("patient_num",)).collect()
    assert all(len(r.patient_num) == 64 for r in out)
    plain = {str(r.patient_num) for r in pat.collect()}
    assert plain.isdisjoint({r.patient_num for r in out})
