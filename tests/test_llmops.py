"""LLM-pipeline operator tests: approximate near-dup / ANN paths
validated against exact brute force — on planted duplicates where the
fixtures are random (random data has no meaningful neighbors, so recall
there measures noise, not the operator)."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from conftest import SF_ORACLE, SF_SMOKE

from docker_aktin_dwh_spark import catalog
from docker_aktin_dwh_spark.operators import dedup, similarity


def _hv_minhash_equals_exact_jaccard(spark):
    """LSH+verify returns exactly the exact-Jaccard pair set: the band
    arithmetic (32×4 @ 128 perms) makes a miss at j≥0.7 astronomically
    unlikely, and verification removes false positives."""
    docs = catalog.load(spark, SF_SMOKE, "documents")
    lsh = {(r.i, r.j, r.jac) for r in
           dedup.minhash_dedup_pairs(docs, 0.7)
                .select("i", "j", F.round("jac", 3).alias("jac")).collect()}
    exact = {(r.i, r.j, r.jac) for r in
             dedup.ngram_jaccard_pairs(docs, 0.7)
                  .select("i", "j", F.round("jac", 3).alias("jac")).collect()}
    assert lsh == exact
    assert lsh, "fixture should contain near-duplicate documents"


def test_simhash_finds_planted_near_duplicates(spark):
    docs = catalog.load(spark, SF_SMOKE, "documents") \
        .filter(F.col("doc_id") < 200).select("doc_id", "text")
    # plant: copy of doc k with one token appended → tiny Hamming distance
    planted = docs.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat("text", F.lit(" zzz")).alias("text"))
    corpus = docs.unionByName(planted)
    pairs = {(r.i, r.j) for r in dedup.simhash_dedup_pairs(corpus).collect()}
    hits = sum((k, k + 100000) in pairs for k in range(10))
    # simhash is approximate: one appended token flips a few signature
    # bits, occasionally past the Hamming cutoff — require 8/10
    assert hits >= 8, f"only {hits}/10 planted pairs found: {sorted(pairs)}"


def test_simhash_hamming_values_match_signatures(spark):
    docs = catalog.load(spark, SF_SMOKE, "documents") \
        .filter(F.col("doc_id") < 500)
    sig = {r.doc_id: r.simhash
           for r in dedup.simhash_signatures(docs).collect()}
    for r in dedup.simhash_dedup_pairs(docs).collect():
        expect = bin((sig[r.i] ^ sig[r.j]) & (2**64 - 1)).count("1")
        assert r.hamming == expect


def test_ann_lsh_recall_on_planted_neighbors(spark):
    """Corpus = random fixture vectors + 20 planted neighbors of the 5
    query vectors (query + small noise → cos ≈ 0.99).  The LSH path
    must recover most planted neighbors; random non-neighbors are noise
    either way."""
    emb = catalog.load(spark, SF_SMOKE, "embeddings")
    rng = np.random.default_rng(7)
    qs = emb.filter(F.col("vec_id") < 5).collect()
    planted = []
    for qi, q in enumerate(qs):
        base = np.array(q.embedding, dtype=np.float64)
        for c in range(4):
            noisy = base + rng.normal(0, 0.05, len(base))
            planted.append((1_000_000 + qi * 10 + c,
                            [float(x) for x in noisy]))
    corpus = emb.select("vec_id", "embedding").unionByName(
        spark.createDataFrame(planted, "vec_id long, embedding array<float>"))
    queries = emb.filter(F.col("vec_id") < 5)
    got = similarity.ann_lsh_topk(corpus, queries, k=4).collect()
    found = {(r.q_id, r.neighbor_id) for r in got}
    hits = sum((qi, 1_000_000 + qi * 10 + c) in found
               for qi in range(5) for c in range(4))
    assert hits >= 16, f"planted-neighbor recall too low: {hits}/20"


def test_ann_ivf_recall_on_planted_neighbors(spark):
    """Same planting protocol as the LSH test: a cos≈0.99 neighbor lands
    in the query's own IVF cell, so nprobe≥1 must recover it."""
    emb = catalog.load(spark, SF_SMOKE, "embeddings")
    rng = np.random.default_rng(11)
    qs = emb.filter(F.col("vec_id") < 5).collect()
    planted = []
    for qi, q in enumerate(qs):
        base = np.array(q.embedding, dtype=np.float64)
        for c in range(4):
            noisy = base + rng.normal(0, 0.05, len(base))
            planted.append((1_000_000 + qi * 10 + c,
                            [float(x) for x in noisy]))
    corpus = emb.select("vec_id", "embedding").unionByName(
        spark.createDataFrame(planted, "vec_id long, embedding array<float>"))
    queries = emb.filter(F.col("vec_id") < 5)
    got = similarity.ivf_topk(corpus, queries, k=4).collect()
    found = {(r.q_id, r.neighbor_id) for r in got}
    hits = sum((qi, 1_000_000 + qi * 10 + c) in found
               for qi in range(5) for c in range(4))
    assert hits >= 16, f"planted-neighbor recall too low: {hits}/20"


def test_cosine_udf_matches_numpy(spark):
    emb = catalog.load(spark, SF_SMOKE, "embeddings") \
        .filter(F.col("vec_id") < 60)
    got = {(r.i, r.j): r.cos
           for r in dedup.cosine_pairs(emb, -1.0).collect()}
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64)
            for r in emb.collect()}
    for (i, j), cos in list(got.items())[:500]:
        a, b = vecs[i], vecs[j]
        expect = a @ b / (np.linalg.norm(a) * np.linalg.norm(b))
        assert cos == pytest.approx(expect, abs=1e-12)


def _hv_semdedup_cluster_bounded_and_finds_planted(spark):
    """sdd_01 (r11 SemDeDup): (1) the candidate space is BOUNDED by
    cluster sizes — Σ n_c·(n_c−1)/2 over the k-means assignment, a
    strict subset of the corpus quadratic (the property that makes the
    semantic prune runnable at scale); (2) the prune finds the planted
    cos-0.9999 twins that co-cluster (original and twin land in the
    same cluster — their distance-to-centroid profile is nearly
    identical) and admits NO natural pair (random fixtures have no
    cos ≥ 0.99 neighbors)."""
    rows = dedup.sdd_01(spark, SF_SMOKE).collect()
    emb = catalog.load(spark, SF_SMOKE, "embeddings")
    n_vec = emb.count()
    offset = emb.agg(F.max("vec_id")).first()[0] + 1
    n_planted = emb.filter(
        F.col("vec_id") % dedup.EMBED2_STRIDE == 0).count()
    corpus = n_vec + n_planted

    # every surviving pair is a planted (original, twin) pair
    assert rows, "planted duplicates must be found"
    assert all(r.j == r.i + offset for r in rows), (
        "only planted twins can reach cos >= 0.99")
    assert len(rows) >= int(0.9 * n_planted), (
        f"expected >=90% of {n_planted} planted pairs co-clustered, "
        f"got {len(rows)}")

    # cluster-boundedness: recompute the assignment and compare the
    # candidate count against the corpus quadratic
    from docker_aktin_dwh_spark.operators.similarity import (
        KM_ITERS, SDD_TARGET_CLUSTER_ROWS, _km_assign,
        _km_seed_centroids, _km_update, sdd_k)
    base = emb.select("vec_id", F.transform(
        "embedding", lambda x: x.cast("double")).alias("x"))
    planted = (base.filter(F.col("vec_id") % dedup.EMBED2_STRIDE == 0)
               .select((F.col("vec_id") + offset).alias("vec_id"),
                       F.col("x")))
    pts = base.unionByName(planted)
    k = sdd_k(corpus)           # the operator's own scale-aware K (r12)
    assert k == max(8, -(-corpus // SDD_TARGET_CLUSTER_ROWS))
    cents = _km_seed_centroids(pts, k=k)
    for _ in range(KM_ITERS):
        cents = _km_update(_km_assign(pts, cents))
    sizes = [r.n for r in _km_assign(pts, cents)
             .groupBy("cid").agg(F.count("*").alias("n")).collect()]
    candidates = sum(n * (n - 1) // 2 for n in sizes)
    quadratic = corpus * (corpus - 1) // 2
    assert candidates < quadratic / 3, (
        f"cluster-bounded candidate count {candidates} must be well "
        f"under the corpus quadratic {quadratic}")
    # the r12 contract: with K ∝ N the PER-CLUSTER expectation is the
    # constant target, so candidates stay within a small multiple of
    # the linear bound N·(target−1)/2 even under imbalanced clusters
    linear_bound = corpus * (SDD_TARGET_CLUSTER_ROWS - 1) / 2
    assert candidates <= 12 * linear_bound, (
        f"candidate count {candidates} vs linear bound {linear_bound}:"
        f" clustering degenerated to corpus-quadratic")


def test_exact_dedup_keeps_min_doc_id(spark):
    got = dedup.ded_exact(spark, SF_SMOKE).collect()
    assert got and all(r.n == 2 for r in got)
    assert all(r.keep_id < 50 for r in got)


def test_ngram_corpus_cap_raises(spark):
    docs = (catalog.load(spark, SF_SMOKE, "documents")
            .filter(F.col("doc_id") < 20).select("doc_id", "text"))
    with pytest.raises(ValueError, match="minhash_dedup_pairs"):
        dedup.ngram_jaccard_pairs(docs, 0.8, max_docs=10,
                                  on_guard="raise").count()
    # default on_guard="route": the SAME call answers exactly via the
    # prefix-filtered path instead of refusing
    routed = {(r.i, r.j) for r in
              dedup.ngram_jaccard_pairs(docs, 0.8, max_docs=10).collect()}
    direct = {(r.i, r.j) for r in
              dedup.prefix_jaccard_pairs(docs, 0.8).collect()}
    assert routed == direct


def test_ngram_hot_shingle_cap_raises(spark):
    """A shingle shared by every doc (shared boilerplate prefix) trips
    the document-frequency ceiling — the quadratic hot key the guard
    exists for."""
    rows = [(i, "common boilerplate header one two three " + ("x%d " % i) * 5)
            for i in range(8)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    with pytest.raises(ValueError, match="hottest shingle"):
        dedup.ngram_jaccard_pairs(docs, 0.8, max_df=4,
                                  on_guard="raise").count()


def test_prefix_jaccard_equals_exact(spark):
    """prefix_jaccard_pairs is EXACT: on the full smoke corpus at the
    family threshold it returns the identical pair set (ids AND jaccard
    values) as the brute-force shingle self-join — the losslessness
    proof in the docstring, exercised."""
    docs = catalog.load(spark, SF_SMOKE, "documents")
    pref = {(r.i, r.j, r.jac) for r in
            dedup.prefix_jaccard_pairs(docs, 0.7)
                 .select("i", "j", F.round("jac", 3).alias("jac")).collect()}
    exact = {(r.i, r.j, r.jac) for r in
             dedup.ngram_jaccard_pairs(docs, 0.7)
                  .select("i", "j", F.round("jac", 3).alias("jac")).collect()}
    assert pref == exact
    assert pref, "fixture should contain near-duplicate documents"


def test_prefix_filter_survives_hot_shingle(spark):
    """The corpus shape that makes ngram_jaccard_pairs RAISE (a
    boilerplate shingle in every doc → df² candidate blow-up) is
    exactly where prefix filtering shines: df-ascending ordering pushes
    the hot shingle out of every prefix, so the planted true pair is
    still found while the candidate set stays near the true-pair count
    instead of ~N²/2."""
    n = 300
    rows = [(i, "common boilerplate header one two three "
                + " ".join(f"u{i}w{k}" for k in range(10)))
            for i in range(n)]
    # planted near-dup of doc 0: one appended token, jac = 14/15 ≈ 0.93
    rows.append((9000, rows[0][1] + " zzz"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    with pytest.raises(ValueError, match="hottest shingle"):
        dedup.ngram_jaccard_pairs(docs, 0.8, max_df=100,
                                  on_guard="raise").count()
    # the routed default finds the planted pair where the baseline arm
    # refuses — exact semantics preserved through the guard
    assert {(r.i, r.j) for r in
            dedup.ngram_jaccard_pairs(docs, 0.8, max_df=100).collect()} \
        == {(0, 9000)}
    got = {(r.i, r.j) for r in dedup.prefix_jaccard_pairs(docs, 0.8).collect()}
    assert got == {(0, 9000)}
    pf = dedup.materialize(dedup._prefix_frame(docs, 0.8))
    n_cand = dedup._prefix_candidates(pf, 0.8).count()
    assert n_cand <= 10, (
        f"{n_cand} candidates — the hot boilerplate shingle leaked into "
        f"prefixes (expected ~1 vs the exact path's ~{n * n // 2})")


def test_substr_dup_stats_planted_and_short_docs(spark):
    """substr_dup_stats semantics on a constructed corpus: docs 0 and 1
    share exactly one 8-token run (planted) and nothing else; doc 2 is
    unrelated; doc 3 is shorter than the window and must neither error
    nor appear.  Each sharer reports exactly 1 duplicated span, and a
    doc repeating the span TWICE internally counts both positions
    (span positions, not distinct spans)."""
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (0, "p0 q0 r0 " + shared + " s0 t0 u0"),
        (1, "p1 q1 " + shared + " s1 t1 u1 v1"),
        (2, "completely different words that never overlap anything "
            "at all here"),
        (3, "too short"),
        (4, shared + " mid " + shared),   # repeats the span internally
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_spans, r.n_dup_spans)
           for r in dedup.substr_dup_stats(docs).collect()}
    assert set(got) == {0, 1, 4}
    assert got[0][1] == 1 and got[1][1] == 1
    # doc 4: 17 tokens → 10 windows; the shared run occurs at two
    # positions, both corpus-duplicated
    assert got[4] == (10, 2)
    # totals: doc 0 has 14 tokens → 7 windows
    assert got[0][0] == 7


def test_nb_classifier_learns_planted_signal(spark):
    """nb_margin_frame accuracy on a corpus with REAL class signal
    (the fixture's languages share one vocabulary, so qc_01's fixture
    run certifies only the algebra — this pins the semantics): class
    A docs draw from an a-pool + shared tokens, class B from a b-pool
    + shared.  Held-out accuracy must be ≥ 0.95, and a doc with NO
    vocabulary tokens must score exactly the prior margin."""
    import math

    from docker_aktin_dwh_spark.operators import textops

    def doc(i, pool):
        own = [f"{pool}{(i * 7 + j) % 6}" for j in range(6)]
        shared = [f"s{(i + j) % 4}" for j in range(4)]
        return " ".join(own + shared)

    # i % 5 == 1 held out → 8 even + 8 odd held, 32+32 train (balanced
    # classes ⇒ the prior margin is EXACTLY zero)
    rows = [(i, i % 2 == 0, i % 5 != 1, doc(i, "a" if i % 2 == 0 else "b"))
            for i in range(80)]
    rows.append((900, False, False, "zzz1 zzz2 zzz3"))   # no vocab overlap
    base = spark.createDataFrame(
        rows, "doc_id long, y boolean, is_train boolean, text string"
    ).withColumn("tk", F.split(F.trim("text"), r"\s+")).drop("text")

    m = {r.doc_id: r.margin_i
         for r in textops.nb_margin_frame(base, v_top=16).collect()}
    held = [(i, i % 2 == 0) for i in range(80) if i % 5 == 1]
    acc = sum((m[i] > 0) == y for i, y in held) / len(held)
    assert acc >= 0.95, f"held-out accuracy {acc}"

    # the junk doc shares no vocabulary token → margin is the prior
    # margin, which the balanced split makes exactly 0
    assert math.isclose(math.log(32 / 64), math.log(0.5))
    assert m[900] == 0


def test_minhash_exact_parity_mode_matches_pruned(spark):
    """estimate_prune=False (the exact-parity mode for huge candidate
    sets) returns the same pair set as the pruned default here — the
    prune only ever removes below-threshold candidates at this scale."""
    docs = catalog.load(spark, SF_SMOKE, "documents")
    pruned = {(r.i, r.j) for r in
              dedup.minhash_dedup_pairs(docs, 0.7).collect()}
    exact = {(r.i, r.j) for r in
             dedup.minhash_dedup_pairs(docs, 0.7,
                                       estimate_prune=False).collect()}
    assert pruned == exact and pruned


def test_cosine_pairs_sparse_offset_ids(spark):
    """Hash-based blocking: ids offset far above the corpus count (and
    sparse) must not trip the cap, skew tiles, or change the pair set."""
    emb = (catalog.load(spark, SF_SMOKE, "embeddings")
           .filter(F.col("vec_id") < 120))
    base = {(r.i, r.j, round(r.cos, 4)) for r in
            dedup.cosine_pairs(emb, 0.4).collect()}
    off = 10_000_000
    # order-REVERSING map: catches any assumption that tile membership
    # or cross-tile pairing follows id order
    shifted = emb.withColumn("vec_id", F.lit(off) - F.col("vec_id") * 17)
    back = lambda v: (off - v) // 17
    got = {(*sorted((back(r.i), back(r.j))), round(r.cos, 4))
           for r in dedup.cosine_pairs(shifted, 0.4).collect()}
    assert got == {(*sorted((i, j)), c) for i, j, c in base}


def _have_pil() -> bool:
    try:
        import PIL  # noqa: F401
        return True
    except ImportError:
        return False


def test_decoder_adapter_selection():
    from docker_aktin_dwh_spark.functions import png as pnglib
    from docker_aktin_dwh_spark.operators import multimodal as mm
    assert mm.pick_decoder("stub") is mm.fake_decode
    assert mm.pick_decoder("pil") is mm.real_decode
    assert mm.pick_decoder("png") is mm.png_stdlib_decode
    # 'auto' is per-payload dispatch (r6): PNG bytes decode for real
    # via the stdlib codec regardless of PIL; non-PNG falls back to
    # PIL when importable, stub otherwise
    auto = mm.pick_decoder("auto")
    assert auto is mm.auto_decode
    payload = pnglib.encode_png(bytes(range(16)), 4, 4, 1)
    assert auto(payload) == mm.png_stdlib_decode(payload)
    if not _have_pil():
        assert auto(b"not an image") == mm.fake_decode(b"not an image")
    with pytest.raises(ValueError):
        mm.pick_decoder("ffmpeg")


@pytest.mark.skipif(_have_pil(), reason="Pillow installed; raise path n/a")
def test_real_decode_raises_without_pil():
    from docker_aktin_dwh_spark.operators import multimodal as mm
    with pytest.raises(NotImplementedError, match="Pillow"):
        mm.real_decode(b"not an image")


@pytest.mark.skipif(not _have_pil(), reason="Pillow not installed in "
                                            "this environment")
def test_decode_features_real_pil_path(spark):
    """Real-codec path end-to-end through Spark wherever Pillow exists:
    tiny generated PNGs of known dims/luma decode to exact values."""
    from io import BytesIO

    from PIL import Image

    from docker_aktin_dwh_spark.operators import multimodal as mm

    rows = []
    for i, (w, h, val) in enumerate([(8, 4, 0), (5, 7, 255), (16, 9, 128)]):
        buf = BytesIO()
        Image.new("L", (w, h), val).save(buf, "PNG")
        rows.append((i, bytearray(buf.getvalue())))
    media = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: r for r in
           mm.decode_features(media, codec="pil").collect()}
    assert (got[0].width, got[0].height, got[0].mean_luma) == (8, 4, 0.0)
    assert (got[1].width, got[1].height, got[1].mean_luma) == (5, 7, 1.0)
    assert got[2].mean_luma == round(128 / 255.0, 6)


def test_pack_01_conserves_tokens_and_is_contiguous(spark):
    """Packing invariants: every token lands in exactly one sequence
    (per-source token totals conserved), and seq ids per source are
    contiguous from 0."""
    from pyspark.sql import functions as F

    from docker_aktin_dwh_spark import catalog
    from docker_aktin_dwh_spark.functions.textfns import tokens
    from docker_aktin_dwh_spark.operators.packing import pack_01

    packed = pack_01(spark, SF_SMOKE)
    got = {r["source"]: (r["total"], r["nseq"], r["maxseq"])
           for r in packed.groupBy("source")
                          .agg(F.sum("tokens").alias("total"),
                               F.count("*").alias("nseq"),
                               F.max("seq_id").alias("maxseq")).collect()}
    d = catalog.load(spark, SF_SMOKE, "documents")
    want = {r["source"]: r["total"]
            for r in d.select("source", F.size(tokens("text")).alias("n"))
                      .groupBy("source").agg(F.sum("n").alias("total"))
                      .collect()}
    assert set(got) == set(want)
    for s, (total, nseq, maxseq) in got.items():
        assert total == want[s], s
        assert nseq == maxseq + 1, f"{s}: seq ids not contiguous"


def test_mix_01_rates_within_hash_tolerance(spark):
    """Mixture sampling keeps ~thr/256 of each language's docs (exact
    value is a deterministic property of md5 over the fixture ids)."""
    from docker_aktin_dwh_spark.operators.packing import mix_01

    rows = {r["lang"]: r for r in mix_01(spark, SF_SMOKE).collect()}
    assert rows["en"]["n_kept"] < rows["en"]["n_total"]
    assert rows["zh"]["n_kept"] < rows["zh"]["n_total"]
    for lang in ("de", "es", "fr"):
        assert rows[lang]["n_kept"] == rows[lang]["n_total"], lang


def test_chunk_01_covers_every_token_with_fixed_overlap(spark):
    """Chunking invariants: first chunk starts at 0, consecutive starts
    advance by the stride, and the final chunk ends exactly at the
    doc's last token (full coverage, no tail loss)."""
    from pyspark.sql import functions as F

    from docker_aktin_dwh_spark import catalog
    from docker_aktin_dwh_spark.functions.textfns import tokens
    from docker_aktin_dwh_spark.operators.packing import (CHUNK_OVERLAP,
                                                          CHUNK_SIZE,
                                                          chunk_01)

    stride = CHUNK_SIZE - CHUNK_OVERLAP
    ch = chunk_01(spark, SF_SMOKE)
    last = (ch.groupBy("doc_id")
              .agg(F.max("chunk_idx").alias("li"),
                   F.count("*").alias("nc")))
    # chunk_idx dense from 0
    assert last.filter(F.col("nc") != F.col("li") + 1).count() == 0
    d = catalog.load(spark, SF_SMOKE, "documents") \
        .select("doc_id", F.size(tokens("text")).alias("n"))
    end = (ch.join(last, "doc_id").filter(F.col("chunk_idx") == F.col("li"))
             .join(d, "doc_id")
             .withColumn("covered", F.col("chunk_idx") * stride + F.col("n_tok")))
    assert end.filter(F.col("covered") != F.col("n")).count() == 0


def test_connected_components_propagates_across_chains(spark):
    """A min-label must travel the full chain 0-1-2-3 (several
    propagation rounds), separate components stay separate, and
    symmetric/duplicate edges are tolerated."""
    from docker_aktin_dwh_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 0), (1, 2), (2, 3),      # chain 0-1-2-3 with mixed orientation
         (10, 11), (10, 11),          # separate component, duplicate edge
         ], "i long, j long")
    got = {r["v"]: r["lbl"] for r in connected_components(edges).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 10: 10, 11: 10}


def test_connected_components_raises_past_iteration_bound(spark):
    # doubling reach covers ~2^r hops in r rounds, so a 40-node chain
    # cannot finish in 2 rounds — the bound still fails loudly
    from docker_aktin_dwh_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(k, k + 1) for k in range(40)], "i long, j long")
    import pytest as _pytest
    with _pytest.raises(RuntimeError, match="fixpoint"):
        connected_components(chain, max_iters=2)


def test_connected_components_long_chain_converges_logarithmically(spark):
    """A 120-node path (diameter 119) must converge well inside the
    default 25-round bound — only possible with pointer jumping
    (linear propagation would need 119 rounds)."""
    from docker_aktin_dwh_spark.operators.dedup import connected_components

    n = 120
    chain = spark.createDataFrame(
        [(k, k + 1) for k in range(n - 1)], "i long, j long")
    got = {r["v"]: r["lbl"] for r in
           connected_components(chain, max_iters=12).collect()}
    assert got == {k: 0 for k in range(n)}


def _hv_connected_components_matches_union_find_on_random_graphs(spark):
    """Cross-check against a driver-side union-find on seeded random
    graphs (fixed seeds — deterministic, no flake)."""
    import random

    from docker_aktin_dwh_spark.operators.dedup import connected_components

    for seed in (7, 23, 99):
        rng = random.Random(seed)
        n = 30
        edges = sorted({tuple(sorted(rng.sample(range(n), 2)))
                        for _ in range(25)})
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            parent[find(a)] = find(b)
        touched = {v for e in edges for v in e}
        want = {v: min(u for u in touched if find(u) == find(v))
                for v in touched}

        df = spark.createDataFrame(edges, "i long, j long")
        got = {r["v"]: r["lbl"] for r in connected_components(df).collect()}
        assert got == want, f"seed {seed}"


# ------------------------------------------------------------- PNG codec

def test_png_roundtrip_all_filters_and_channels():
    """Every (channels, filter) combination survives encode → decode
    byte-exact — covers all five unfilter branches with real encoded
    bytes, gray/RGB/RGBA."""
    import random

    from docker_aktin_dwh_spark.functions.png import decode_png, encode_png

    rng = random.Random(7)
    for ch in (1, 3, 4):
        for ft in range(5):
            w, h = rng.randint(1, 40), rng.randint(1, 40)
            px = bytes(rng.randrange(256) for _ in range(w * h * ch))
            assert decode_png(encode_png(px, w, h, ch, filter_type=ft)) \
                == (w, h, ch, px), (ch, ft)


def test_png_decode_rejects_malformed():
    import pytest as _pytest

    from docker_aktin_dwh_spark.functions.png import decode_png, encode_png

    with _pytest.raises(ValueError, match="signature"):
        decode_png(b"GIF89a not a png")
    good = encode_png(bytes(range(16)), 4, 4, 1)
    with _pytest.raises(ValueError):
        decode_png(good[:30])          # truncated mid-chunk
    # interlaced header must raise NotImplementedError, not mis-decode
    import struct
    import zlib
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 1)

    def chunk(t, d):
        return (struct.pack(">I", len(d)) + t + d
                + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF))

    bad = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
           + chunk(b"IDAT", zlib.compress(b"\x00" * 20))
           + chunk(b"IEND", b""))
    with _pytest.raises(NotImplementedError, match="interlaced"):
        decode_png(bad)


@pytest.mark.skipif(
    not __import__("importlib").util.find_spec("PIL"),
    reason="Pillow not installed in this container")
def test_png_codec_matches_pil():
    """Wherever Pillow exists, our encoder's output must decode
    identically under PIL and our decoder must read PIL-written PNGs."""
    import io
    import random

    from PIL import Image

    from docker_aktin_dwh_spark.functions.png import decode_png, encode_png

    rng = random.Random(11)
    w, h = 23, 17
    px = bytes(rng.randrange(256) for _ in range(w * h))
    img = Image.open(io.BytesIO(encode_png(px, w, h, 1, filter_type=4)))
    assert img.size == (w, h) and bytes(img.convert("L").tobytes()) == px
    buf = io.BytesIO()
    Image.frombytes("L", (w, h), px).save(buf, format="PNG")
    assert decode_png(buf.getvalue())[3] == px


def test_synth_png_pipeline_decodes_to_contract(spark):
    """The declared mm_png pipeline: synthesized PNGs decode back to
    the closed-form dims and luma (checked here directly in Python for
    a sample; the full-range hash check is the t2 oracle)."""
    from docker_aktin_dwh_spark import catalog
    from docker_aktin_dwh_spark.operators.multimodal import (
        _synth_dims, png_decode_features, synth_png_media)
    from pyspark.sql import functions as F

    d = (catalog.load(spark, SF_SMOKE, "documents")
         .filter(F.col("doc_id") < 20).select("doc_id"))
    rows = png_decode_features(synth_png_media(d)).collect()
    assert len(rows) == 20
    for r in rows:
        w, h = _synth_dims(r.doc_id)
        assert (r.png_w, r.png_h) == (w, h)
        want = round(sum((x + 3 * y + r.doc_id) % 256
                         for y in range(h) for x in range(w))
                     / (w * h) / 255.0, 6)
        assert abs(r.png_luma - want) < 1e-9, r.doc_id


# ------------------------------------------------- clustered-fixture recall

def _hv_ann_recall_on_clustered_fixture(spark):
    """True top-k recall, finally measurable (NOTES r5: the natural
    fixture embeddings are i.i.d. random → no meaningful neighbors).
    On a seeded 20-cluster fixture (in-cluster cos ≈ 0.85):
    LSH(8×8) recall@10 measured 0.885, IVF(32 cells, nprobe 6) 1.000 —
    deterministic (seeded generator + seeded planes), asserted with
    margin.  Measured degradation curve lives in NOTES.md."""
    from docker_aktin_dwh_spark.scalegen import clustered_embeddings

    emb = (clustered_embeddings(spark, 2000)
           .select("vec_id", "embedding").cache())
    try:
        queries = emb.filter(F.col("vec_id") < 20)
        truth = {(r.q_id, r.neighbor_id) for r in
                 similarity.brute_force_topk(emb, queries, 10).collect()}
        assert len(truth) == 200
        lsh = {(r.q_id, r.neighbor_id) for r in
               similarity.ann_lsh_topk(emb, queries, 10).collect()}
        mp = {(r.q_id, r.neighbor_id) for r in
              similarity.ann_lsh_topk(emb, queries, 10,
                                      multiprobe=1).collect()}
        ivf = {(r.q_id, r.neighbor_id) for r in
               similarity.ivf_topk(emb, queries, 10).collect()}
        assert len(lsh & truth) / len(truth) >= 0.8
        assert len(mp & truth) / len(truth) >= 0.95   # measured 1.000
        assert len(ivf & truth) / len(truth) >= 0.95
        # IVF-SQ: the uint8 quantized first pass + 4k-shortlist exact
        # re-rank must not cost meaningful recall vs float IVF (the
        # shortlist is 4x the final k, so approx-scoring jitter only
        # matters if it pushes a true neighbor below rank 40)
        sq = {(r.q_id, r.neighbor_id) for r in
              similarity.sq_ivf_topk(emb, queries, 10).collect()}
        assert len(sq & truth) / len(truth) >= 0.95
        # flat PQ (32-bit codes, 8·k ADC shortlist): measured 0.905 —
        # the honest price of 64× compression; the ADC shortlist
        # factor, not codebook size, is the lever (docstring numbers)
        pq = {(r.q_id, r.neighbor_id) for r in
              similarity.pq_topk(emb, queries, 10).collect()}
        assert len(pq & truth) / len(truth) >= 0.85
    finally:
        emb.unpersist()


def test_km01_recovers_planted_clusters_and_inertia_monotone(spark):
    """km_01's Lloyd machinery on the planted 8-cluster fixture:
    purity vs the generator's true labels measured 0.875 with 7 live
    centroids after 1 iteration and STABLE through 4 (md5 seeding
    loses one planted cluster to a merge — classic Lloyd local
    optimum, deterministic here), asserted with margin; and total
    inertia must be non-increasing across update steps (the Lloyd
    convergence invariant), checked over 3 steps."""
    from collections import defaultdict

    from docker_aktin_dwh_spark.scalegen import clustered_embeddings

    emb = clustered_embeddings(spark, 400, n_clusters=8).cache()
    try:
        pts = emb.select("vec_id", similarity._as_double("embedding")
                          .alias("x"))
        cents = similarity._km_seed_centroids(pts)
        inertias = []
        for _ in range(3):
            assigned = similarity._km_assign(pts, cents)
            inertias.append(assigned.agg(F.sum("dist")).collect()[0][0])
            cents = similarity._km_update(assigned)
        assert inertias[0] >= inertias[1] >= inertias[2]
        final = (similarity._km_assign(pts, cents)
                 .join(emb.select("vec_id", "cluster"), "vec_id")
                 .groupBy("cid", "cluster").count().collect())
        per_cid, tot = defaultdict(list), 0
        for r in final:
            per_cid[r.cid].append(r["count"])
            tot += r["count"]
        assert sum(max(v) for v in per_cid.values()) / tot >= 0.85
        assert len(per_cid) >= 6
    finally:
        emb.unpersist()


def test_km_step_equals_assign_update_composition(spark):
    """r15 optimization invariant: the fused one-pass Lloyd step
    (similarity._km_step — numpy partial sums inside the assignment's
    Arrow pass) returns EXACTLY the centroids of the two-op
    composition _km_update(_km_assign(pts, cents)) it replaced, over
    multiple iterations on the planted-cluster fixture.  Both routes
    sum order-independent int64 partials, so equality is exact, not
    approximate."""
    from docker_aktin_dwh_spark.scalegen import clustered_embeddings

    emb = clustered_embeddings(spark, 400, n_clusters=8).cache()
    try:
        pts = emb.select("vec_id", similarity._as_double("embedding")
                          .alias("x"))
        c_old = similarity._km_seed_centroids(pts)
        c_new = list(c_old)
        for _ in range(3):
            c_old = similarity._km_update(similarity._km_assign(pts, c_old))
            c_new = similarity._km_step(pts, c_new)
            assert c_new == c_old, "fused step diverged from composition"
    finally:
        emb.unpersist()


def test_ivf_step_equals_assign_mean_composition(spark):
    """r16 optimization invariant (VERDICT r15 item 3): the fused IVF
    Lloyd step (similarity._ivf_step — cosine assignment + int64
    partial sums in one Arrow pass) returns EXACTLY the centroids of
    its unfused composition: ivf_assign's cluster column followed by
    the same order-exact integer-scaled per-cluster mean, computed
    row-by-row in plain Python from collected rows.  Both routes sum
    order-independent int64 partials, so equality is exact."""
    from collections import defaultdict
    import math

    import numpy as np

    from docker_aktin_dwh_spark.scalegen import clustered_embeddings

    emb = clustered_embeddings(spark, 300, n_clusters=8).cache()
    try:
        corpus = emb.select("vec_id", "embedding")
        seeds = (corpus.orderBy("vec_id").limit(similarity.IVF_CLUSTERS)
                 .collect())
        cents = np.asarray([r.embedding for r in seeds],
                           dtype=np.float64)
        for _ in range(2):
            # reference: the OLD assignment route (ivf_assign) + the
            # integer-scaled mean, computed serially on the driver
            assigned = similarity.ivf_assign(corpus, cents).collect()
            psum = defaultdict(lambda: [0] * similarity.DIM)
            cnt = defaultdict(int)
            for r in assigned:
                c = r.cluster
                cnt[c] += 1
                for d, v in enumerate(r.embedding):
                    psum[c][d] += int(
                        math.floor(v * similarity.KM_SUM_SCALE))
            ref = cents.copy()
            for c in cnt:
                for d in range(similarity.DIM):
                    ref[c, d] = ((float(psum[c][d]) / cnt[c])
                                 / similarity.KM_SUM_SCALE)
            fused = similarity._ivf_step(corpus.select("embedding"),
                                         cents)
            assert fused.tolist() == ref.tolist(), \
                "fused IVF step diverged from composition"
            cents = fused
    finally:
        emb.unpersist()


def test_pq_step_equals_encode_mean_composition(spark):
    """r16 optimization invariant (VERDICT r15 item 3): the fused PQ
    Lloyd step (similarity._pq_step) returns EXACTLY the codebook of
    its unfused composition: _pq_encode_udf's codes followed by the
    same order-exact integer-scaled per-(m, cid) sub-vector mean,
    computed serially from collected rows.  Empty cells must keep
    their previous entries on both routes."""
    from collections import defaultdict
    import math

    import numpy as np

    from docker_aktin_dwh_spark.scalegen import clustered_embeddings

    emb = clustered_embeddings(spark, 300, n_clusters=8).cache()
    try:
        e = emb.select("vec_id", similarity._as_double("embedding")
                       .alias("e"))
        rng = np.random.RandomState(7)
        cb = rng.rand(similarity.PQ_M, similarity.PQ_KS,
                      similarity.PQ_DS)
        for _ in range(2):
            enc = similarity._pq_encode_udf(cb)
            coded = e.select("e", enc("e").alias("codes")).collect()
            psum = defaultdict(lambda: [0] * similarity.PQ_DS)
            cnt = defaultdict(int)
            for r in coded:
                for m in range(similarity.PQ_M):
                    cid = r.codes[m]
                    sv = r.e[m * similarity.PQ_DS:
                             (m + 1) * similarity.PQ_DS]
                    cnt[(m, cid)] += 1
                    for d, v in enumerate(sv):
                        psum[(m, cid)][d] += int(
                            math.floor(v * similarity.KM_SUM_SCALE))
            ref = np.asarray(cb, dtype=np.float64).copy()
            for (m, cid), c in cnt.items():
                for d in range(similarity.PQ_DS):
                    ref[m, cid, d] = ((float(psum[(m, cid)][d]) / c)
                                      / similarity.KM_SUM_SCALE)
            fused = similarity._pq_step(e, cb)
            assert fused.tolist() == ref.tolist(), \
                "fused PQ step diverged from composition"
            cb = fused
    finally:
        emb.unpersist()


@pytest.mark.parametrize("bad", [1e10, float("nan")], ids=["1e10", "nan"])
@pytest.mark.parametrize("step", ["ivf", "pq", "km"])
def test_km_sum_scale_headroom_raises_instead_of_wrapping(spark, step,
                                                          bad):
    """One vector past the int64 headroom of the FLOOR(x·KM_SUM_SCALE)
    partial sums (1e10·1e9 > 2^63), or holding a NaN, must raise
    OverflowError from the Lloyd step — numpy's cast and np.add.at
    would otherwise wrap it into a silently wrong centroid."""
    dim = similarity.DIM
    ok = spark.range(8).select(F.array_repeat(
        ((F.col("id") + 1) / 10).cast("double"), dim).alias("x"))
    corpus = ok.unionByName(spark.range(1).select(
        F.array_repeat(F.lit(bad), dim).alias("x"))).coalesce(1)
    rng = np.random.RandomState(7)
    with pytest.raises(Exception, match="OverflowError: KM_SUM_SCALE"):
        if step == "ivf":
            similarity._ivf_step(corpus.select(F.col("x").alias(
                "embedding")), rng.rand(4, dim))
        elif step == "pq":
            similarity._pq_step(corpus.select(F.col("x").alias("e")),
                                rng.rand(similarity.PQ_M, similarity.PQ_KS,
                                         similarity.PQ_DS))
        else:
            similarity._km_step(corpus, [(c, list(rng.rand(dim)))
                                         for c in range(4)])


@pytest.mark.parametrize("step", ["assign", "km"])
def test_km_dist_scale_headroom_raises_instead_of_wrapping(spark, step):
    """Squared distances Σ FLOOR(diff²·KM_DIST_SCALE) in int64: a
    vector 400 away from its centroid in every dimension (64 · 1.6e17
    > 2^63) is well inside KM_SUM_SCALE's headroom yet would wrap the
    distance sum — k-means assignment and the Lloyd step must raise
    OverflowError instead of picking a centroid from a wrapped value."""
    dim = similarity.DIM
    pts = spark.range(4).select(
        F.col("id").alias("vec_id"),
        F.array_repeat(F.lit(400.0), dim).alias("x")).coalesce(1)
    cents = [(0, [0.0] * dim), (1, [1.0] * dim)]
    with pytest.raises(Exception, match="OverflowError: KM_DIST_SCALE"):
        if step == "assign":
            similarity._km_assign(pts, cents).collect()
        else:
            similarity._km_step(pts, cents)


def test_cosine_pairs_recover_cluster_structure(spark):
    """ded_embed's pair engine on the clustered fixture: at τ=0.7 the
    blocked-matmul pair set must be ≈exactly the in-cluster pair set
    (measured precision 1.0, recall 0.9988 — deterministic fixture, so
    asserted with a small margin).  Complements the random-fixture
    tests, which can only check arithmetic, not retrieval."""
    from docker_aktin_dwh_spark.scalegen import clustered_embeddings

    emb = clustered_embeddings(spark, 400, n_clusters=8).cache()
    try:
        cl = {r.vec_id: r.cluster
              for r in emb.select("vec_id", "cluster").collect()}
        pairs = dedup.cosine_pairs(emb.select("vec_id", "embedding"),
                                   0.7).collect()
        same = sum(cl[r.i] == cl[r.j] for r in pairs)
        possible = 8 * (50 * 49) // 2
        assert pairs
        assert same / len(pairs) >= 0.999      # precision
        assert same / possible >= 0.99         # recall
    finally:
        emb.unpersist()


def test_auto_decoder_really_decodes_png_payloads(spark):
    """pick_decoder('auto') must decode PNG payloads for real (stdlib
    codec) even without PIL, while non-PNG payloads fall back to the
    stub — per-payload sniffing inside one batch."""
    from docker_aktin_dwh_spark import catalog
    from docker_aktin_dwh_spark.operators.multimodal import (
        _synth_dims, decode_features, synth_png_media)

    d = (catalog.load(spark, SF_SMOKE, "documents")
         .filter(F.col("doc_id") < 10).select("doc_id"))
    media = synth_png_media(d).select(
        "doc_id", "payload", F.lit("image/png").alias("media_type"),
        F.struct(F.octet_length("payload").alias("n_bytes"),
                 F.lit("synth").alias("origin")).alias("meta"))
    rows = decode_features(media, codec="auto").collect()
    assert len(rows) == 10
    for r in rows:
        assert (r.width, r.height) == _synth_dims(r.doc_id)


def test_auto_decoder_sniffs_jpeg_payloads():
    """auto_decode routes 0xFFD8-signature bytes through the
    hand-written baseline-JPEG decoder — real dimensions and mean
    intensity, not the sha256 stub's."""
    from docker_aktin_dwh_spark.functions import jpeg as J
    from docker_aktin_dwh_spark.operators.multimodal import (auto_decode,
                                                             fake_decode)

    w, h = 24, 16
    px = bytes([77]) * (w * h)
    payload = J.encode_baseline_jpeg(px, w, h)
    got = auto_decode(payload)
    assert got == (w, h, round(77 / 255.0, 6))
    assert got != fake_decode(payload)


# ------------------------------------------------ heavy hitters / CDC / HLL

def test_heavy_hitters_partitioning_independent(spark):
    """The candidate set depends on physical partitioning; the RESULT
    must not — exact verify makes it layout-invariant (the property the
    oracle hash relies on)."""
    from docker_aktin_dwh_spark.operators.textops import heavy_hitters
    from docker_aktin_dwh_spark.functions.textfns import tokens

    tok = (catalog.load(spark, SF_SMOKE, "documents")
           .select(F.explode(tokens("text")).alias("t")))
    r1 = {(r.t, r.c) for r in
          heavy_hitters(tok.repartition(2), den=100).collect()}
    r2 = {(r.t, r.c) for r in
          heavy_hitters(tok.repartition(13), den=100).collect()}
    assert r1 == r2 and len(r1) > 0


def test_heavy_hitters_matches_brute_force(spark):
    from docker_aktin_dwh_spark.operators.textops import heavy_hitters
    from docker_aktin_dwh_spark.functions.textfns import tokens

    tok = (catalog.load(spark, SF_SMOKE, "documents")
           .select(F.explode(tokens("text")).alias("t")))
    n = tok.count()
    den = 200
    brute = {(r.t, r.c) for r in
             tok.groupBy("t").agg(F.count("*").alias("c"))
                .filter(F.col("c") * den >= n).collect()}
    got = {(r.t, r.c) for r in heavy_hitters(tok, den=den).collect()}
    assert got == brute and len(got) > 0


def test_snapshot_diff_classifies_and_drops_unchanged(spark):
    from docker_aktin_dwh_spark.operators.maintenance import snapshot_diff

    old = spark.createDataFrame(
        [(1, 10.0, "A"), (2, 20.0, "B"), (3, None, "C"), (4, 40.0, "D")],
        "k long, price double, status string")
    new = spark.createDataFrame(
        [(1, 10.0, "A"),            # unchanged -> dropped
         (2, 21.0, "B"),            # update (value change)
         (3, None, "C"),            # unchanged incl. NULL (eqNullSafe)
         (5, 50.0, "E")],           # insert; 4 missing -> delete
        "k long, price double, status string")
    got = {(r.k, r.op) for r in
           snapshot_diff(old, new, ["k"], ["price", "status"]).collect()}
    assert got == {(2, "update"), (4, "delete"), (5, "insert")}


def test_fed_hll_estimate_tracks_exact(spark):
    """The merged per-site sketches must estimate within the documented
    band — and the merge must equal a single global sketch's estimate
    (sketch union is lossless w.r.t. the global sketch state)."""
    o = catalog.load(spark, SF_SMOKE, "orders")
    site = (F.col("o_orderkey") % 3).cast("int")
    merged = (o.withColumn("site", site)
               .groupBy("site").agg(F.hll_sketch_agg("o_custkey").alias("sk"))
               .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
               ).first()["est"]
    direct = o.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("o_custkey")).alias("est")
    ).first()["est"]
    exact = o.select("o_custkey").distinct().count()
    assert merged == direct
    assert abs(merged - exact) <= max(1, 5 * 0.016 * exact)


# ------------------------------------------------------- WAV codec

def test_wav_roundtrip_all_widths_and_channels():
    """Encode→decode identity for every supported encoding shape, and
    agreement with the stdlib `wave` module as an independent reference
    parser (it reads our bytes; we read what it describes)."""
    import io
    import struct
    import wave as stdwave

    from docker_aktin_dwh_spark.functions import wav

    cases = [
        ([(i * 7 + 3) % 201 - 100 for i in range(100)], 16000, 1, 2, None),
        ([v for i in range(50) for v in ((i % 201) - 100,) * 2],
         8000, 2, 1, b"INFOsynthetic"),
        ([1, -2, 3], 44100, 1, 1, None),          # odd data length pad
        ([v for i in range(33) for v in (i - 16,) * 2],
         24000, 2, 2, b"X"),                      # odd LIST length pad
    ]
    for samples, rate, ch, width, extra in cases:
        p = wav.encode_wav(samples, rate, ch, width, extra_chunk=extra)
        assert wav.decode_wav(p) == (rate, ch, width, samples)
        ref = stdwave.open(io.BytesIO(p))
        assert (ref.getframerate(), ref.getnchannels(),
                ref.getsampwidth()) == (rate, ch, width)
        raw = ref.readframes(len(samples) // ch)
        if width == 2:
            got = list(struct.unpack(f"<{len(samples)}h", raw))
        else:
            got = [b - 128 for b in raw]
        assert got == samples


def test_wav_decode_rejects_malformed():
    import pytest as _pytest

    from docker_aktin_dwh_spark.functions import wav

    ok = wav.encode_wav([0, 1, -1, 2], 8000, 1, 2)
    for bad in (b"RIFX" + b"\x00" * 30,          # wrong magic
                ok[:20],                          # truncated chunk
                ok[:12]):                         # no chunks at all
        with _pytest.raises(ValueError):
            wav.decode_wav(bad)
    # non-PCM format tag must refuse loudly, not mis-decode
    import struct as _s
    fmt = _s.pack("<HHIIHH", 3, 1, 8000, 16000, 2, 16)
    p = (b"RIFF" + _s.pack("<I", 4 + 8 + len(fmt) + 8) + b"WAVE"
         + b"fmt " + _s.pack("<I", len(fmt)) + fmt
         + b"data" + _s.pack("<I", 0))
    with _pytest.raises(NotImplementedError):
        wav.decode_wav(p)


def test_wav_features_match_analytic_contract(spark):
    """The declared mm_wav pipeline decodes what the synthesis contract
    says it encodes — spot-checked in Python against the closed form
    (the sf0.01 oracle sweep covers the full hash)."""
    from docker_aktin_dwh_spark.operators import multimodal as mm

    d = catalog.load(spark, SF_SMOKE, "documents") \
        .filter(F.col("doc_id") < 24).select("doc_id")
    rows = {r.doc_id: r for r in
            mm.wav_decode_features(mm.synth_wav_media(d)).collect()}
    for did in range(24):
        nf = 64 + did % 64
        vals = [(i * (did % 5 + 2) + did) % 201 - 100 for i in range(nf)]
        r = rows[did]
        assert r.wav_frames == nf
        assert r.wav_rate == 8000 * (1 + did % 3)
        assert r.wav_ch == (2 if did % 3 == 0 else 1)
        assert abs(r.wav_mean - sum(vals) / nf) < 1e-9


# ------------------------------------------------------- BPE training

def _reference_bpe(word_freq, n_merges):
    """Independent single-machine BPE reference (argmax per round,
    ties broken on (count desc, left, right), greedy left-to-right
    non-overlapping replacement) — the exactness yardstick for the
    distributed trainer."""
    from collections import Counter

    vocab = {tuple(w): f for w, f in word_freq.items()}
    merges = []
    for _ in range(n_merges):
        pairs = Counter()
        for syms, f in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += f
        if not pairs:
            break
        (l, r), c = min(pairs.items(),
                        key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        if c < 2:
            break
        merges.append((l, r))
        nv = {}
        for syms, f in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if (i + 1 < len(syms) and syms[i] == l
                        and syms[i + 1] == r):
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            k = tuple(out)
            nv[k] = nv.get(k, 0) + f
        vocab = nv
    return merges


def test_bpe_train_matches_independent_reference(spark):
    """The distributed BPE trainer must produce the exact merge list an
    independent single-machine reference implementation produces from
    the same word-frequency table."""
    from docker_aktin_dwh_spark.functions.textfns import tokens
    from docker_aktin_dwh_spark.operators.textops import bpe_train

    wf = (catalog.load(spark, SF_SMOKE, "documents")
          .select(F.explode(tokens("text")).alias("token"))
          .groupBy("token").agg(F.count("*").alias("freq")))
    got = bpe_train(wf, 12)

    freqs = {r.token: r.freq for r in wf.collect()}
    assert got == _reference_bpe(freqs, 12)
    assert len(got) == 12


def test_resize_nearest_pixel_exact():
    """Resampling is pixel-exact against an independently computed
    gradient: out(y,x) must equal src(y*h//OH, x*w//OW)."""
    from docker_aktin_dwh_spark.functions import png as pnglib

    w, h = 19, 23
    px = bytes((x + 3 * y + 7) % 256 for y in range(h) for x in range(w))
    out = pnglib.resize_nearest(px, w, h, 1, 8, 8)
    for y in range(8):
        for x in range(8):
            sx, sy = (x * w) // 8, (y * h) // 8
            assert out[y * 8 + x] == (sx + 3 * sy + 7) % 256
    # RGB: channel triples move together
    rgb = bytes(v for y in range(4) for x in range(4)
                for v in (x, y, x + y))
    r2 = pnglib.resize_nearest(rgb, 4, 4, 3, 2, 2)
    assert list(r2[:3]) == [0, 0, 0] and list(r2[3:6]) == [2, 0, 2]


def test_media_features_dispatches_mixed_batch(spark):
    """One Arrow batch holding PNG, WAV, unknown AND JPEG payloads
    must dispatch per payload — each row through its own codec."""
    from docker_aktin_dwh_spark.operators import multimodal as mm

    d = (catalog.load(spark, SF_SMOKE, "documents")
         .filter(F.col("doc_id") < 40).select("doc_id", "text"))
    rows = {r.doc_id: r for r in
            mm.media_features(mm.synth_mixed_media(d)
                              .repartition(1)).collect()}
    assert len(rows) == 40
    for did, r in rows.items():
        expect = ("image/png", "audio/wav", "binary/unknown",
                  "image/jpeg")[did % 4]
        assert r.kind == expect, (did, r.kind)
        assert 0.0 <= r.feat <= 1.0


# ------------------------------------------- codec property tests

from hypothesis import given, settings, strategies as st


@settings(max_examples=25, deadline=None)
@given(
    w=st.integers(1, 12), h=st.integers(1, 12),
    ch=st.sampled_from([1, 3, 4]), flt=st.integers(0, 4),
    data=st.data())
def test_png_roundtrip_property(w, h, ch, flt, data):
    """decode(encode(px)) == px for arbitrary pixel content, every
    channel count and scanline filter."""
    from docker_aktin_dwh_spark.functions import png as pnglib

    px = bytes(data.draw(st.lists(st.integers(0, 255),
                                  min_size=w * h * ch,
                                  max_size=w * h * ch)))
    out = pnglib.decode_png(pnglib.encode_png(px, w, h, ch,
                                              filter_type=flt))
    assert out == (w, h, ch, px)


@settings(max_examples=25, deadline=None)
@given(
    n=st.integers(1, 40), ch=st.sampled_from([1, 2]),
    width=st.sampled_from([1, 2]), rate=st.sampled_from([8000, 44100]),
    extra=st.one_of(st.none(), st.binary(max_size=9)),
    data=st.data())
def test_wav_roundtrip_property(n, ch, width, rate, extra, data):
    """decode(encode(samples)) is the identity for arbitrary PCM
    content across widths/channels, with and without metadata chunks
    (incl. odd-length padding cases)."""
    from docker_aktin_dwh_spark.functions import wav as wavlib

    lo, hi = (-128, 127) if width == 1 else (-32768, 32767)
    samples = data.draw(st.lists(st.integers(lo, hi),
                                 min_size=n * ch, max_size=n * ch))
    p = wavlib.encode_wav(samples, rate, ch, width, extra_chunk=extra)
    assert wavlib.decode_wav(p) == (rate, ch, width, samples)


@settings(max_examples=25, deadline=None)
@given(w=st.integers(1, 24), h=st.integers(1, 24),
       mode=st.sampled_from(["random", "gradient", "constant"]),
       data=st.data())
def test_gif_roundtrip_property(w, h, mode, data):
    """decode(encode(indices)) == indices for arbitrary pixel content
    through the GIF container AND the hand-rolled variable-width LZW
    bit stream (code-size widening boundaries included — random
    256-symbol content crosses 2^9..2^11 quickly)."""
    from docker_aktin_dwh_spark.functions import gif as giflib

    if mode == "random":
        px = bytes(data.draw(st.lists(st.integers(0, 255),
                                      min_size=w * h, max_size=w * h)))
    elif mode == "gradient":
        px = bytes((x + 5 * y) % 256 for y in range(h) for x in range(w))
    else:
        px = bytes([data.draw(st.integers(0, 255))]) * (w * h)
    got = giflib.decode_gif(giflib.encode_gif(px, w, h))
    assert got[:3] == (w, h, px)


@settings(max_examples=20, deadline=None)
@given(w=st.integers(1, 20), h=st.integers(1, 20),
       k=st.sampled_from([1, 2, 4, 6, 8]), data=st.data())
def test_gif_interlace_and_small_palette_roundtrip(w, h, k, data):
    """r9 scope closures, property-tested together: encode→decode is
    the identity for every palette size 2^k (k=1..8, LZW min code
    size floored at 2 per spec) and for INTERLACED frames (stored in
    4-pass row order, de-interlaced on decode) — interlaced and
    sequential encodings of the same pixels must decode equal."""
    from docker_aktin_dwh_spark.functions import gif as giflib

    n_colors = 2 ** k
    px = bytes(data.draw(st.lists(st.integers(0, n_colors - 1),
                                  min_size=w * h, max_size=w * h)))
    pal = bytes(v for i in range(n_colors)
                for v in ((i * 7) % 256, (i * 11) % 256, (i * 13) % 256))
    plain = giflib.decode_gif(giflib.encode_gif(px, w, h, palette=pal))
    inter = giflib.decode_gif(
        giflib.encode_gif(px, w, h, palette=pal, interlace=True))
    assert plain[:3] == (w, h, px)
    assert inter[:3] == (w, h, px)
    assert plain[3] == inter[3] == pal


def test_gif_small_palette_index_guard():
    """An index outside a small palette raises before any bytes are
    written (never silently wraps into a wrong color)."""
    import pytest as _pytest

    from docker_aktin_dwh_spark.functions import gif as giflib

    pal4 = bytes(12)
    with _pytest.raises(ValueError, match="out of range"):
        giflib.encode_gif(bytes([0, 1, 2, 5]), 2, 2, palette=pal4)
    with _pytest.raises(ValueError, match="palette"):
        giflib.encode_gif(bytes(4), 2, 2, palette=bytes(9))


def test_gif_lzw_table_full_and_kwkwk():
    """The two classic LZW killers, deterministically: (a) a stream
    long/diverse enough to FILL the 4096-entry table (the encoder
    stops adding, the decoder's one-behind dictionary must stay in
    sync through the 9→10→11→12-bit widenings and beyond), and (b)
    the KwKwK pattern where the decoder receives a code it has not
    defined yet (aaa... runs)."""
    import random as _r

    from docker_aktin_dwh_spark.functions import gif as giflib

    rng = _r.Random(13)
    big = bytes(rng.randrange(256) for _ in range(90_000))
    assert giflib._lzw_decompress(giflib._lzw_compress(big, 8), 8) == big

    kwkwk = b"\x05" * 500 + bytes([1, 1, 2, 1, 1, 2, 1, 1, 2]) * 30
    assert (giflib._lzw_decompress(giflib._lzw_compress(kwkwk, 8), 8)
            == kwkwk)
    # min_code_size 2: widenings start immediately (4-entry alphabet)
    tiny = bytes(rng.randrange(4) for _ in range(3000))
    assert (giflib._lzw_decompress(giflib._lzw_compress(tiny, 2), 2)
            == tiny)


def test_gif_decode_rejects_malformed():
    """Honesty guards: bad signatures and truncated LZW raise
    ValueError, extension blocks are skipped correctly, and flipping
    the interlace bit on a sequentially-stored frame yields exactly
    the de-interlace row permutation (the decoder applies the 4-pass
    mapping, r9 — previously a NotImplementedError guard)."""
    import struct as _struct

    import pytest as _pytest

    from docker_aktin_dwh_spark.functions import gif as giflib

    px = bytes(range(16))
    good = giflib.encode_gif(px, 4, 4)
    with _pytest.raises(ValueError, match="signature"):
        giflib.decode_gif(b"NOTGIF" + good[6:])
    # flip the interlace bit in the image descriptor (fixed offset:
    # 6 header + 7 screen descriptor + 768 global color table — the
    # palette itself contains 0x2C bytes, so no searching)
    idesc = 6 + 7 + 768
    assert good[idesc] == 0x2C
    tampered = bytearray(good)
    tampered[idesc + 9] |= 0x40
    _, _, deint, _ = giflib.decode_gif(bytes(tampered))
    for i, r in enumerate(giflib._interlace_rows(4)):
        assert deint[r * 4:(r + 1) * 4] == px[i * 4:(i + 1) * 4]
    # graphic-control extension before the frame is skipped
    ext = b"\x21\xF9\x04\x00\x00\x00\x00\x00"
    with_ext = good[:idesc] + ext + good[idesc:]
    assert giflib.decode_gif(with_ext)[:3] == (4, 4, px)
    # truncated sub-block data → either short-pixel or parse error
    with _pytest.raises(ValueError):
        giflib.decode_gif(good[:idesc + 12])
    # undersized LZW payload is detected, not padded
    short = giflib.encode_gif(px[:8], 4, 2)
    w, h, _, _ = giflib.decode_gif(short)
    assert (w, h) == (4, 2)
    _struct.calcsize("<H")  # keep struct import honest


def test_animated_gif_frame_sample_walks_every_frame(spark):
    """mm_vid's multi-frame walk at smoke scale: the container holds
    exactly the contract's frame count, the sampler keeps only even
    frame indices, and a spot pixel of a NON-first frame matches the
    per-frame formula (so the walk really advances through the LZW
    streams instead of re-reading frame 0)."""
    from docker_aktin_dwh_spark.functions import gif as giflib
    from docker_aktin_dwh_spark.operators import multimodal as MM

    d = (catalog.load(spark, SF_SMOKE, "documents")
         .filter(F.col("doc_id").isin(2, 3)).select("doc_id"))
    payloads = {r.doc_id: bytes(r.payload)
                for r in MM.synth_vid_media(d).collect()}
    for did, payload in payloads.items():
        w, h, frames, pal = giflib.decode_gif_frames(payload)
        assert len(frames) == 2 + did % 4
        f = len(frames) - 1
        assert frames[f][0] == (0 + 0 + 2 * did + 7 * f) % 256
    rows = MM.vid_frame_sample(MM.synth_vid_media(d)).collect()
    assert rows and all(r.frame_idx % 2 == 0 for r in rows)
    got = {(r.doc_id, r.frame_idx) for r in rows}
    want = {(did, fi) for did in (2, 3)
            for fi in range(0, 2 + did % 4, MM.VID_SAMPLE_EVERY)}
    assert got == want


def test_synth_gif_pipeline_decodes_to_contract(spark):
    """The declared mm_gif lane end to end at smoke scale: synthesized
    GIF bytes decode back to the analytic gradient contract (spot
    pixel values recomputed in Python, not just the aggregate luma)."""
    from docker_aktin_dwh_spark.functions import gif as giflib
    from docker_aktin_dwh_spark.operators import multimodal as MM

    d = (catalog.load(spark, SF_SMOKE, "documents")
         .filter(F.col("doc_id") < 5).select("doc_id"))
    rows = MM.synth_gif_media(d).collect()
    assert len(rows) == 5
    for r in rows:
        did = r.doc_id
        w, h, idx, pal = giflib.decode_gif(bytes(r.payload))
        assert (w, h) == (16 + (did * 3) % 16, 16 + (did * 5) % 16)
        for (x, y) in ((0, 0), (w - 1, h - 1), (w // 2, h // 3)):
            assert idx[y * w + x] == (x + 5 * y + 2 * did) % 256


@settings(max_examples=25, deadline=None)
@given(w=st.integers(1, 10), h=st.integers(1, 10),
       ow=st.integers(1, 10), oh=st.integers(1, 10),
       ch=st.sampled_from([1, 3]), data=st.data())
def test_resize_nearest_property(w, h, ow, oh, ch, data):
    """Every output pixel equals the floor-mapped source pixel, for any
    input/output geometry."""
    from docker_aktin_dwh_spark.functions import png as pnglib

    px = bytes(data.draw(st.lists(st.integers(0, 255),
                                  min_size=w * h * ch,
                                  max_size=w * h * ch)))
    out = pnglib.resize_nearest(px, w, h, ch, ow, oh)
    assert len(out) == ow * oh * ch
    for y in range(oh):
        for x in range(ow):
            sx, sy = (x * w) // ow, (y * h) // oh
            src = px[(sy * w + sx) * ch:(sy * w + sx + 1) * ch]
            assert out[(y * ow + x) * ch:(y * ow + x + 1) * ch] == src


def test_bpe_encode_matches_sequential_replay_reference(spark):
    """The rank-greedy encoder must equal an independent sequential-
    replay reference (each merge applied to exhaustion in rank order —
    equivalent because applying merges in rank order can never create
    a lower-rank pair: merged symbols only appear as components of
    LATER merges)."""
    from docker_aktin_dwh_spark.functions.textfns import tokens as tks
    from docker_aktin_dwh_spark.operators.textops import (
        bpe_encode_counts, bpe_train)

    d = (catalog.load(spark, SF_SMOKE, "documents")
         .filter(F.col("doc_id") < 120).select("doc_id", "text"))
    wf = (d.select(F.explode(tks("text")).alias("token"))
           .groupBy("token").agg(F.count("*").alias("freq")))
    merges = bpe_train(wf, 10)
    got = {r.doc_id: r.n_subwords
           for r in bpe_encode_counts(d, merges).collect()}

    def ref_encode(word):
        syms = list(word)
        for l, r in merges:               # sequential replay, rank order
            while True:
                out, i, hit = [], 0, False
                while i < len(syms):
                    if (i + 1 < len(syms) and syms[i] == l
                            and syms[i + 1] == r):
                        out.append(l + r)
                        i += 2
                        hit = True
                    else:
                        out.append(syms[i])
                        i += 1
                syms = out
                if not hit:
                    break
        return len(syms)

    rows = d.collect()
    assert got and all(
        got[r.doc_id] == sum(ref_encode(w) for w in r.text.split())
        for r in rows)
    # compression is real: multi-char subwords reduce counts somewhere
    n_tok = {r.doc_id: len(r.text.split()) for r in rows}
    n_char = {r.doc_id: sum(len(w) for w in r.text.split()) for r in rows}
    assert all(n_tok[i] <= got[i] <= n_char[i] for i in got)
    assert any(got[i] < n_char[i] for i in got)


def test_media_features_triage_never_fails_the_batch(spark):
    """Corrupt-but-sniffable payloads (PNG magic + garbage, WAV header
    with float PCM or zero rate) must triage to the stub lane, not
    fail the task — the 'never an error' landing-zone contract."""
    import struct

    from docker_aktin_dwh_spark.functions import png as pnglib
    from docker_aktin_dwh_spark.operators import multimodal as mm

    fmt3 = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)
    float_wav = (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt3) + 8)
                 + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt3)) + fmt3
                 + b"data" + struct.pack("<I", 0))
    fmt0 = struct.pack("<HHIIHH", 1, 1, 0, 0, 2, 16)
    zero_rate = (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt0) + 8)
                 + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt0)) + fmt0
                 + b"data" + struct.pack("<I", 0))
    rows = [(1, pnglib.SIGNATURE + b"garbage"),   # truncated PNG
            (2, float_wav),                        # unsupported PCM
            (3, zero_rate),                        # malformed header
            (4, b"plainly not media")]
    media = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: r.kind for r in mm.media_features(media).collect()}
    assert got == {1: "binary/unknown", 2: "binary/unknown",
                   3: "binary/unknown", 4: "binary/unknown"}


def test_codec_guards_reject_malformed_inputs():
    import struct

    import pytest as _pytest

    from docker_aktin_dwh_spark.functions import png as pnglib
    from docker_aktin_dwh_spark.functions import wav as wavlib

    # short pixel buffer fails fast instead of silently truncating
    with _pytest.raises(ValueError, match="pixel buffer"):
        pnglib.resize_nearest(b"\x01\x02", 4, 4, 1, 2, 2)
    # zero sample rate is rejected at decode, not at stats division
    fmt0 = struct.pack("<HHIIHH", 1, 1, 0, 0, 2, 16)
    p = (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt0) + 8) + b"WAVE"
         + b"fmt " + struct.pack("<I", len(fmt0)) + fmt0
         + b"data" + struct.pack("<I", 0))
    with _pytest.raises(ValueError, match="invalid fmt"):
        wavlib.decode_wav(p)


def test_er_finds_every_planted_variant_pair(spark):
    """Blocked ER recall on the planted defects: every variant record
    must pair with its original at the planted edit distance (the
    blocking key is designed to keep variants in the original's
    block, so a miss means the blocking or distance gate broke)."""
    from docker_aktin_dwh_spark.operators import entity as E

    sf = SF_SMOKE
    c = catalog.load(spark, sf, "customer")
    offset = c.agg(F.max("c_custkey")).first()[0] + 1
    pairs = {(r.i, r.j): r.dist for r in E.er_01(spark, sf).collect()}
    planted1 = [k for k in range(0, offset - 1, E.ER_VARIANT_STRIDE)]
    planted2 = [k for k in range(0, offset - 1, E.ER_VARIANT2_STRIDE)]
    assert planted1 and planted2
    for k in planted1:
        assert pairs.get((k, k + offset)) == 1, f"variant of {k} missed"
    for k in planted2:
        assert pairs.get((k, k + 2 * offset)) == 2, \
            f"2-char variant of {k} missed"


def test_cms_small_width_collides_but_never_undercounts(spark):
    """The CMS contract's collision side, exercised for real: at W=32
    the fixture vocabulary MUST collide with some query cell (est >
    exact somewhere — an overcount that never happens at the declared
    W=1024), while est ≥ exact holds for every query (CMS can only
    overcount) and the ε-bound still holds (ε = 4e/32 is generous)."""
    from docker_aktin_dwh_spark.operators.textops import cms_frame

    rows = cms_frame(spark, SF_SMOKE, w=32).collect()
    assert rows
    assert all(r.ge_exact for r in rows)
    assert all(r.within_bound for r in rows)
    assert any(r.est > r.exact for r in rows), \
        "no collision at W=32 — the overcount arm is untested"


def test_tok01_budget_respected_and_maximal(spark):
    """tok_01 semantics: the realized fraction never exceeds the
    budget, the selection is MAXIMAL in whole score-groups (admitting
    the next-longest excluded group would blow the budget), and the
    threshold admits by length (selected docs are the longest)."""
    from docker_aktin_dwh_spark.operators.packing import (TOK_BUDGET_FRAC,
                                                          tok_01)
    from docker_aktin_dwh_spark.functions.textfns import tokens as _tok

    rows = {r.lang: r for r in tok_01(spark, SF_SMOKE).collect()}
    assert rows
    d = catalog.load(spark, SF_SMOKE, "documents").select(
        "lang", F.size(_tok("text")).alias("n_tok"))
    g = {(r.lang, r.n_tok): r.toks for r in
         d.groupBy("lang", "n_tok").agg(F.sum("n_tok").alias("toks"))
          .collect()}
    totals = {}
    for (lang, n_tok), toks in g.items():
        totals[lang] = totals.get(lang, 0) + toks
    for lang, r in rows.items():
        assert r.budget_frac <= TOK_BUDGET_FRAC
        assert r.tokens_sel <= TOK_BUDGET_FRAC * totals[lang]
        # next excluded group (longest n_tok below the threshold)
        below = [nt for (lg, nt) in g if lg == lang and nt < r.thr_tokens]
        if below:
            nxt = max(below)
            assert (r.tokens_sel + g[(lang, nxt)]
                    > TOK_BUDGET_FRAC * totals[lang]), \
                f"{lang}: selection not maximal"


def test_vq_quantization_error_bounded_and_nonzero(spark):
    """vq_01 semantics: the uint8 round-trip loses SOMETHING (mean
    error strictly positive — a zero-error quantizer certifies
    nothing) but never more than half a quantization step per
    dimension (the round-to-nearest construction bound), for every
    label group."""
    from docker_aktin_dwh_spark.operators.similarity import vq_01

    rows = vq_01(spark, SF_SMOKE).collect()
    assert rows
    assert all(r.within_half_step for r in rows)
    assert all(r.mean_err_ppm > 0 for r in rows)


def test_er2_second_pass_recovers_what_pass1_misses(spark):
    """The multi-pass recall lever (VERDICT r7 item 5): the char-11
    variant's edit falls INSIDE pass 1's blocking prefix, so
    single-pass blocking provably misses it (asserted on a pass-1-only
    run over the same dirty frame), while er_02's second blocking key
    recovers every one at distance 1 — and er_02 still finds all of
    er_01's planted pairs."""
    from docker_aktin_dwh_spark.operators import entity as E

    sf = SF_SMOKE
    c = catalog.load(spark, sf, "customer")
    offset = c.agg(F.max("c_custkey")).first()[0] + 1
    planted3 = [k for k in range(0, offset - 1, E.ER_VARIANT3_STRIDE)]
    assert planted3

    d = E._dirty_customers_v3(spark, sf)
    s, ln = E.ER_PASS_SUBSTRINGS[0]
    block1 = F.concat_ws("|", F.col("c_nationkey").cast("string"),
                         F.substring("c_name", s, ln))
    pass1 = {(r.i, r.j) for r in E.blocked_pairs(
        d.select(F.col("c_custkey").alias("id"),
                 F.col("c_name").alias("name"), block1.alias("blk")))
        .filter(F.col("dist") <= E.ER_MAX_DIST).collect()}
    both = {(r.i, r.j): r.dist for r in E.er_02(spark, sf).collect()}
    for k in planted3:
        assert (k, k + 3 * offset) not in pass1, \
            f"pass 1 unexpectedly blocked the char-11 variant of {k}"
        assert both.get((k, k + 3 * offset)) == 1, \
            f"pass 2 missed the char-11 variant of {k}"
    er1 = {(r.i, r.j) for r in E.er_01(spark, sf).collect()}
    assert er1 <= set(both)


def test_bm25_ranking_is_anchored(spark):
    """BM25 sanity on the word-soup fixture: ranks are contiguous from
    1, scores weakly decrease within a query, and the top doc for a
    single term beats any doc without it (score > 0 filter)."""
    from docker_aktin_dwh_spark.operators import retrieval as R

    rows = R.bm25_01(spark, SF_SMOKE).collect()
    assert rows
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query, []).append(r)
    assert set(by_q) == {q for q, _ in R.BM25_QUERIES}
    for q, rs in by_q.items():
        ranks = [r.rank for r in rs]
        assert ranks == list(range(1, len(ranks) + 1)), q
        scores = [r.score for r in rs]
        assert scores == sorted(scores, reverse=True), q
        assert all(s > 0 for s in scores), q


def test_pagerank_conserves_mass_and_rewards_hubs(spark):
    """PageRank invariants on the near-dup graph: total rank mass is 1
    (symmetric graph has no dangling leak), every rank is positive,
    and the max-degree node's rank is at least the component's mean
    (hubs never rank below average)."""
    from docker_aktin_dwh_spark.operators import graph as G

    sf = SF_ORACLE
    edges = G._dup_edges(spark, sf)
    ranks = G.pagerank(edges)
    rows = ranks.collect()
    assert rows, "oracle fixture should yield near-dup pairs"
    total = sum(r.pr for r in rows)
    assert abs(total - 1.0) < 1e-4 * len(rows)
    assert all(r.pr > 0 for r in rows)
    deg = {r.src: r.n for r in
           edges.groupBy("src").agg(F.count("*").alias("n")).collect()}
    hub = max(deg, key=deg.get)
    pr = {r.v: r.pr for r in rows}
    assert pr[hub] >= total / len(rows)


def test_triangle_stats_planted_k4_and_chain(spark):
    """triangle_stats exact semantics on a hand-built graph: a K4 on
    {1,2,3,4} (every vertex in C(3,2)=3 triangles, degree 3) glued to
    a 3-chain 4-5-6-7 (borderline-match chain: degrees but ZERO
    triangles) plus one isolated edge (8,9).  The a<b<c ordered-wedge
    enumeration must count each K4 triangle exactly once per corner
    and give every chain/edge vertex n_tri=0."""
    from docker_aktin_dwh_spark.operators import graph as G

    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    chain = [(4, 5), (5, 6), (6, 7)]
    pairs = spark.createDataFrame(k4 + chain + [(8, 9)], ["i", "j"])
    got = {r.doc_id: (r.degree, r.n_tri)
           for r in G.triangle_stats(pairs).collect()}
    assert got == {1: (3, 3), 2: (3, 3), 3: (3, 3), 4: (4, 3),
                   5: (2, 0), 6: (2, 0), 7: (1, 0),
                   8: (1, 0), 9: (1, 0)}


def test_tri01_fixture_invariants(spark):
    """tri_01 on the oracle fixture: every doc in a near-dup pair
    appears, degree equals its pair-incidence count, total triangle
    corners divide by 3 (each triangle contributes exactly 3), and at
    least one triangle exists (the fixture's replica clusters of size
    ≥ 3 are mutually near-dup ⇒ K3+)."""
    from docker_aktin_dwh_spark.operators import graph as G
    from docker_aktin_dwh_spark.operators.dedup import (
        JACCARD_THRESHOLD, minhash_dedup_pairs)

    rows = G.tri_01(spark, SF_ORACLE).collect()
    assert rows
    docs = catalog.load(spark, SF_ORACLE, "documents")
    pairs = minhash_dedup_pairs(docs, JACCARD_THRESHOLD).collect()
    inc = {}
    for p in pairs:
        inc[p.i] = inc.get(p.i, 0) + 1
        inc[p.j] = inc.get(p.j, 0) + 1
    assert {r.doc_id for r in rows} == set(inc)
    assert all(r.degree == inc[r.doc_id] for r in rows)
    corners = sum(r.n_tri for r in rows)
    assert corners % 3 == 0
    assert corners > 0


def test_phash63_brightness_invariance_and_sensitivity():
    """pHash contract (no Spark needed): a uniform brightness shift
    moves ONLY the DC coefficient, so the 63-bit hash is identical;
    replacing the content scatters ~half the bits; a single-cell
    local edit stays within the banding budget (≤ PH_MAX_HAMMING)."""
    from docker_aktin_dwh_spark.functions.phash import phash63
    from docker_aktin_dwh_spark.operators.multimodal import (
        PH_MAX_HAMMING, _phash_pixels)

    # clip-free image (values ≤ 205): +50 brightness is a pure DC
    # shift → hash must be bit-identical
    import hashlib as _hl

    w0 = h0 = 24
    tex = bytes(_hl.md5(f"b:{i // 4}".encode()).digest()[0] % 206
                for i in range(w0 * h0))
    assert phash63(w0, h0, 1, bytes(b + 50 for b in tex)) == \
        phash63(w0, h0, 1, tex)
    px, w, h = _phash_pixels(7, "orig")
    base = phash63(w, h, 1, px)
    near, _, _ = _phash_pixels(7, "near")
    far, _, _ = _phash_pixels(7, "far")
    d_near = bin(base ^ phash63(w, h, 1, near)).count("1")
    d_far = bin(base ^ phash63(w, h, 1, far)).count("1")
    assert d_near <= PH_MAX_HAMMING
    assert d_far > 2 * PH_MAX_HAMMING


def test_mm_phash_planted_truth_table(spark):
    """mm_phash end to end at smoke scale: every near-variant pair is
    recovered through decode → DCT → banding → Hamming filter, every
    far variant stays unpaired."""
    from docker_aktin_dwh_spark.operators import multimodal as M

    rows = M.mm_phash(spark, SF_SMOKE).collect()
    near = [r for r in rows if r.kind == "near"]
    far = [r for r in rows if r.kind == "far"]
    assert near and far
    assert all(r.paired for r in near)
    assert not any(r.paired for r in far)


def test_ded_embed2_recovers_every_planted_pair_and_nothing_else(spark):
    """The LSH-bucketed embedding near-dup path: EVERY planted
    (original, perturbed) pair is recovered — deterministic signatures
    make this a fixed fact, not a probability — and nothing else
    qualifies (no natural 64-dim random pair reaches cos 0.99); the
    bucket guard raises on a degenerate all-identical corpus."""
    import pytest as _pytest

    from docker_aktin_dwh_spark.operators import dedup as D

    emb = catalog.load(spark, SF_SMOKE, "embeddings")
    mx = emb.agg(F.max("vec_id")).first()[0]
    offset = mx + 1
    pairs = {(r.i, r.j) for r in D.ded_embed2(spark, SF_ORACLE).collect()}
    planted = {(k, k + offset)
               for k in range(0, mx + 1, D.EMBED2_STRIDE)}
    assert pairs == planted
    # guard: 500 identical vectors → one corpus-sized bucket per table
    one = emb.limit(1).select("embedding")
    degen = (spark.range(500).select(
        F.col("id").alias("vec_id")).crossJoin(one))
    with _pytest.raises(ValueError, match="bucket"):
        D.embed_lsh_pairs(degen, D.EMBED2_TAU, max_bucket=100).count()


def test_bloom_prune_no_false_negatives_and_fp_arm(spark):
    """Bloom semi-join invariants: (a) at production bits the pruned
    candidate set equals the exact semi-join (every match survives);
    (b) with the bitset squeezed to 2048 bits (~52% fill → ~4% FP
    rate per probe) false positives MUST appear and the exact join
    removes every one — blm_01's final result is identical under
    both configurations."""
    from docker_aktin_dwh_spark.operators import bloomjoin as B

    cust = (catalog.load(spark, SF_ORACLE, "customer")
            .filter(F.col("c_mktsegment") == "BUILDING")
            .select("c_custkey"))
    orders = catalog.load(spark, SF_ORACLE, "orders")
    exact = orders.join(cust, orders.o_custkey == cust.c_custkey,
                        "semi")
    n_exact = exact.count()
    cand = B.bloom_prune(orders, "o_custkey",
                         B.bloom_words(cust, "c_custkey"))
    assert cand.count() == n_exact          # FP-free at 2^17 bits
    tiny = B.bloom_prune(orders, "o_custkey",
                         B.bloom_words(cust, "c_custkey", bits=2048),
                         bits=2048)
    n_tiny = tiny.count()
    assert n_tiny > n_exact                  # FPs really occur
    assert n_tiny < orders.count()           # but still prunes a bit
    kept = tiny.join(cust, tiny.o_custkey == cust.c_custkey, "semi")
    assert kept.count() == n_exact           # exact join removes FPs


def test_global_rank_matches_single_partition_window(spark):
    """functions/ranking.py global_rank ≡ the single-partition
    row_number it replaces, on a shuffled 5k-row frame with string
    keys (ties broken by id, as the contract requires)."""
    from pyspark.sql import Window

    from docker_aktin_dwh_spark.functions.ranking import global_rank

    df = (spark.range(5000)
          .select(F.col("id"),
                  F.md5(F.col("id").cast("string")).substr(1, 3)
                   .alias("k"))
          .repartition(16))
    got = {r.id: r.rnk for r in global_rank(df, ["k", "id"]).collect()}
    w = Window.orderBy("k", "id")
    want = {r.id: r.rnk for r in
            df.withColumn("rnk", F.row_number().over(w)).collect()}
    assert got == want


def test_er03_recovers_suffix_edits_misses_sort_divergent(spark):
    """Sorted-neighborhood recall semantics on the planted master:
    every suffix-edit ('X' at char 18) pair IS recovered (sort gap
    ≤ ER_SNM_WINDOW by construction); the 'YY' variant — whose sort
    key diverges at char 17 toward the shared 'Customer#0000000YY'
    cluster — is recovered only INCIDENTALLY (an original whose id
    ends its hundred-block sits sort-adjacent to the YY cluster:
    4 of 31 at sf0.01), and the char-11 'Z' variant never — the
    locality trade-off blocking (er_01/er_02) covers, pinned rather
    than papered over."""
    from docker_aktin_dwh_spark.operators import entity as E

    c = catalog.load(spark, SF_ORACLE, "customer")
    mx = c.agg(F.max("c_custkey")).first()[0]
    offset = mx + 1
    pairs = {(r.i, r.j) for r in E.er_03(spark, SF_ORACLE).collect()}
    v1_expected = {(k, k + offset)
                   for k in range(E.ER_VARIANT_STRIDE, mx + 1,
                                  E.ER_VARIANT_STRIDE)}
    assert v1_expected <= pairs
    v2 = {(k, k + 2 * offset)
          for k in range(E.ER_VARIANT2_STRIDE, mx + 1,
                         E.ER_VARIANT2_STRIDE)}
    v3 = {(k, k + 3 * offset)
          for k in range(E.ER_VARIANT3_STRIDE, mx + 1,
                         E.ER_VARIANT3_STRIDE)}
    assert len(v2 & pairs) < len(v2) / 2     # incidental, not systematic
    assert not (v3 & pairs)


def test_kw01_rank_and_score_shape(spark):
    """kw_01 output contract: per doc ranks are 1..min(3, n_terms)
    with non-increasing scores, and the top-1 term of a verified
    sample beats every other term of that doc under an independent
    tf·idf recompute."""
    from collections import defaultdict

    from docker_aktin_dwh_spark.operators import textops as TX

    rows = TX.kw_01(spark, SF_ORACLE).collect()
    per = defaultdict(list)
    for r in rows:
        per[r.doc_id].append((r.rnk, r.term, r.score_s))
    assert per
    for doc, rs in per.items():
        rs.sort()
        assert [x[0] for x in rs] == list(range(1, len(rs) + 1)), doc
        scores = [x[2] for x in rs]
        assert scores == sorted(scores, reverse=True), doc


def test_er_block_guard_raises_on_degenerate_blocking_key(spark):
    """The blocked-pairs guard (ER_MAX_BLOCK): a degenerate blocking
    attribute — every record sharing one block — must RAISE with the
    refinement named, never run the corpus-sized quadratic; the same
    data under the cap still answers."""
    import pytest as _pytest

    from docker_aktin_dwh_spark.operators import entity as E

    c = catalog.load(spark, SF_SMOKE, "customer").limit(200)
    rec = c.select(F.col("c_custkey").alias("id"),
                   F.col("c_name").alias("name"),
                   F.lit("all-the-same").alias("blk"))
    with _pytest.raises(ValueError, match="blocking"):
        E.blocked_pairs(rec, max_block=100).count()
    assert E.blocked_pairs(rec, max_block=500).count() > 0


def test_mix2_temperature_flattens_language_distribution(spark):
    """mix_02 semantics: keep rates are monotonically DECREASING in
    language size (sqrt(min/n)), the smallest language keeps
    everything, and the kept distribution is strictly flatter than the
    raw one (max/min doc-count ratio shrinks)."""
    from docker_aktin_dwh_spark.operators.packing import MIX2_BITS, mix_02

    rows = mix_02(spark, SF_SMOKE).collect()
    assert len(rows) >= 2
    by_n = sorted(rows, key=lambda r: r.n_total)
    assert by_n[0].keep_thr == MIX2_BITS          # smallest keeps all
    assert by_n[0].n_kept == by_n[0].n_total
    thrs = [r.keep_thr for r in by_n]
    assert thrs == sorted(thrs, reverse=True), thrs
    raw_ratio = by_n[-1].n_total / by_n[0].n_total
    kept_ratio = by_n[-1].n_kept / max(by_n[0].n_kept, 1)
    assert kept_ratio < raw_ratio


# ----------------------------------------------------------- JPEG codec

@settings(max_examples=20, deadline=None)
@given(w=st.integers(1, 40), h=st.integers(1, 40),
       mode=st.sampled_from(["random", "gradient", "constant"]),
       data=st.data())
def test_jpeg_roundtrip_bounded_error(w, h, mode, data):
    """With quant ≡ 1 the baseline round-trip error is bounded by the
    DCT's coefficient-rounding (≤ ±1 per pixel in practice; we pin
    ≤ 2): arbitrary content exercises the full AC huffman path —
    run-lengths, ZRL, EOB, magnitude categories — and odd dimensions
    exercise edge-replication padding."""
    from docker_aktin_dwh_spark.functions import jpeg as J

    if mode == "random":
        px = bytes(data.draw(st.lists(st.integers(0, 255),
                                      min_size=w * h, max_size=w * h)))
    elif mode == "gradient":
        px = bytes((3 * x + 7 * y) % 256 for y in range(h)
                   for x in range(w))
    else:
        px = bytes([data.draw(st.integers(0, 255))]) * (w * h)
    dw, dh, nc, dec = J.decode_baseline_jpeg(
        J.encode_baseline_jpeg(px, w, h))
    assert (dw, dh, nc) == (w, h, 1)
    assert max(abs(a - b) for a, b in zip(px, dec)) <= 2


def test_jpeg_restart_markers_reset_dc_predictor():
    """DRI/RSTn: the encoder emits restart markers every N MCUs and
    the decoder must realign to a byte boundary AND reset the DC
    predictors — a decoder that keeps the predictor across a restart
    decodes garbage from the second interval on."""
    from docker_aktin_dwh_spark.functions import jpeg as J

    w, h = 48, 8
    px = bytes((x // 8 * 40 + 20) % 256 for y in range(h)
               for x in range(w))
    enc = J.encode_baseline_jpeg(px, w, h, restart_interval=2)
    assert any(bytes([0xFF, 0xD0 + i]) in enc for i in range(8))
    assert J.decode_baseline_jpeg(enc)[3] == px


def test_jpeg_color_roundtrip_bounded():
    """3-component paths: 4:4:4 error comes only from YCbCr integer
    rounding (≤ ±2/channel); 4:2:0 adds chroma averaging over smooth
    content (≤ ±4 on a gentle gradient).  Both exercise interleaved
    MCU ordering and the chroma quant/huffman table selectors."""
    from docker_aktin_dwh_spark.functions import jpeg as J

    w, h = 20, 12
    rgb = bytes(v for y in range(h) for x in range(w)
                for v in (40 + 2 * x, 60 + 3 * y, 50 + x + y))
    _, _, nc, dec = J.decode_baseline_jpeg(
        J.encode_baseline_jpeg(rgb, w, h, ncomp=3))
    assert nc == 3
    assert max(abs(a - b) for a, b in zip(rgb, dec)) <= 2

    _, _, nc2, dec2 = J.decode_baseline_jpeg(
        J.encode_baseline_jpeg(rgb, w, h, ncomp=3, subsample=True))
    assert nc2 == 3
    assert max(abs(a - b) for a, b in zip(rgb, dec2)) <= 4


def test_jpeg_decoder_reads_tables_from_stream_and_guards():
    """Honesty guards: the decoder trusts the stream's own DQT/DHT (a
    doubled quant table in the stream visibly scales the output);
    progressive SOF2 raises NotImplementedError; truncated entropy
    data and missing SOI raise ValueError."""
    import struct as _struct

    import pytest as _pytest

    from docker_aktin_dwh_spark.functions import jpeg as J

    w, h = 16, 16
    px = bytes(((x // 8) * 100 + 50) for y in range(h) for x in range(w))
    enc = J.encode_baseline_jpeg(px, w, h)
    assert J.decode_baseline_jpeg(enc)[3] == px

    # patch the DQT payload (all-ones -> all-twos): decoded intensities
    # must scale away from the original — proving tables come from the
    # stream, not from shared constants
    i = enc.index(b"\xff\xdb")
    patched = bytearray(enc)
    for k in range(i + 5, i + 5 + 64):
        patched[k] = 2
    dec2 = J.decode_baseline_jpeg(bytes(patched))[3]
    assert dec2 != px

    with _pytest.raises(ValueError, match="SOI"):
        J.decode_baseline_jpeg(b"XX" + enc[2:])
    with _pytest.raises(NotImplementedError, match="non-baseline"):
        sof = enc.index(b"\xff\xc0")
        J.decode_baseline_jpeg(enc[:sof] + b"\xff\xc2" + enc[sof + 2:])
    with _pytest.raises(ValueError):
        J.decode_baseline_jpeg(enc[:len(enc) // 2])


def test_jpeg_byte_stuffing_survives_ff_bytes():
    """Entropy streams that generate 0xFF bytes must be stuffed with
    0x00 and unstuffed on decode; white blocks (DC near max) and
    random noise reliably produce 0xFF-dense streams."""
    import random as _r

    from docker_aktin_dwh_spark.functions import jpeg as J

    rng = _r.Random(7)
    w, h = 32, 32
    px = bytes(rng.randrange(256) for _ in range(w * h))
    enc = J.encode_baseline_jpeg(px, w, h)
    dec = J.decode_baseline_jpeg(enc)[3]
    assert max(abs(a - b) for a, b in zip(px, dec)) <= 2
    white = b"\xff" * (w * h)
    assert J.decode_baseline_jpeg(
        J.encode_baseline_jpeg(white, w, h))[3] == white


def test_bpe_window_invariance_and_depth_bound(spark, monkeypatch):
    """VERDICT r9 item 5: the merge list must be INDEPENDENT of the
    materialization window (the window only flattens lineage), and the
    windowed fold must keep expression depth bounded — certified by
    running the same training with window 1 (checkpoint every round,
    the old discipline), 2 and BPE_MATERIALIZE_EVERY and getting
    byte-identical merges across several window boundaries."""
    from docker_aktin_dwh_spark.operators import textops

    wf = spark.createDataFrame(
        [("banana", 10), ("bandana", 7), ("cabana", 5), ("ban", 4),
         ("anab", 3), ("nana", 6), ("banab", 2), ("abba", 2)],
        "token string, freq long")
    runs = {}
    # window 2 vs the default: 9 rounds cross four boundaries at w=2
    # and one at w=8 — if windowing changed semantics these diverge
    # (w=1, the old checkpoint-every-round discipline, was also
    # verified equal when this landed; dropped from the suite as pure
    # wall-time)
    for w in (2, textops.BPE_MATERIALIZE_EVERY):
        monkeypatch.setattr(textops, "BPE_MATERIALIZE_EVERY", w)
        runs[w] = textops.bpe_train(wf, 9)
    assert runs[2] == runs[textops.BPE_MATERIALIZE_EVERY]
    assert len(runs[2]) >= 6    # the fixture really trains merges


@pytest.mark.skipif(os.environ.get("SPARK_GRAFT_SWEEP_ALL") != "1",
                    reason="4x-merge deep run: sweep-gated (~30 s)")
def test_bpe_train_4x_merges_matches_reference(spark):
    """VERDICT r9 item 5 'Done' criterion: bpe_train at 4x the declared
    merge count completes with the windowed materialization (plan depth
    bounded by BPE_MATERIALIZE_EVERY) and still matches the independent
    single-machine reference exactly."""
    from docker_aktin_dwh_spark.functions.textfns import tokens as _tk
    from docker_aktin_dwh_spark.operators.textops import (BPE_MERGES,
                                                          bpe_train)

    wf = (catalog.load(spark, SF_SMOKE, "documents")
          .select(F.explode(_tk("text")).alias("token"))
          .groupBy("token").agg(F.count("*").alias("freq")))
    got = bpe_train(wf, 4 * BPE_MERGES)
    freqs = {r.token: r.freq for r in wf.collect()}
    want = _reference_bpe(freqs, 4 * BPE_MERGES)
    assert got == want
    assert len(got) > BPE_MERGES        # trains well past the 1x count


# ----------------------------------------------------- pooled heavy four
# The four heaviest tests here are independent multi-second Spark
# pipelines (latency-bound, not CPU-bound at these fixture sizes) — a
# module fixture runs them through a thread pool against the shared
# session (the test_txnlog/test_streaming discipline; r11 suite-time
# guard), preserving per-test failure granularity.

_HEAVY_BODIES = {
    name[len("_hv_"):]: fn
    for name, fn in sorted(globals().items())
    if name.startswith("_hv_")
}


@pytest.fixture(scope="module")
def heavy_outcomes(spark, request):
    from concurrent.futures import ThreadPoolExecutor

    selected: set[str] = set()
    for item in request.session.items:
        if getattr(item, "module", None) is not request.module:
            continue
        cs = getattr(item, "callspec", None)
        if cs is not None and "hname" in cs.params:
            selected.add(cs.params["hname"])
    todo = [n for n in _HEAVY_BODIES if n in selected] if selected \
        else list(_HEAVY_BODIES)

    def run(name):
        try:
            _HEAVY_BODIES[name](spark)
            return None
        except BaseException as e:      # re-raised by the test
            return e

    with ThreadPoolExecutor(max_workers=4) as ex:
        return dict(zip(todo, ex.map(run, todo)))


@pytest.mark.parametrize("hname", list(_HEAVY_BODIES))
def test_llmops_heavy(heavy_outcomes, hname):
    err = heavy_outcomes[hname]
    if err is not None:
        raise err
