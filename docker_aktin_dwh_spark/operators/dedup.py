"""Deduplication operators for large-scale training-data pipelines.

Five strategies over the `documents` table, all expressed as DataFrame
ops with JVM-side hashing (xxhash64) — no Python in the per-row path:

- exact        hash-groupBy on raw text (ded_exact)
- n-gram Jaccard  exact pairwise via shingle-explode equi-join (ded_ngram)
- MinHash+LSH  shingle → 128 minhashes → 32 bands × 4 rows → bucket
               join → exact-Jaccard verification (ded_minhash)
- SimHash      64-bit signature, 8×8-bit band blocking, Hamming ≤ k
               verification (ded_simhash)
- embedding    EXACT cosine ≥ τ via blocked tile matmul, explicitly
               capped corpus (ded_embed — the bounded baseline), plus
               the certified unbounded path: LSH-bucketed candidates +
               exact-cosine verify (ded_embed2)

Scale notes (100 TB): every unbounded strategy is shuffle-on-key
(shingle, band hash, block byte) — never an all-pairs product.  The
exact-verification joins touch only candidate docs' rows.  Band/row
counts are chosen so a 0.9-Jaccard pair is missed with probability
< 1e-14 (32 bands of 4: (1 - 0.9^4)^32), and the signature-estimate
prune keeps a ≥5σ margin — which is what lets the MinHash path share
the exact brute-force oracle.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import catalog
from ..functions.barrier import materialize, scan_is_narrow, spread
from ..functions.textfns import SQL_SHINGLES3, SQL_TOKENS, shingles, tokens
from ..registry import QuerySpec
from ..session import local_frame

T = catalog.load

MERSENNE31 = 2_147_483_647  # 2^31 - 1, modulus for the hash family
N_PERM = 128
N_BANDS = 32
ROWS_PER_BAND = N_PERM // N_BANDS
JACCARD_THRESHOLD = 0.7
SIMHASH_BITS = 64
SIMHASH_BANDS = 8
HAMMING_MAX = 6

_rng = random.Random(42)
_PERM_A = [_rng.randrange(1, MERSENNE31) for _ in range(N_PERM)]
_PERM_B = [_rng.randrange(0, MERSENNE31) for _ in range(N_PERM)]


def _shingle_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) rows, distinct per doc.  Tokens bound to a
    column first (r12): shingles() slices the token expression n+1
    times — unbound, that is 4 regex tokenizes per row."""
    return (docs.select("doc_id", tokens("text").alias("_tk"))
                .select("doc_id",
                        F.explode(shingles(F.col("_tk"))).alias("s")))


def _shingle_hash_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, h) rows: 64-bit xxhash of each distinct shingle.

    Every downstream consumer (signature permutation, intersection
    join, size count) only needs shingle *identity*, so the string is
    hashed at the scan and never shuffled: at 100 TB the intersection
    self-join moves 8-byte longs instead of ~20-byte strings, and the
    checkpoint that feeds three subtrees shrinks the same way.  A
    cross-doc 64-bit collision perturbs a Jaccard count with
    probability ~n²/2⁶⁴ — far below the declared query's rounding."""
    return _shingle_rows(docs).select("doc_id", F.xxhash64("s").alias("h"))


# ------------------------------------------------------------------- exact

def ded_exact(spark, sf):
    """Exact dedup by content hash.  The fixture has no duplicate texts,
    so dup groups are constructed by unioning a slice of the corpus with
    itself — the operator's semantics stay the interesting part."""
    d = T(spark, sf, "documents").select("doc_id", "text")
    dupes = d.filter(F.col("doc_id") < 50)
    corpus = d.unionByName(dupes)
    return (corpus.groupBy(F.md5("text").alias("h"))
                  .agg(F.count("*").alias("n"), F.min("doc_id").alias("keep_id"))
                  .filter(F.col("n") > 1)
                  .orderBy("h"))


# ------------------------------------------------------- exact n-gram jaccard

#: ngram_jaccard_pairs is the declared EXACT baseline: its candidate
#: row count is Σ df(shingle)² — a shingle shared by k docs emits k²
#: join rows, so one hot shingle (boilerplate header, empty-ish doc) is
#: a quadratic hot key.  Like ded_embed's COSINE_MAX_VECS, the guards
#: RAISE (never silently drop) and point at the scale path.
NGRAM_MAX_DOCS = 200_000
NGRAM_MAX_DF = 20_000


def ngram_jaccard_pairs(docs: DataFrame, threshold: float,
                        max_docs: int = NGRAM_MAX_DOCS,
                        max_df: int = NGRAM_MAX_DF,
                        on_guard: str = "route") -> DataFrame:
    """All-pairs 3-gram Jaccard ≥ threshold via shingle equi-join.

    Shuffles on shingle hash (never doc×doc): pair candidates are
    generated only where a shingle co-occurs, then intersection counts
    aggregate per pair.  Returns (i, j, jac).  Eager checkpoint: `sh`
    feeds three subtrees that race within one job (see
    minhash_dedup_pairs).

    Guarded baseline with an EXACT escape (r10, the move that retires
    the refuse-at-scale weakness): corpora past ``max_docs`` docs or
    with a shingle document frequency past ``max_df`` would blow the
    Σ df² candidate volume — with ``on_guard="route"`` (default) the
    call transparently ROUTES to :func:`prefix_jaccard_pairs`, whose
    result is PROVABLY IDENTICAL (Bayardo prefix filtering is exact;
    losslessness proof in its docstring, equality pinned in tests), so
    semantics never change and nothing refuses.  ``on_guard="raise"``
    keeps the old explicit ValueError for callers that want the
    baseline or nothing (the guard-behavior tests pin both arms).
    The two guard aggregations are one-column jobs over the
    already-checkpointed 8-byte hash frame — noise next to the df²
    join they protect against.
    """
    sh = materialize(_shingle_hash_rows(docs))
    # both guard stats in ONE action (two shuffle branches over the
    # checkpointed 8-byte frame joined at 1 row each)
    stats = (sh.agg(F.countDistinct("doc_id").alias("n_docs"))
               .crossJoin(sh.groupBy("h").agg(F.count("*").alias("df"))
                            .agg(F.max("df").alias("top_df")))).head()
    if stats["n_docs"] > max_docs:
        if on_guard == "route":
            return prefix_jaccard_pairs(docs, threshold)
        raise ValueError(
            f"ngram_jaccard_pairs: corpus has {stats['n_docs']} docs > "
            f"cap {max_docs}; use prefix_jaccard_pairs (exact, prefix-"
            f"filtered) or minhash_dedup_pairs (banded LSH) — the "
            f"exact shingle self-join is quadratic in hot-shingle df")
    if stats["top_df"] is not None and stats["top_df"] > max_df:
        if on_guard == "route":
            return prefix_jaccard_pairs(docs, threshold)
        raise ValueError(
            f"ngram_jaccard_pairs: hottest shingle appears in "
            f"{stats['top_df']} docs > cap {max_df} (≥{stats['top_df']}² "
            f"candidate rows from one key); use prefix_jaccard_pairs "
            f"(same exact result — df ordering keeps hot shingles out "
            f"of every prefix) or minhash_dedup_pairs (banded LSH)")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = sh.select(F.col("doc_id").alias("i"), "h")
    b = sh.select(F.col("doc_id").alias("j"), "h")
    inter = (a.join(b, "h")
              .filter(F.col("i") < F.col("j"))
              .groupBy("i", "j").agg(F.count("*").alias("inter")))
    sa = sizes.select(F.col("doc_id").alias("i"), F.col("sz").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("j"), F.col("sz").alias("nb"))
    jac = (F.col("inter").cast("double")
           / (F.col("na") + F.col("nb") - F.col("inter")))
    return (inter.join(sa, "i").join(sb, "j")
                 .select("i", "j", jac.alias("jac"))
                 .filter(F.col("jac") >= threshold))


def ded_ngram(spark, sf):
    # NOT spread (r15, measured): the chain is all-JVM and the scan
    # tokenize is cheap next to the shingle self-join — the extra
    # exchange cost more than the scan-width bought (1.29 → 1.47 s)
    docs = T(spark, sf, "documents").filter(F.col("doc_id") < 2000)
    return (ngram_jaccard_pairs(docs, 0.8)
            .select("i", "j", F.round("jac", 3).alias("jac"))
            .orderBy("i", "j"))


# ------------------------------------------- prefix-filtered exact jaccard

def _prefix_frame(docs: DataFrame, threshold: float) -> DataFrame:
    """(doc_id, hs, sz, pre) — per-doc distinct shingle hashes sorted by
    ascending global document frequency (ties on hash value, so the
    order is a deterministic total order), plus the prefix slice whose
    length is  |x| − ⌈t·|x|⌉ + 1.

    The df-ascending order is the whole trick: a doc's prefix is its
    RAREST shingles, so corpus-wide boilerplate (the quadratic hot keys
    that force ngram_jaccard_pairs' raising guards) sorts to the END of
    every doc and never enters a prefix at all."""
    sh = materialize(_shingle_hash_rows(docs))
    df_tab = sh.groupBy("h").agg(F.count("*").alias("df"))
    # ceil(t·n) computed with a downward slack so float error can only
    # LENGTHEN the prefix (never loses a true pair; verify prunes FPs)
    plen = (F.col("sz")
            - F.ceil(F.col("sz") * F.lit(threshold) - F.lit(1e-9))
            + 1).cast("int")
    return (sh.join(df_tab, "h")
              .groupBy("doc_id")
              .agg(F.sort_array(
                   F.collect_list(F.struct("df", "h"))).alias("tk"))
              .select("doc_id",
                      F.col("tk.h").alias("hs"),
                      F.size("tk").alias("sz"))
              .withColumn("pre", F.slice("hs", F.lit(1), plen)))


def _prefix_candidates(pf: DataFrame, threshold: float) -> DataFrame:
    """Distinct (i, j) candidate pairs whose PREFIXES share a shingle
    and whose sizes pass the length filter min ≥ t·max (with the same
    prune-only float slack)."""
    pre = pf.select("doc_id", "sz", F.explode("pre").alias("h"))
    a = pre.select(F.col("doc_id").alias("i"), F.col("sz").alias("na"), "h")
    b = pre.select(F.col("doc_id").alias("j"), F.col("sz").alias("nb"), "h")
    return (a.join(b, "h")
             .filter((F.col("i") < F.col("j"))
                     & (F.least("na", "nb")
                        >= F.greatest("na", "nb") * F.lit(threshold)
                        - F.lit(1e-9)))
             .select("i", "j")
             .distinct())


def prefix_jaccard_pairs(docs: DataFrame, threshold: float) -> DataFrame:
    """EXACT all-pairs 3-gram Jaccard ≥ threshold via prefix filtering
    (Bayardo et al., "Scaling Up All Pairs Similarity Search", WWW'07;
    Chaudhuri's prefix-filter principle) — the unguarded exact-semantics
    scale path the ngram_jaccard_pairs guards point at.

    Losslessness (documented because the oracle identity rides on it):
    J(x,y) ≥ t ⟹ min ≥ t·max (since J ≤ min/max), so
    |x|+|y| ≥ (1+t)·max, and I = |x∩y| ≥ t·(|x|+|y|)/(1+t) ≥ t·max ≥
    ⌈t·|x|⌉ for BOTH docs (I is an integer).  If two sets share ≥ α
    elements under a common total order, their first |·|−α+1 elements
    must share one; with α = ⌈t·|x|⌉ per doc the prefix
    |x| − ⌈t·|x|⌉ + 1 is at least that long.  Hence every qualifying
    pair collides on some prefix shingle, candidates are exact-verified
    with array_intersect on the full per-doc hash arrays, and the
    result is IDENTICAL to the brute-force join — certified by running
    ded_ngram2 against ded_ngram's own exact oracle.

    Scale shape vs the guarded baseline: candidate volume drops from
    Σ df(shingle)² to Σ df_prefix(shingle)², and a corpus-wide hot
    shingle (df ≈ N, the Σ df² killer) contributes NOTHING because df
    ordering pushes it out of every prefix (pinned in tests with a
    300-doc shared-boilerplate corpus that trips the baseline's guard).
    Shuffles: one on shingle hash (df join), one doc groupBy, one
    prefix equi-join on 8-byte keys, one broadcast-ish verify probe of
    the per-doc array frame — never doc×doc."""
    pf = materialize(_prefix_frame(docs, threshold))
    cand = _prefix_candidates(pf, threshold)
    ha = pf.select(F.col("doc_id").alias("i"), F.col("hs").alias("ha"),
                   F.col("sz").alias("na"))
    hb = pf.select(F.col("doc_id").alias("j"), F.col("hs").alias("hb"),
                   F.col("sz").alias("nb"))
    inter = F.size(F.array_intersect("ha", "hb"))
    jac = (inter.cast("double")
           / (F.col("na") + F.col("nb") - inter))
    return (cand.join(ha, "i").join(hb, "j")
                .select("i", "j", jac.alias("jac"))
                .filter(F.col("jac") >= threshold))


def ded_ngram2(spark, sf):
    """Exact n-gram Jaccard dedup at scale: same query as ded_ngram,
    computed by prefix filtering instead of the full shingle self-join;
    shares ded_ngram's oracle verbatim, so the hash certifies the two
    plans compute the SAME pair set."""
    docs = spread(T(spark, sf, "documents")
                  .filter(F.col("doc_id") < 2000))
    return (prefix_jaccard_pairs(docs, 0.8)
            .select("i", "j", F.round("jac", 3).alias("jac"))
            .orderBy("i", "j"))


# ------------------------------------------------------------- MinHash + LSH

def doc_minhash_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, hs: array<long>, mh: array<long> of N_PERM) — ONE row
    per doc carrying both the distinct 64-bit shingle hashes and the
    MinHash signature, built in a single pass (shingle explode →
    collect_list hash agg → one Arrow numpy batch for all 128
    permutations; 128 separate min() aggregate buffers cost ~3× more
    in codegen'd evaluation, and minimum.reduceat measured 15× slower
    than the per-doc min(axis=0) broadcast).

    This frame is the whole dedup working set: banding and the
    signature-estimate read `mh`, exact-Jaccard verification reads
    `hs` via array_intersect — so candidate verification never
    re-shuffles shingle rows, it just probes this frame by doc_id
    (broadcast-hash when the candidate set is small, which LSH + the
    estimate prune keep it).  At 100 TB this row layout IS the
    persisted signature index an incremental pipeline maintains
    (see streaming/dedup_ingest.py)."""
    # r15 (guide §2.5/§2.4): on a small corpus the post-groupBy Arrow
    # minhash stage ran on ~1 core (AQE's byte-sized coalescing under
    # parallelismFirst=false shrinks the tiny shuffle to 1-2 tasks,
    # which is the wrong trade for a Python-heavy stage).  When the
    # corpus is narrow, pre-partition the shingle rows by doc_id at
    # core width — the groupBy reuses the user exchange (no extra
    # shuffle) and AQE does not coalesce it.  Wide corpora (the 100 TB
    # case) pass through untouched; callers with raw single-file scans
    # additionally spread the scan itself (ded_minhash/tri_01 — the
    # scan-side tokenize is the other single-core stage).  Measured:
    # full minhash chain 2.68 → 1.74 s warm at sf0.1, identical pairs.
    sh = _shingle_hash_rows(docs)
    if scan_is_narrow(docs):
        sh = sh.repartition(
            docs.sparkSession.sparkContext.defaultParallelism, "doc_id")
    per_doc = sh.groupBy("doc_id").agg(F.collect_list("h").alias("hs"))

    a = np.array(_PERM_A, dtype=np.int64)
    b = np.array(_PERM_B, dtype=np.int64)

    @F.pandas_udf("array<long>")
    def mh(hs: pd.Series) -> pd.Series:
        out = []
        for v in hs:
            # 31-bit fold of the 64-bit hash (numpy % matches pmod:
            # non-negative for positive modulus), then all 128
            # permutations in one broadcast.  int64 overflow-safe:
            # a < 2^31, x < 2^31 → a*x < 2^62.
            x = (np.asarray(v, dtype=np.int64) % MERSENNE31)[:, None]
            out.append(((a * x + b) % MERSENNE31).min(axis=0))
        return pd.Series(out)

    return per_doc.select("doc_id", "hs", mh("hs").alias("mh"))

MINHASH_INDEX_DDL = "doc_id bigint, hs array<bigint>, mh array<bigint>"


def _band_rows(sig: DataFrame) -> DataFrame:
    """(doc_id, band, bh) rows: one 64-bit hash per signature band."""
    bands = []
    for band in range(N_BANDS):
        # direct multi-arg hash of the band's longs: stays in codegen,
        # no interpreted HOF lambda, no string materialization
        cells = [F.element_at("mh", band * ROWS_PER_BAND + r + 1)
                 for r in range(ROWS_PER_BAND)]
        bands.append(F.struct(
            F.lit(band).alias("band"),
            F.xxhash64(*cells).alias("bh")))
    return (sig.select("doc_id", F.explode(F.array(*bands)).alias("b"))
               .select("doc_id", "b.band", "b.bh"))


def lsh_candidates(sig: DataFrame) -> DataFrame:
    """Band the (doc_id, mh array) signature and bucket-join: candidate
    pairs (i, j).

    ``sig`` must already be materialized (minhash_dedup_pairs
    checkpoints the per-doc frame): the two self-join sides then
    re-derive the banding lazily from the checkpoint — A/B-measured
    faster and lower-variance than a second barrier on the 32×-larger
    band frame (one fewer job, no extra executor storage; the
    re-derived banding is pure codegen over checkpointed rows).  A
    bucket-collect formulation (groupBy band → collect ids → explode
    in-bucket pairs) measured slower (interpreted HOF pair explode)."""
    banded = _band_rows(sig)
    a = banded.select(F.col("doc_id").alias("i"), "band", "bh")
    b = banded.select(F.col("doc_id").alias("j"), "band", "bh")
    return (a.join(b, ["band", "bh"])
             .filter(F.col("i") < F.col("j"))
             .select("i", "j").distinct())


#: Signature-estimate prune margin: P(est < J - 0.2 | true J ≥ 0.7) at
#: 128 permutations is a ≥5σ binomial tail (~5e-7 per pair).  The miss
#: budget is PER CANDIDATE PAIR, so the AGGREGATE budget is ~5e-7 × C
#: for C band-collision candidates: ~1e-3 expected misses at C = 10³
#: (this fixture), but no longer negligible at C ≈ 10⁹ (a 100 TB
#: corpus with heavy boilerplate).  Pipelines that need exact parity at
#: that scale pass estimate_prune=False to minhash_dedup_pairs — the
#: prune is a throughput optimization, never a semantic requirement;
#: with it off the only approximation left is the banding bound itself
#: ((1 − J⁴)³² ≈ 1e-15 per true pair at J = 0.9, which scales to ~1e-6
#: even at a billion true pairs).
EST_MARGIN = 0.2


def _sig_est() -> "F.Column":
    """Matching-minhash fraction of (mh_i, mh_j) — an unbiased Jaccard
    estimate evaluated in-row, no extra join or shuffle."""
    eq = F.aggregate(
        F.zip_with("mh_i", "mh_j",
                   lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0), lambda acc, x: acc + x)
    return eq / F.lit(N_PERM)


def _exact_jac() -> "F.Column":
    """Exact Jaccard of the 64-bit shingle-hash sets (hs_i, hs_j) via
    array_intersect — O(|hs_i| + |hs_j|) hash intersect per pair."""
    inter = F.size(F.array_intersect("hs_i", "hs_j"))
    return (inter.cast("double")
            / (F.size("hs_i") + F.size("hs_j") - inter))


def minhash_dedup_pairs(docs: DataFrame, threshold: float,
                        estimate_prune: bool = True) -> DataFrame:
    """LSH candidates → signature-estimate prune → exact Jaccard ≥
    threshold, all verification data carried on the per-doc frame.

    ``estimate_prune=False`` skips the in-row signature prune so every
    band-collision candidate is exact-verified — the exact-parity mode
    for corpora where the aggregate prune miss budget (see EST_MARGIN)
    stops being negligible.

    Cost shape (both at sf0.1 and at 100 TB):
    - ONE corpus pass builds (doc_id, hs, mh) — doc_minhash_frame;
      materialize() (eager barrier, functions/barrier.py) rather than
      persist() because the banding self-join sides race within one
      job and a lazy cache would compute the subtree twice;
    - candidates come from the banded self-join (shuffle on 8-byte
      band hash, never doc×doc);
    - verification joins candidates back to the per-doc frame by id
      (AQE broadcasts the candidate side — it is tiny next to the
      corpus), applies the in-row signature estimate first (discards
      the far-below-threshold bucket collisions without touching hs),
      then exact-verifies survivors with array_intersect.  The corpus
      frame is probed, never reshuffled.
    """
    per_doc = materialize(doc_minhash_frame(docs))
    cand = lsh_candidates(per_doc)
    si = per_doc.select(F.col("doc_id").alias("i"),
                        F.col("hs").alias("hs_i"), F.col("mh").alias("mh_i"))
    sj = per_doc.select(F.col("doc_id").alias("j"),
                        F.col("hs").alias("hs_j"), F.col("mh").alias("mh_j"))
    joined = cand.join(si, "i").join(sj, "j")
    if estimate_prune:
        joined = joined.filter(_sig_est() >= threshold - EST_MARGIN)
    return (joined.select("i", "j", _exact_jac().alias("jac"))
                  .filter(F.col("jac") >= threshold))


def ded_minhash(spark, sf):
    # spread the single-file scan so tokenize+shingle use the cores
    # (r15, guide §2.5; no-op on wide scans)
    docs = spread(T(spark, sf, "documents"))
    return (minhash_dedup_pairs(docs, JACCARD_THRESHOLD)
            .select("i", "j", F.round("jac", 3).alias("jac"))
            .orderBy("i", "j"))


# ------------------------------------------------------ incremental MinHash

def incremental_minhash_pairs(corpus_index: DataFrame, new_docs: DataFrame,
                              threshold: float) -> DataFrame:
    """Near-dup pairs of a NEW batch against a stored corpus index (plus
    within-batch pairs) — the ingestion shape: each arriving batch is
    deduped against everything already seen WITHOUT re-pairing or
    re-hashing the corpus.

    ``corpus_index`` is the persisted per-doc signature index
    (MINHASH_INDEX_DDL: doc_id, hs, mh — what doc_minhash_frame
    produces and streaming/dedup_ingest.py maintains).  The scale
    asymmetry: the corpus index is only ever (a) band-exploded and
    probed by a *broadcast* of the small new batch's band hashes and
    (b) probed by id for the candidates' hs/mh — the corpus never
    shuffles and its signatures are never recomputed.

    Returns (i, j, jac) with j always in the new batch.  Candidate
    membership, not raw id order, decides pairing: a corpus doc pairs
    with a new doc regardless of their doc_id order (out-of-order
    ingestion must not silently admit duplicates), while within the
    batch the usual i < j rule applies.  Assumes corpus and batch
    doc_ids are disjoint (the ingest appends each batch's index rows
    only after pairing).
    """
    return incremental_minhash_pairs_from(
        corpus_index, materialize(doc_minhash_frame(new_docs)), threshold)


def incremental_minhash_pairs_from(corpus_index: DataFrame,
                                   new_index: DataFrame,
                                   threshold: float) -> DataFrame:
    """incremental_minhash_pairs with the new batch's per-doc index
    already built (dedup_ingest builds it once per micro-batch and
    reuses it for pairing AND the index-store append)."""
    new_bands = materialize(_band_rows(new_index))
    new_b = F.broadcast(new_bands.select(F.col("doc_id").alias("j"),
                                         "band", "bh"))
    corpus_bands = _band_rows(corpus_index)
    cand_corpus = (corpus_bands.select(F.col("doc_id").alias("i"), "band", "bh")
                   .join(new_b, ["band", "bh"])
                   .filter(F.col("i") != F.col("j")))
    cand_within = (new_bands.select(F.col("doc_id").alias("i"), "band", "bh")
                   .join(new_b, ["band", "bh"])
                   .filter(F.col("i") < F.col("j")))
    cand = (cand_corpus.select("i", "j")
            .unionByName(cand_within.select("i", "j")).distinct())
    all_index = corpus_index.unionByName(new_index)
    si = all_index.select(F.col("doc_id").alias("i"),
                          F.col("hs").alias("hs_i"), F.col("mh").alias("mh_i"))
    sj = new_index.select(F.col("doc_id").alias("j"),
                          F.col("hs").alias("hs_j"), F.col("mh").alias("mh_j"))
    return (cand.join(si, "i").join(sj, "j")
                .filter(_sig_est() >= threshold - EST_MARGIN)
                .select("i", "j", _exact_jac().alias("jac"))
                .filter(F.col("jac") >= threshold))


def empty_minhash_index(spark) -> DataFrame:
    return local_frame(spark, [], MINHASH_INDEX_DDL)


#: declared-query split: the first 4/5 of the id space is the stored
#: corpus, the rest the arriving batch.  PROPORTIONAL, not absolute, so
#: the corpus/new shape (large stored corpus probed by a broadcast of
#: the small batch) is scale-invariant — an absolute cutoff made the
#: "new batch" 92% of the corpus at sf0.1 and ~100% on the 10× scaling
#: fixture, inverting the broadcast asymmetry the operator is designed
#: around.  At sf0.01 (500 docs) the threshold is 400, identical to the
#: previous constant.
CORPUS_SPLIT_NUM, CORPUS_SPLIT_DEN = 4, 5


def corpus_split_threshold(d: DataFrame) -> int:
    # control-plane scalar (single max), mirrored by a subquery in the
    # oracle; integer arithmetic so both engines agree exactly
    mx = d.agg(F.max("doc_id")).first()[0]
    return (int(mx) + 1) * CORPUS_SPLIT_NUM // CORPUS_SPLIT_DEN


def ded_incr(spark, sf):
    d = T(spark, sf, "documents")
    thr = corpus_split_threshold(d)
    corpus = d.filter(F.col("doc_id") < thr)
    new = d.filter(F.col("doc_id") >= thr)
    # the fixtures have no persisted index, so the corpus index is
    # derived here; in the ingest loop it is read from the store
    return (incremental_minhash_pairs(doc_minhash_frame(corpus), new,
                                      JACCARD_THRESHOLD)
            .select("i", "j", F.round("jac", 3).alias("jac"))
            .orderBy("i", "j"))


# ------------------------------------------------- dup clustering (iterative)

CC_MAX_ITERS = 25


def connected_components(pairs: DataFrame,
                         max_iters: int = CC_MAX_ITERS) -> DataFrame:
    """Connected components of the undirected pair graph by min-label
    propagation WITH pointer jumping: every node starts labeled with
    its own id; each round it takes the min of its neighbors' labels,
    then additionally adopts its (new) label's own label — label
    values are node ids, so one labels-on-labels self-join follows the
    min-chain a hop further.  Propagation plus jumping doubles the
    reach per round, so convergence is O(log diameter) rounds instead
    of O(diameter) (ADVICE r5: transitive near-dup chains can
    legitimately exceed a linear round bound at corpus scale; with the
    default 25 rounds the doubling form covers astronomically long
    chains).  The iterative-algorithm shape (Pregel without GraphX): a
    driver loop of keyed shuffle joins with one convergence action per
    round, per-round frames materialized so lineage stays flat.
    Raises rather than returning partial labels if ``max_iters`` is
    still exceeded.

    Returns (v, lbl): node → min doc_id of its component.
    """
    edges = materialize(
        pairs.select(F.col("i").alias("v"), F.col("j").alias("u"))
             .unionByName(pairs.select(F.col("j").alias("v"),
                                       F.col("i").alias("u")))
             .distinct())
    labels = materialize(
        edges.select("v").distinct().withColumn("lbl", F.col("v")))
    for rounds in range(1, max_iters + 1):
        neigh = (edges.join(labels.select(F.col("v").alias("u"), "lbl"), "u")
                      .groupBy("v").agg(F.min("lbl").alias("nl")))
        prop = (labels.join(neigh, "v", "left")
                      .select("v", "lbl",
                              F.least(F.col("lbl"),
                                      F.coalesce("nl", F.col("lbl")))
                               .alias("p")))
        # pointer jump: label values are node ids, so following one hop
        # through the label table (p -> labels[p]) halves the remaining
        # chain each round; every p is a node, the left join is safety
        jump = prop.select(F.col("v").alias("pv"), F.col("p").alias("pl"))
        merged = materialize(
            prop.join(jump, prop.p == jump.pv, "left")
                .select("v", "lbl",
                        F.least(F.col("p"), F.coalesce("pl", F.col("p")))
                         .alias("new_lbl")))
        changed = merged.filter(F.col("new_lbl") != F.col("lbl")).count()
        labels = merged.select("v", F.col("new_lbl").alias("lbl"))
        if changed == 0:
            # observability for the scaling bench: the iterative cost
            # model is rounds × per-round shuffle, so the round count
            # at 10× data is the claim to check (O(log diameter) ⇒
            # unchanged rounds when replication preserves dup-clique
            # structure)
            connected_components.last_rounds = rounds
            return labels
    raise RuntimeError(
        f"connected_components: no fixpoint within {max_iters} rounds "
        "(component diameter exceeds the bound)")


def dupcc_01(spark, sf):
    """Near-dup cluster assignment: connected components over the
    MinHash near-dup pair graph; ``cluster_rep`` = min doc_id of the
    component (the doc keep-first retention would keep).  Docs with no
    near-dup are trivial singletons and omitted.  The DuckDB oracle
    computes the same closure with a recursive CTE over the exact
    Jaccard pair graph."""
    pairs = minhash_dedup_pairs(T(spark, sf, "documents"),
                                JACCARD_THRESHOLD)
    return (connected_components(pairs)
            .select(F.col("v").alias("doc_id"),
                    F.col("lbl").alias("cluster_rep"))
            .orderBy("doc_id"))


# ------------------------------------------------------------------ SimHash

def simhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash BIGINT): per-bit weighted vote over shingle
    hashes.  64 conditional-sum aggregates in one hash agg pass."""
    sh = _shingle_hash_rows(docs)
    votes = [
        F.sum(F.when(F.shiftright("h", k).bitwiseAND(F.lit(1)) == 1, 1)
               .otherwise(-1)).alias(f"v{k}")
        for k in range(SIMHASH_BITS)
    ]
    voted = sh.groupBy("doc_id").agg(*votes)
    bits = [
        F.when(F.col(f"v{k}") > 0,
               F.shiftleft(F.lit(1).cast("long"), k)).otherwise(F.lit(0).cast("long"))
        for k in range(SIMHASH_BITS)
    ]
    acc = bits[0]
    for c in bits[1:]:
        acc = acc.bitwiseOR(c)
    return voted.select("doc_id", acc.alias("simhash"))


def hamming_band_pairs(sig: DataFrame, n_bits: int = SIMHASH_BITS,
                       n_bands: int = SIMHASH_BANDS,
                       max_hamming: int = HAMMING_MAX) -> DataFrame:
    """Generic banded Hamming pairing over an (id, sig) signature
    frame: (n_bits/n_bands)-bit band blocking — a pair within
    Hamming ≤ n_bands−1 shares at least one band by pigeonhole — then
    exact Hamming ≤ max_hamming via bit_count(xor).  Shuffle key is
    (band, value), never id×id.  Shared by the text SimHash path and
    the image perceptual-hash path (mm_phash)."""
    width = n_bits // n_bands
    bands = [
        F.struct(F.lit(i).alias("band"),
                 F.shiftrightunsigned("sig", i * width)
                  .bitwiseAND(F.lit((1 << width) - 1)).alias("bv"))
        for i in range(n_bands)
    ]
    banded = (sig.select("id", "sig",
                         F.explode(F.array(*bands)).alias("b"))
                 .select("id", "sig", "b.band", "b.bv"))
    banded = materialize(banded)  # both self-join sides reuse this
    a = banded.select(F.col("id").alias("i"), F.col("sig").alias("sh_i"),
                      "band", "bv")
    b = banded.select(F.col("id").alias("j"), F.col("sig").alias("sh_j"),
                      "band", "bv")
    ham = F.bit_count(F.col("sh_i").bitwiseXOR(F.col("sh_j")))
    return (a.join(b, ["band", "bv"])
             .filter(F.col("i") < F.col("j"))
             .select("i", "j", ham.alias("hamming")).distinct()
             .filter(F.col("hamming") <= max_hamming))


def simhash_dedup_pairs(docs: DataFrame, max_hamming: int = HAMMING_MAX) -> DataFrame:
    """Near-dup pairs by SimHash: 8-bit band blocking (a pair within
    Hamming ≤ 7 shares at least one of 8 bands by pigeonhole), then
    exact Hamming ≤ max_hamming via bit_count(xor)."""
    sig = simhash_signatures(docs).select(
        F.col("doc_id").alias("id"), F.col("simhash").alias("sig"))
    return hamming_band_pairs(sig, SIMHASH_BITS, SIMHASH_BANDS,
                              max_hamming)


#: planted-duplicate contract: copies of this id-prefix re-enter the
#: corpus under offset ids; identical text ⇒ identical shingle multiset
#: ⇒ identical 64-bit signature ⇒ shares every band ⇒ MUST be paired at
#: Hamming 0 — an end-to-end invariant of the signature+banding
#: machinery that a SQL oracle can state exactly (the signature values
#: themselves are engine-specific; xxhash64 has no DuckDB analogue).
#: The plant offset is derived from max(doc_id)+1 (control-plane
#: scalar) and mirrored by a subquery in the oracle, so planted ids
#: can never collide with natural ids on any fixture (ADVICE r5).
SIMHASH_PLANT_N = 20


def ded_simhash(spark, sf):
    """SimHash certification key (VERDICT r4 pattern: bounded check in
    place of a rows-only row): every exact-duplicate pair in the
    planted corpus must be produced by the simhash band pipeline with
    Hamming distance 0.  The returned frame is the exact-dup pair list
    (SQL-expressible) plus the hashed boolean; the raw near-dup pair
    list stays available as ded_simhash_raw."""
    from ..functions.textfns import tokens

    # the invariant only holds for docs that HAVE a signature — a doc
    # under 3 tokens yields no shingles and is absent from the band
    # pipeline, so the certification universe is shingle-bearing docs
    # (the oracle applies the same len(t) >= 3 restriction; current
    # fixtures have no short docs, this guards regenerated ones)
    docs_all = T(spark, sf, "documents")
    offset = docs_all.agg(F.max("doc_id")).first()[0] + 1
    docs = (docs_all.select("doc_id", "text")
            .filter(F.size(tokens("text")) >= 3))
    planted = (docs.filter(F.col("doc_id") < SIMHASH_PLANT_N)
                   .select((F.col("doc_id") + offset)
                           .alias("doc_id"), "text"))
    corpus = docs.unionByName(planted)
    pairs = simhash_dedup_pairs(corpus)
    a = corpus.select(F.col("doc_id").alias("i"), F.col("text").alias("t_i"))
    b = corpus.select(F.col("doc_id").alias("j"), F.col("text").alias("t_j"))
    exact = (a.join(b, F.col("t_i") == F.col("t_j"))
              .filter(F.col("i") < F.col("j")).select("i", "j"))
    return (exact.join(pairs, ["i", "j"], "left")
                 .select("i", "j",
                         F.coalesce(F.col("hamming") == 0, F.lit(False))
                          .alias("simhash_found"))
                 .orderBy("i", "j"))


def ded_simhash_raw(spark, sf):
    """The raw SimHash near-dup pair list over the natural corpus
    (rows-only: the pair set depends on xxhash64 signatures)."""
    docs = T(spark, sf, "documents")
    return simhash_dedup_pairs(docs).orderBy("i", "j")


_SIMHASH_ORACLE = f"""
WITH base AS (
  SELECT doc_id, text FROM documents
  WHERE len({SQL_TOKENS.format(col="text")}) >= 3
),
corpus AS (
  SELECT doc_id, text FROM base
  UNION ALL
  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents), text FROM base
  WHERE doc_id < {SIMHASH_PLANT_N}
)
SELECT a.doc_id AS i, b.doc_id AS j, TRUE AS simhash_found
FROM corpus a JOIN corpus b ON a.text = b.text AND a.doc_id < b.doc_id
ORDER BY i, j
"""


# ------------------------------------------------------- embedding cosine

COSINE_BLOCK = 256          # vectors per tile of the blocked pair matmul
COSINE_MAX_VECS = 200_000   # explicit cap of the exact baseline


def cosine_pairs(emb: DataFrame, threshold: float) -> DataFrame:
    """EXACT pairwise cosine ≥ threshold as a blocked matrix product —
    the bounded brute-force baseline, structured for a cluster.

    Exact all-pairs is inherently O(n²); no LSH family buckets it at a
    low threshold (τ = 0.4 sits ~3σ above the random-cosine background
    in 64 dims, so any banding either misses true pairs or admits
    nearly all pairs).  What CAN be fixed is the shape of the O(n²):

    - vectors are grouped into ~COSINE_BLOCK-sized tiles (sorted
      collect per block id);
    - tile pairs (bi ≤ bj) are enumerated by EXPLODE of a sequence and
      matched with an EQUI-join — the plan contains no row-level
      cartesian and no BroadcastNestedLoopJoin (tests/test_plans.py);
    - each tile pair computes all cross-cosines as ONE numpy float64
      matmul inside mapInPandas (BLAS, ~100× the per-pair-UDF rate the
      previous theta-join form managed).

    The corpus size is capped at COSINE_MAX_VECS (explicit ValueError)
    — and the cap is the operator's DECLARED CONTRACT, not a todo
    (SURVEY §2, promoted r11): the baseline τ=0.4 sits ~3σ above the
    64-dim random-cosine background, a regime no LSH family buckets,
    so exact all-pairs is the only faithful semantics and its
    quadratic cost is intrinsic to the QUERY.  The certified scale
    paths for real near-dup thresholds are ded_embed2's banded LSH
    (τ≥0.99, below), sdd_01's SemDeDup cluster-bounded prune, and the
    LSH / IVF top-k machinery in similarity.py.  float64 matmul accumulation
    differences vs a sequential fold sit ~1e-16, far below the 1e-4
    rounding the declared query applies.
    """
    e = emb.select("vec_id", F.transform("embedding",
                                         lambda x: x.cast("double")).alias("v"))
    # control-plane bound (1 row, like the IVF centroid collect).  Cap
    # on the actual vector COUNT, and derive block ids by hashing
    # vec_id: sparse / offset / negative id spaces neither defeat the
    # cap nor skew tile sizes (pmod(xxhash64) spreads any id domain
    # uniformly over [0, n_blocks)).
    n_vecs = e.agg(F.count("*")).collect()[0][0]
    if n_vecs == 0:
        return local_frame(emb.sparkSession, [],
                           "i long, j long, cos double")
    if n_vecs > COSINE_MAX_VECS:
        raise ValueError(
            f"exact cosine_pairs is capped at {COSINE_MAX_VECS} vectors "
            "(bounded baseline — the declared contract of exact "
            "all-pairs at an unbucketable threshold); for large "
            "corpora use ded_embed2 (banded LSH), sdd_01 (SemDeDup), "
            "or similarity.ann_lsh_topk / ivf_topk")
    n_blocks = int(n_vecs) // COSINE_BLOCK + 1
    blocks = (e.withColumn("bid", F.pmod(F.xxhash64("vec_id"),
                                         F.lit(n_blocks)).cast("int"))
               .groupBy("bid")
               .agg(F.sort_array(F.collect_list(F.struct("vec_id", "v")))
                     .alias("vs")))
    right = blocks.select(F.col("bid").alias("bj"), F.col("vs").alias("ws"))
    pairs = (blocks.select(
                "bid", "vs",
                F.explode(F.sequence("bid", F.lit(n_blocks - 1))).alias("bj"))
             .join(right, "bj"))

    def emit(batches):
        for pdf in batches:
            out_i, out_j, out_c = [], [], []
            for vs, ws, same in zip(pdf["vs"], pdf["ws"],
                                    pdf["bid"] == pdf["bj"]):
                ia = np.asarray([r["vec_id"] for r in vs], dtype=np.int64)
                ib = np.asarray([r["vec_id"] for r in ws], dtype=np.int64)
                ma = np.asarray([r["v"] for r in vs], dtype=np.float64)
                mb = np.asarray([r["v"] for r in ws], dtype=np.float64)
                na = np.sqrt(np.einsum("ij,ij->i", ma, ma))
                nb = np.sqrt(np.einsum("ij,ij->i", mb, mb))
                cos = (ma @ mb.T) / np.outer(na, nb)
                mask = cos >= threshold
                if same:
                    mask &= ia[:, None] < ib[None, :]
                r, c = np.nonzero(mask)
                # hash blocking doesn't order ids across tiles, so
                # normalize each cross-tile pair to (min, max); each
                # unordered tile pair is enumerated exactly once, so
                # this cannot double-emit
                ii, jj = ia[r], ib[c]
                out_i.extend(np.minimum(ii, jj))
                out_j.extend(np.maximum(ii, jj))
                out_c.extend(cos[r, c])
            yield pd.DataFrame({"i": pd.Series(out_i, dtype="int64"),
                                "j": pd.Series(out_j, dtype="int64"),
                                "cos": pd.Series(out_c, dtype="float64")})

    return pairs.mapInPandas(emit, "i long, j long, cos double")


def ded_embed(spark, sf):
    emb = T(spark, sf, "embeddings").filter(F.col("vec_id") < 2000)
    return (cosine_pairs(emb, 0.4)
            .select("i", "j", F.round("cos", 4).alias("cos"))
            .orderBy("i", "j"))


# ----------------------------- LSH-bucketed embedding near-dup (scale path)

#: true near-dup threshold for the bucketed path: at cos ≥ 0.99 a
#: random 64-dim pair has effectively zero mass (the all-pairs oracle
#: verifies no natural pair qualifies), while the planted perturbation
#: sits at cos ≈ 0.9999 — the regime LSH banding is FOR, unlike
#: ded_embed's τ = 0.4 where no family buckets (cosine_pairs docstring)
EMBED2_TAU = 0.99
EMBED2_STRIDE = 16
#: first-dimension scale factor of the planted variant — expressible
#: identically in Spark and SQL (one element product + array slice)
EMBED2_PERTURB = 1.08
#: raising bucket guard (the blocked_pairs discipline): a degenerate
#: signature distribution would make one (table, sig) bucket
#: corpus-sized and the per-bucket quadratic corpus-wide
EMBED2_MAX_BUCKET = 10_000


def embed_lsh_pairs(emb: DataFrame, tau: float,
                    max_bucket: int = EMBED2_MAX_BUCKET,
                    multiprobe: int = 0) -> DataFrame:
    """Banded near-dup pairs over embeddings: candidates share an LSH
    bucket in ≥1 of the 8 tables (``multiprobe=1`` additionally
    probes every Hamming-1 bucket from one side — the recall lever
    for mid-τ regimes, off by default at τ = 0.99), then the EXACT
    cosine filter ≥ tau decides.  The shuffle
    key is (table, sig) — never vector×vector; the per-bucket
    quadratic is guarded by ONE control-plane aggregate that RAISES
    past ``max_bucket`` naming the refinement (wider signatures), the
    blocked_pairs contract.

    At cos ≥ 0.99 the per-table bucket-match probability is ≥ 0.97
    (θ ≈ 0.57° → bit agreement 0.9968⁸), so the probability a true
    pair misses all 8 tables AND all Hamming-1 probes is < 1e-13 —
    and signatures are deterministic (seeded planes), so the result
    is a fixed set verified pair-for-pair against the exact all-pairs
    oracle on every fixture (the ded_minhash certification form)."""
    from .similarity import BITS_PER_TABLE, lsh_signatures

    # materialized once for its three consumers (bucket guard + both
    # join sides) — else each recomputes the Arrow signature pipeline
    sigs = materialize(lsh_signatures(emb).select("vec_id", "table",
                                                  "sig"))
    biggest = (sigs.groupBy("table", "sig").count()
               .agg(F.max("count")).first()[0]) or 0
    if biggest > max_bucket:
        raise ValueError(
            f"largest LSH bucket has {biggest} vectors (> {max_bucket}):"
            " widen BITS_PER_TABLE or add a second banding pass before"
            " running the per-bucket quadratic")
    # candidates deduplicate as BARE 16-byte (i, j) pairs — carrying
    # the two 64-double vectors through the distinct shuffle measured
    # ~1 GB at 2k vectors (≈7× slower); vectors re-attach by two
    # equi-joins on vec_id afterwards, candidate-sized
    a = sigs.select(F.col("vec_id").alias("i"), "table", "sig")
    b = sigs.select(F.col("vec_id").alias("j"), "table", "sig")
    if multiprobe:
        # Hamming-1 probe fan-out, ONE side only — the recall lever
        # for mid-τ regimes; at the declared τ = 0.99 the exact-match
        # miss probability is already < 1e-13 per pair AND it would
        # multiply the random-collision candidate load ~9×, so the
        # default keeps it off
        flips = F.array(F.col("sig"),
                        *[F.col("sig").bitwiseXOR(F.lit(1 << fb))
                          for fb in range(BITS_PER_TABLE)])
        b = (sigs.select(F.col("vec_id").alias("j"),
                         "table", F.explode(flips).alias("sig")))
    cand = (a.join(b, ["table", "sig"])
             .filter(F.col("i") < F.col("j"))
             .select("i", "j").distinct())
    from .similarity import _dot, _norm

    # per-row norm computed once per vector (identical doubles; the
    # pair pass multiplies two carried scalars), dot unrolled into
    # codegen — see similarity._dot
    vec = emb.select("vec_id", F.transform(
        "embedding", lambda x: x.cast("double")).alias("v"))
    vec = vec.select("vec_id", "v", _norm("v").alias("nv"))
    cand = (cand.join(vec.select(F.col("vec_id").alias("i"),
                                 F.col("v").alias("va"),
                                 F.col("nv").alias("na")), "i")
                .join(vec.select(F.col("vec_id").alias("j"),
                                 F.col("v").alias("vb"),
                                 F.col("nv").alias("nb")), "j"))
    cos = _dot("va", "vb") / (F.col("na") * F.col("nb"))
    return (cand.select("i", "j", cos.alias("cos"))
                .filter(F.col("cos") >= tau))


def ded_embed2(spark, sf):
    """Embedding near-dup via banded LSH — the SCALE PATH ded_embed's
    cap guard names, as a certified operator: every EMBED2_STRIDE-th
    vector re-enters under a fresh id with its first dimension scaled
    by EMBED2_PERTURB (cos ≈ 0.9999 to its original — planted the
    dq_01/pii_01 way, since random fixtures have no natural pairs in
    the near-dup regime), candidates come from LSH buckets with
    Hamming-1 multiprobe, the exact cosine ≥ 0.99 filter decides.
    The DuckDB oracle recomputes the SAME planted union with the
    EXACT all-pairs join, so the hash certifies the banding lost
    nothing (and admitted nothing: no natural pair reaches 0.99)."""
    from .similarity import DIM

    base = T(spark, sf, "embeddings").select(
        "vec_id", F.transform("embedding",
                              lambda x: x.cast("double")).alias("v"))
    offset = base.agg(F.max("vec_id")).first()[0] + 1
    planted = (base.filter(F.col("vec_id") % EMBED2_STRIDE == 0)
               .select((F.col("vec_id") + offset).alias("vec_id"),
                       F.concat(
                           F.array(F.element_at("v", 1)
                                   * F.lit(EMBED2_PERTURB)),
                           F.slice("v", 2, DIM - 1)).alias("v")))
    corpus = base.unionByName(planted).withColumnRenamed("v", "embedding")
    return (embed_lsh_pairs(corpus, EMBED2_TAU)
            .select("i", "j", F.round("cos", 4).alias("cos"))
            .orderBy("i", "j"))


def sdd_01(spark, sf):
    """SemDeDup (Abbas et al. 2023, public) — SEMANTIC dedup as
    cluster-bounded pairwise cosine: k-means the embedding corpus
    (km_01's deterministic Lloyd machinery verbatim: md5 seeds →
    KM_ITERS exact-integer updates → final assignment), then compare
    pairs ONLY within a cluster and mark cos ≥ EMBED2_TAU as semantic
    duplicates (keep-first: i survives, j drops).  The quadratic is
    bounded by the largest CLUSTER, never the corpus — and since r12
    (VERDICT r11 item 2) K IS A FUNCTION OF N: ``similarity.sdd_k``
    derives K = ceil(N / SDD_TARGET_CLUSTER_ROWS), so the expected
    cluster stays at the declared target and the in-cluster prune
    costs Σ n_c(n_c−1)/2 ≈ N·(target−1)/2 — linear in the corpus
    (bench lane asserts the candidate-pair count grows ≈ linearly at
    10× corpus; the oracle derives the SAME K from count(*)).

    Certification (the ded_embed2 planting discipline): every
    EMBED2_STRIDE-th vector re-enters under a fresh id with its first
    dimension scaled by EMBED2_PERTURB (cos ≈ 0.9999 — random fixtures
    have no natural pairs in that regime), and the DuckDB oracle
    re-derives the ENTIRE chain — planting, unrolled-SQL Lloyd,
    cluster-bounded pairs — so the hash certifies the cluster
    assignment AND the prune, including that a planted pair straddling
    clusters is (by SemDeDup's declared semantics) missed identically
    on both engines.  Reference analogue: semantic near-duplicate
    collapse before corpus statistics, generalizing the encounter-
    level re-import dedup (aktin_init.sql) to embedding space."""
    from .similarity import (DIM, KM_ITERS, _dot, _km_assign,
                             _km_seed_centroids, _km_step, _norm, sdd_k)

    base = T(spark, sf, "embeddings").select(
        "vec_id", F.transform("embedding",
                              lambda x: x.cast("double")).alias("x"))
    # ONE control-plane action for offset AND the corpus size feeding
    # sdd_k: |pts| = |base| + |planted| and planted is a pure filter of
    # base, so both counts fold into the same aggregate (r15: was two
    # sequential actions — agg(max).first() then pts.count())
    mx, n_base, n_planted = base.agg(
        F.max("vec_id"), F.count("*"),
        F.count_if(F.col("vec_id") % EMBED2_STRIDE == 0)).first()
    offset = mx + 1
    planted = (base.filter(F.col("vec_id") % EMBED2_STRIDE == 0)
               .select((F.col("vec_id") + offset).alias("vec_id"),
                       F.concat(
                           F.array(F.element_at("x", 1)
                                   * F.lit(EMBED2_PERTURB)),
                           F.slice("x", 2, DIM - 1)).alias("x")))
    pts = materialize(base.unionByName(planted))
    cents = _km_seed_centroids(pts, k=sdd_k(n_base + n_planted))
    for _ in range(KM_ITERS):
        cents = _km_step(pts, cents)
    # per-ROW norm precomputed on the assigned frame: the pair pass
    # then multiplies two scalars instead of re-folding 2×DIM squares
    # per candidate (norms are a function of the row's own array, so
    # the doubles are identical — just computed |rows| times instead
    # of |pairs| times; guide §2.3 narrower-shuffle + §4 codegen)
    assigned = materialize(
        _km_assign(pts, cents).select("vec_id", "x", "cid",
                                      _norm("x").alias("nx")))
    a = assigned.select("cid", F.col("vec_id").alias("i"),
                        F.col("x").alias("va"), F.col("nx").alias("na"))
    b = assigned.select("cid", F.col("vec_id").alias("j"),
                        F.col("x").alias("vb"), F.col("nx").alias("nb"))
    cand = a.join(b, "cid").filter(F.col("i") < F.col("j"))
    cos = _dot("va", "vb") / (F.col("na") * F.col("nb"))
    return (cand.select("cid", "i", "j", cos.alias("cos"))
                .filter(F.col("cos") >= EMBED2_TAU)
                .select("cid", "i", "j",
                        F.round("cos", 4).alias("cos_r"))
                .orderBy("i", "j"))


def sdd_02(spark, sf):
    """INCREMENTAL SemDeDup (r12 extension) — the production shape at
    100 TB: the corpus is already clustered; a NEW batch (crawl
    increment) must be deduped AGAINST it without re-clustering.
    Existing corpus = vec_id % 4 != 0; Lloyd runs on it alone
    (k = sdd_k(|exist|), km_01's machinery verbatim), the centroids
    FREEZE, and arrivals — planted cos-0.9999 twins of every
    EMBED2_STRIDE-th existing vector plus the genuinely-novel
    vec_id % 4 == 0 slice — are assigned to the frozen centroids in
    ONE pass.  The prune compares each arrival ONLY to the EXISTING
    members of its cluster (never arrival×arrival, never corpus-wide):
    per-batch cost is |batch|·E[cluster], independent of corpus size —
    the property that lets a daily increment dedup against a petabyte
    corpus.  Output: (cid, i existing, j arrival, cos_r ≥ τ).  The
    DuckDB oracle re-derives the whole chain (exist-only Lloyd, frozen
    assignment of both sets, cross-set prune), so the hash certifies
    the frozen-centroid assignment and the asymmetric prune."""
    from .similarity import (DIM, KM_ITERS, _dot, _km_assign,
                             _km_seed_centroids, _km_step, _norm, sdd_k)

    base = T(spark, sf, "embeddings").select(
        "vec_id", F.transform("embedding",
                              lambda x: x.cast("double")).alias("x"))
    exist = materialize(base.filter(F.col("vec_id") % 4 != 0))
    # one action for offset AND |exist| (was agg(max).first() + count())
    mx, n_exist = base.agg(
        F.max("vec_id"),
        F.count_if(F.col("vec_id") % 4 != 0)).first()
    offset = mx + 1
    # stride-residue 1 (not 0): vec_id % 16 == 0 implies % 4 == 0,
    # which the exist filter excludes — residue 1 intersects exist,
    # so the planted-twin set is non-empty at every scale
    planted = (exist.filter(F.col("vec_id") % EMBED2_STRIDE == 1)
               .select((F.col("vec_id") + offset).alias("vec_id"),
                       F.concat(
                           F.array(F.element_at("x", 1)
                                   * F.lit(EMBED2_PERTURB)),
                           F.slice("x", 2, DIM - 1)).alias("x")))
    novel = base.filter(F.col("vec_id") % 4 == 0)
    arrivals = materialize(planted.unionByName(novel))
    cents = _km_seed_centroids(exist, k=sdd_k(n_exist))
    for _ in range(KM_ITERS):
        cents = _km_step(exist, cents)
    # per-row norms (sdd_01's rationale: identical doubles, computed
    # once per vector instead of once per candidate pair)
    a = (_km_assign(exist, cents)
         .select("cid", F.col("vec_id").alias("i"),
                 F.col("x").alias("va"), _norm("x").alias("na")))
    b = (_km_assign(arrivals, cents)
         .select("cid", F.col("vec_id").alias("j"),
                 F.col("x").alias("vb"), _norm("x").alias("nb")))
    cand = a.join(b, "cid")
    cos = _dot("va", "vb") / (F.col("na") * F.col("nb"))
    return (cand.select("cid", "i", "j", cos.alias("cos"))
                .filter(F.col("cos") >= EMBED2_TAU)
                .select("cid", "i", "j",
                        F.round("cos", 4).alias("cos_r"))
                .orderBy("i", "j"))


def _sdd_02_oracle() -> str:
    """Exist-only Lloyd (k from |exist|), frozen-centroid assignment
    of exist ∪ arrivals, cross-set in-cluster prune — the sdd_01
    oracle chain with an asymmetric final join."""
    from .similarity import (KM_ITERS, KM_K, SDD_TARGET_CLUSTER_ROWS,
                             SDD_TIE_MOD)

    parts = [f"""
WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings),
exist AS (SELECT * FROM e0 WHERE vec_id % 4 != 0),
off AS (SELECT max(vec_id) + 1 AS o FROM e0),
planted AS (SELECT vec_id + off.o AS vec_id,
                   list_concat([v[1] * {EMBED2_PERTURB}], v[2:]) AS v
            FROM exist, off WHERE vec_id % {EMBED2_STRIDE} = 1),
arrivals AS (SELECT * FROM planted
             UNION ALL SELECT * FROM e0 WHERE vec_id % 4 = 0),
kk AS (SELECT GREATEST({KM_K}, CAST(CEIL(
           COUNT(*) / {SDD_TARGET_CLUSTER_ROWS}.0) AS INT)) AS k
       FROM exist),
pts AS (SELECT vec_id, generate_subscripts(v, 1) AS dim,
               CAST(unnest(v) AS DOUBLE) AS xv
        FROM exist),
seeds AS (SELECT vec_id, CAST(rn - 1 AS INT) AS cid
          FROM (SELECT vec_id,
                       ROW_NUMBER() OVER (
                           ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                    vec_id) AS rn
                FROM exist)
          WHERE rn <= (SELECT k FROM kk)),
cent0 AS (SELECT s.cid, p.dim, p.xv AS cv
          FROM seeds s JOIN pts p USING (vec_id))"""]
    for t in range(1, KM_ITERS + 1):
        parts.append(f"""
d{t} AS (SELECT p.vec_id, c.cid,
               SUM(CAST(FLOOR((p.xv - c.cv) * (p.xv - c.cv) * 1e12)
                        AS BIGINT)) AS dist
         FROM pts p JOIN cent{t - 1} c ON p.dim = c.dim
         GROUP BY p.vec_id, c.cid),
a{t} AS (SELECT vec_id,
                CAST(MIN(dist * {SDD_TIE_MOD} + cid) % {SDD_TIE_MOD}
                     AS INT) AS cid
         FROM d{t} GROUP BY vec_id),
cent{t} AS (SELECT a.cid, p.dim,
                  CAST(SUM(CAST(FLOOR(p.xv * 1e9) AS BIGINT)) AS DOUBLE)
                    / COUNT(*) / 1e9 AS cv
            FROM a{t} a JOIN pts p USING (vec_id)
            GROUP BY a.cid, p.dim)""")
    last = KM_ITERS
    parts.append(f"""
pall AS (SELECT vec_id, generate_subscripts(v, 1) AS dim,
                CAST(unnest(v) AS DOUBLE) AS xv
         FROM (SELECT * FROM exist UNION ALL SELECT * FROM arrivals)),
df AS (SELECT p.vec_id, c.cid,
              SUM(CAST(FLOOR((p.xv - c.cv) * (p.xv - c.cv) * 1e12)
                       AS BIGINT)) AS dist
       FROM pall p JOIN cent{last} c ON p.dim = c.dim
       GROUP BY p.vec_id, c.cid),
af AS (SELECT vec_id,
              CAST(MIN(dist * {SDD_TIE_MOD} + cid) % {SDD_TIE_MOD}
                   AS INT) AS cid
       FROM df GROUP BY vec_id),
corp AS (SELECT * FROM exist UNION ALL SELECT * FROM arrivals)""")
    body = ",".join(parts)
    return f"""{body}
SELECT ai.cid, x.vec_id AS i, y.vec_id AS j,
       ROUND(list_dot_product(x.v, y.v)
             / (sqrt(list_dot_product(x.v, x.v))
                * sqrt(list_dot_product(y.v, y.v))), 4) AS cos_r
FROM af ai JOIN af aj ON ai.cid = aj.cid
JOIN exist x ON x.vec_id = ai.vec_id
JOIN arrivals y ON y.vec_id = aj.vec_id
WHERE list_dot_product(x.v, y.v)
      / (sqrt(list_dot_product(x.v, x.v))
         * sqrt(list_dot_product(y.v, y.v))) >= {EMBED2_TAU}
ORDER BY i, j
"""


def _sdd_oracle() -> str:
    """Planted corpus + unrolled-SQL Lloyd (the _km_oracle chain over
    the planted union) + cluster-bounded pairwise prune.  K is derived
    IN SQL from count(*) exactly as similarity.sdd_k derives it from
    pts.count() (r12): seeds take the first K md5-ordered rows via a
    scalar-subquery bound, and the tie-break encoding uses the
    K-independent SDD_TIE_MOD (> any derived K, product < 2^63)."""
    from .similarity import (KM_ITERS, KM_K, SDD_TARGET_CLUSTER_ROWS,
                             SDD_TIE_MOD)

    parts = [f"""
WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings),
off AS (SELECT max(vec_id) + 1 AS o FROM e0),
planted AS (SELECT vec_id + off.o AS vec_id,
                   list_concat([v[1] * {EMBED2_PERTURB}], v[2:]) AS v
            FROM e0, off WHERE vec_id % {EMBED2_STRIDE} = 0),
corp AS (SELECT * FROM e0 UNION ALL SELECT * FROM planted),
kk AS (SELECT GREATEST({KM_K}, CAST(CEIL(
           COUNT(*) / {SDD_TARGET_CLUSTER_ROWS}.0) AS INT)) AS k
       FROM corp),
pts AS (SELECT vec_id, generate_subscripts(v, 1) AS dim,
               CAST(unnest(v) AS DOUBLE) AS xv
        FROM corp),
seeds AS (SELECT vec_id, CAST(rn - 1 AS INT) AS cid
          FROM (SELECT vec_id,
                       ROW_NUMBER() OVER (
                           ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                    vec_id) AS rn
                FROM corp)
          WHERE rn <= (SELECT k FROM kk)),
cent0 AS (SELECT s.cid, p.dim, p.xv AS cv
          FROM seeds s JOIN pts p USING (vec_id))"""]
    for t in range(1, KM_ITERS + 2):
        parts.append(f"""
d{t} AS (SELECT p.vec_id, c.cid,
               SUM(CAST(FLOOR((p.xv - c.cv) * (p.xv - c.cv) * 1e12)
                        AS BIGINT)) AS dist
         FROM pts p JOIN cent{t - 1} c ON p.dim = c.dim
         GROUP BY p.vec_id, c.cid),
a{t} AS (SELECT vec_id,
                CAST(MIN(dist * {SDD_TIE_MOD} + cid) % {SDD_TIE_MOD}
                     AS INT) AS cid
         FROM d{t} GROUP BY vec_id)""")
        if t <= KM_ITERS:
            parts.append(f"""
cent{t} AS (SELECT a.cid, p.dim,
                  CAST(SUM(CAST(FLOOR(p.xv * 1e9) AS BIGINT)) AS DOUBLE)
                    / COUNT(*) / 1e9 AS cv
            FROM a{t} a JOIN pts p USING (vec_id)
            GROUP BY a.cid, p.dim)""")
    last = KM_ITERS + 1
    body = ",".join(parts)
    return f"""{body}
SELECT ai.cid, x.vec_id AS i, y.vec_id AS j,
       ROUND(list_dot_product(x.v, y.v)
             / (sqrt(list_dot_product(x.v, x.v))
                * sqrt(list_dot_product(y.v, y.v))), 4) AS cos_r
FROM a{last} ai JOIN a{last} aj
     ON ai.cid = aj.cid AND ai.vec_id < aj.vec_id
JOIN corp x ON x.vec_id = ai.vec_id
JOIN corp y ON y.vec_id = aj.vec_id
WHERE list_dot_product(x.v, y.v)
      / (sqrt(list_dot_product(x.v, x.v))
         * sqrt(list_dot_product(y.v, y.v))) >= {EMBED2_TAU}
ORDER BY i, j
"""


# ----------------------------------------------------------------- oracles

_NGRAM_ORACLE = f"""
WITH t0 AS (SELECT doc_id, {SQL_TOKENS.format(col='text')} AS t
            FROM documents WHERE doc_id < 2000),
sh AS (SELECT doc_id, {SQL_SHINGLES3} AS s FROM t0),
p AS (SELECT a.doc_id AS i, b.doc_id AS j,
             len(list_intersect(a.s, b.s))::DOUBLE
               / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jac
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
SELECT i, j, ROUND(jac, 3) AS jac FROM p WHERE jac >= 0.8
"""

# MinHash shares the brute-force oracle: with 32 bands × 4 rows the miss
# probability at Jaccard 0.9 is (1 - 0.9^4)^32 ≈ 1e-15 — the LSH result
# equals exact ≥ 0.7 on this corpus (verified in tests against the
# planted near-dup pairs, all of Jaccard ≥ 0.9).
_MINHASH_ORACLE = f"""
WITH t0 AS (SELECT doc_id, {SQL_TOKENS.format(col='text')} AS t FROM documents),
sh AS (SELECT doc_id, {SQL_SHINGLES3} AS s FROM t0),
p AS (SELECT a.doc_id AS i, b.doc_id AS j,
             len(list_intersect(a.s, b.s))::DOUBLE
               / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jac
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
SELECT i, j, ROUND(jac, 3) AS jac FROM p WHERE jac >= {JACCARD_THRESHOLD}
"""

_DUPCC_ORACLE = f"""
WITH RECURSIVE
t0 AS (SELECT doc_id, {SQL_TOKENS.format(col='text')} AS t FROM documents),
sh AS (SELECT doc_id, {SQL_SHINGLES3} AS s FROM t0),
pr AS (SELECT a.doc_id AS i, b.doc_id AS j
       FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       WHERE len(list_intersect(a.s, b.s))::DOUBLE
             / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
             >= {JACCARD_THRESHOLD}),
e AS (SELECT i AS v, j AS u FROM pr UNION SELECT j, i FROM pr),
reach(v, u) AS (
  SELECT v, v FROM (SELECT DISTINCT v FROM e)
  UNION
  SELECT r.v, e2.u FROM reach r JOIN e e2 ON r.u = e2.v
)
SELECT v AS doc_id, min(u) AS cluster_rep FROM reach GROUP BY v ORDER BY v
"""

def dupsel_01(spark, sf):
    """Quality-based retention over near-dup clusters — the policy step
    AFTER dupcc_01's clustering: instead of keep-first (min doc_id),
    keep each cluster's LONGEST document (chars, ties on min doc_id) —
    the usual "keep the most complete copy" rule of corpus dedup.

    Shape: CC labels (iterative, vocab of dup nodes only) joined back
    to doc lengths, then one argmin-style struct aggregation per
    cluster — the window-free per-group argmax (min of
    (-len, doc_id)), so no per-cluster ordered task.  Emits
    (cluster_rep, keep_id, n_members, kept_chars)."""
    docs = T(spark, sf, "documents")
    labels = connected_components(
        minhash_dedup_pairs(docs, JACCARD_THRESHOLD))
    sized = (labels.join(docs.select(F.col("doc_id").alias("v"),
                                     F.length("text").alias("chars")),
                         "v"))
    return (sized.groupBy(F.col("lbl").alias("cluster_rep"))
            .agg(F.count("*").alias("n_members"),
                 F.min(F.struct((-F.col("chars")).alias("neg"),
                                F.col("v").alias("id"))).alias("best"))
            .select("cluster_rep",
                    F.col("best.id").alias("keep_id"),
                    "n_members",
                    (-F.col("best.neg")).alias("kept_chars"))
            .orderBy("cluster_rep"))


_DUPSEL_ORACLE = f"""
WITH RECURSIVE
t0 AS (SELECT doc_id, {SQL_TOKENS.format(col='text')} AS t FROM documents),
sh AS (SELECT doc_id, {SQL_SHINGLES3} AS s FROM t0),
pr AS (SELECT a.doc_id AS i, b.doc_id AS j
       FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       WHERE len(list_intersect(a.s, b.s))::DOUBLE
             / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
             >= {JACCARD_THRESHOLD}),
e AS (SELECT i AS v, j AS u FROM pr UNION SELECT j, i FROM pr),
reach(v, u) AS (
  SELECT v, v FROM (SELECT DISTINCT v FROM e)
  UNION
  SELECT r.v, e2.u FROM reach r JOIN e e2 ON r.u = e2.v
),
cc AS (SELECT v, min(u) AS lbl FROM reach GROUP BY v),
sized AS (SELECT cc.v, cc.lbl, length(d.text) AS chars
          FROM cc JOIN documents d ON d.doc_id = cc.v),
best AS (SELECT lbl, v, chars,
                row_number() OVER (PARTITION BY lbl
                                   ORDER BY chars DESC, v) AS rn,
                count(*) OVER (PARTITION BY lbl) AS n_members
         FROM sized)
SELECT lbl AS cluster_rep, v AS keep_id, n_members,
       CAST(chars AS INT) AS kept_chars
FROM best WHERE rn = 1 ORDER BY cluster_rep
"""


_EMBED_ORACLE = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings WHERE vec_id < 2000)
SELECT a.vec_id AS i, b.vec_id AS j,
       ROUND(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
             4) AS cos
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.4
"""

_EMBED2_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
off AS (SELECT max(vec_id) + 1 AS o FROM e),
planted AS (SELECT vec_id + off.o AS vec_id,
                   list_concat([v[1] * {EMBED2_PERTURB}], v[2:]) AS v
            FROM e, off WHERE vec_id % {EMBED2_STRIDE} = 0),
c AS (SELECT * FROM e UNION ALL SELECT * FROM planted),
p AS (SELECT a.vec_id AS i, b.vec_id AS j,
             list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v))
                  * sqrt(list_dot_product(b.v, b.v))) AS cos
      FROM c a JOIN c b ON a.vec_id < b.vec_id)
SELECT i, j, ROUND(cos, 4) AS cos FROM p WHERE cos >= {EMBED2_TAU}
ORDER BY i, j
"""

# -------------------------------------------------- substring-level dedup

#: window width (tokens) for exact-substring duplication detection —
#: the Lee et al. "Deduplicating Training Data Makes Language Models
#: Better" granularity, re-expressed as sliding-window hashing instead
#: of a suffix array (the Spark-native form: the suffix array's "find
#: repeated substrings of length ≥ W" query IS the W-token window
#: equi-join)
SUBSTR_W = 8


def substr_dup_stats(docs: DataFrame, w: int = SUBSTR_W) -> DataFrame:
    """Per-doc exact-substring duplication profile: for every W-token
    sliding window, is the same token span present in ≥2 DISTINCT
    docs?  Returns (doc_id, n_spans, n_dup_spans, dup_frac) for docs
    with at least one corpus-duplicated span.

    Scale shape: windows are built per-row in JVM (transform over
    sequence → md5 of slice — no Python, no per-window string shuffle
    beyond the hash), exploded once and immediately crushed by ONE
    map-side-combinable groupBy(doc, h) into per-doc span counts —
    the frame that gets materialized is the DISTINCT (doc, h) set
    with multiplicities, not the raw span stream (r11: pinning the
    full explode in block storage was the lane's dominant memory
    traffic; the counted form carries identical information for all
    three consumers — dup-set, per-doc dup counts, per-doc totals —
    at the distinct cardinality).  The duplicated-hash set is then
    groupBy(h) over that counted frame; the only corpus-sized
    shuffles key on the window hash — never doc×doc.  ~L× row
    amplification inside the first aggregation is the algorithm's
    inherent cost (same as suffix-array construction); at 100 TB you
    shard by hash, which is exactly what the groupBy partitioning
    already does."""
    # BIND the token array to a column before the window transform
    # (r12): a lambda over the raw tokens("text") EXPRESSION inlines
    # the regex tokenizer into every slice, re-tokenizing the document
    # once per window — the col_01 finding, measured 7× there
    tk = F.col("_tk")
    nwin = F.size(tk) - w + 1
    hashes = F.when(
        nwin >= 1,
        F.transform(F.sequence(F.lit(1), nwin),
                    lambda i: F.md5(F.array_join(F.slice(tk, i, w), " ")))
    ).otherwise(F.array().cast("array<string>"))
    # spread a narrow scan before the per-row window-md5 explode (r15,
    # guide §2.5 — the heaviest JVM per-row stage in the dedup family;
    # no-op on wide scans)
    g = materialize(
        spread(docs).select("doc_id", tokens("text").alias("_tk"))
            .select("doc_id", F.explode(hashes).alias("h"))
            .groupBy("doc_id", "h").agg(F.count("*").alias("c")))
    dup = (g.groupBy("h").count()
            .filter(F.col("count") >= 2).select("h"))
    per_doc = (g.join(dup, "h")
                .groupBy("doc_id")
                .agg(F.sum("c").alias("n_dup_spans")))
    totals = g.groupBy("doc_id").agg(F.sum("c").alias("n_spans"))
    return (totals.join(per_doc, "doc_id")
                  .select("doc_id", "n_spans", "n_dup_spans",
                          F.round(F.col("n_dup_spans").cast("double")
                                  / F.col("n_spans"), 4).alias("dup_frac"))
                  .orderBy("doc_id"))


def ded_substr(spark, sf):
    """Exact substring-duplication detection over the documents table
    (window width SUBSTR_W tokens).  The fixture's near-duplicate docs
    share long token runs, so the result is non-vacuous at every SF
    (1115/1015/10533 duplicated window hashes at sf0.001/0.01/0.1)."""
    return substr_dup_stats(T(spark, sf, "documents"))


_SUBSTR_ORACLE = f"""
WITH t AS (SELECT doc_id, {SQL_TOKENS.format(col="text")} AS toks
           FROM documents),
w AS (SELECT doc_id, md5(array_to_string(toks[i:i+{SUBSTR_W - 1}], ' ')) AS h
      FROM t, UNNEST(range(1, len(toks) - {SUBSTR_W} + 2)) AS u(i)
      WHERE len(toks) >= {SUBSTR_W}),
dup AS (SELECT h FROM (SELECT DISTINCT doc_id, h FROM w)
        GROUP BY h HAVING COUNT(*) >= 2),
pd AS (SELECT doc_id, COUNT(*) AS n_dup_spans
       FROM w JOIN dup USING (h) GROUP BY doc_id),
tot AS (SELECT doc_id, COUNT(*) AS n_spans FROM w GROUP BY doc_id)
SELECT tot.doc_id, tot.n_spans, pd.n_dup_spans,
       ROUND(CAST(pd.n_dup_spans AS DOUBLE) / tot.n_spans, 4) AS dup_frac
FROM tot JOIN pd USING (doc_id) ORDER BY tot.doc_id
"""

_EXACT_ORACLE = """
WITH corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL SELECT doc_id, text FROM documents WHERE doc_id < 50)
SELECT md5(text) AS h, count(*) AS n, min(doc_id) AS keep_id
FROM corpus GROUP BY 1 HAVING count(*) > 1
"""

_INCR_ORACLE = f"""
WITH t0 AS (SELECT doc_id, {{t}} AS t FROM documents),
sh AS (SELECT doc_id, {{s}} AS s FROM t0),
p AS (SELECT a.doc_id AS i, b.doc_id AS j,
             len(list_intersect(a.s, b.s))::DOUBLE
               / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jac
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE b.doc_id >= (SELECT (max(doc_id) + 1) * {CORPUS_SPLIT_NUM}
                                // {CORPUS_SPLIT_DEN} FROM documents))
SELECT i, j, ROUND(jac, 3) AS jac FROM p WHERE jac >= {JACCARD_THRESHOLD}
""".format(t=SQL_TOKENS.format(col="text"), s=SQL_SHINGLES3)

_DOCS = {
    "ded_exact": "Exact dedup: content-hash groupBy",
    "ded_ngram": "Exact 3-gram Jaccard pair dedup (shingle equi-join)",
    "ded_ngram2": "Exact 3-gram Jaccard pair dedup via PREFIX FILTERING "
                  "(Bayardo AllPairs) — the unguarded exact-semantics "
                  "scale path; identical result certified against "
                  "ded_ngram's brute-force oracle",
    "ded_minhash": "MinHash + LSH near-dup (128 perms, 32×4 bands, verified)",
    "ded_incr": "Incremental near-dup: new batch vs stored corpus "
                "(broadcast band probe, corpus never shuffles)",
    "dupcc_01": "Near-dup cluster assignment: iterative connected "
                "components (min-label propagation) over the MinHash "
                "pair graph",
    "dupsel_01": "Quality-based dup retention: keep each cluster's "
                 "longest document (window-free per-group argmax)",
    "ded_simhash": "SimHash planted-duplicate certification (band "
                   "pipeline must pair identical texts at Hamming 0)",
    "ded_simhash_raw": "SimHash near-dup raw pairs (64-bit, band "
                       "blocking, Hamming ≤ 6; signature-dependent set)",
    "ded_embed": "Embedding cosine near-dup pairs (double-fold dot product)",
    "ded_embed2": "Embedding near-dup via banded LSH + exact-cosine "
                  "verify (the scale path ded_embed's cap guard "
                  "names; Hamming-1 multiprobe available for mid-tau "
                  "regimes): planted cos-0.9999 variants, "
                  "hash-certified against the exact all-pairs oracle",
    "ded_substr": "Exact substring-duplication profile (8-token "
                  "sliding-window hash equi-join — the suffix-array "
                  "repeated-substring query, Spark-native): per-doc "
                  "duplicated-span counts and fraction",
    "sdd_01": "SemDeDup: k-means clusters (km_01's deterministic "
              "Lloyd verbatim) + per-cluster pairwise cosine prune — "
              "cluster-bounded quadratic, planted semantic duplicates "
              "hash-certified through the unrolled-SQL Lloyd oracle",
    "sdd_02": "INCREMENTAL SemDeDup (r12): new-batch arrivals "
              "assigned to FROZEN corpus centroids in one pass, "
              "pruned only against existing cluster members — "
              "per-batch cost |batch|·E[cluster], corpus-size "
              "independent; frozen assignment + asymmetric prune "
              "hash-certified",
}

_ORACLES = {
    "ded_exact": _EXACT_ORACLE,
    "ded_ngram": _NGRAM_ORACLE,
    "ded_ngram2": _NGRAM_ORACLE,
    "ded_minhash": _MINHASH_ORACLE,
    "ded_incr": _INCR_ORACLE,
    "dupcc_01": _DUPCC_ORACLE,
    "dupsel_01": _DUPSEL_ORACLE,
    # ded_simhash's hashed contract is the planted-duplicate invariant;
    # the raw signature-dependent pair set (ded_simhash_raw) stays
    # rows-only and is property-tested in tests/test_llmops.py.
    "ded_simhash": _SIMHASH_ORACLE,
    "ded_embed": _EMBED_ORACLE,
    "ded_embed2": _EMBED2_ORACLE,
    "sdd_01": _sdd_oracle(),
    "sdd_02": _sdd_02_oracle(),
    "ded_substr": _SUBSTR_ORACLE,
}


def specs() -> list[QuerySpec]:
    g = globals()
    return [QuerySpec(key=k, fn=g[k], oracle=_ORACLES.get(k), doc=d,
                      tags=("dedup", "llm"))
            for k, d in _DOCS.items()]
