"""Similarity search over embedding columns (ArrayType(FloatType)).

- ``ann_topk``  exact brute-force cosine top-k — the correctness
  baseline, a broadcast join of the (small) query set against the
  corpus followed by a per-query window top-k.  At 100 TB the corpus
  side stays partitioned; only queries broadcast.
- ``ann_lsh``   random-hyperplane LSH: 8 tables × 8-bit signatures,
  bucket join, exact re-rank within buckets (recall measured on
  planted neighbors in tests/test_llmops.py).
- ``ann_ivf``   inverted-file index: k-means-ish cells (distributed
  Lloyd steps, Arrow matmul assignment), queries probe their nprobe
  nearest cells, exact re-rank inside cells.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import catalog
from ..registry import QuerySpec
from ..session import local_frame

T = catalog.load

DIM = 64
# 8 tables × 8 bits (64 planes): for random 64-dim embeddings a 16-bit
# bucket almost never collides (recall ~0), while 8 bits × 8 tables
# keeps bucket fan-in manageable and recalls most of the true top-k —
# measured against brute force in tests/test_llmops.py.
N_TABLES = 8
BITS_PER_TABLE = 8


def _as_double(col: str):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a: str, b: str):
    # NOTE (r15 optimization round, measured): unrolling this fold into
    # 64 element_at terms looked faster in isolation (0.78 s vs 1.02 s
    # on a materialized pair frame) but REGRESSED every real caller
    # 1.3-2.6× (ann_topk 0.48→1.87 s, ded_embed2 1.93→5.02 s at sf0.1)
    # — the 200-node-per-fold expression trees blow up codegen/planning
    # in full plans.  The interpreted HOF left-fold stays.
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: str):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int) -> DataFrame:
    """Exact cosine top-k: (q_id, neighbor_id, rank, cos).

    queries is assumed small → broadcast; ranking is a per-query window
    (partitionBy q_id), so the shuffle is by query, never all-pairs."""
    c = corpus.select(F.col("vec_id").alias("neighbor_id"),
                      _as_double("embedding").alias("vc"))
    q = queries.select(F.col("vec_id").alias("q_id"),
                       _as_double("embedding").alias("vq"))
    sim = (c.join(F.broadcast(q), F.col("q_id") != F.col("neighbor_id"))
            .select("q_id", "neighbor_id",
                    (_dot("vq", "vc") / (_norm("vq") * _norm("vc"))).alias("cos")))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (sim.withColumn("rank", F.row_number().over(w))
               .filter(F.col("rank") <= k))


def ann_topk(spark, sf):
    emb = T(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return (brute_force_topk(emb, queries, k=10)
            .select("q_id", "neighbor_id", "rank",
                    F.round("cos", 4).alias("cos"))
            .orderBy("q_id", "rank"))


# ------------------------------------------------------------------ LSH path

def _hyperplanes() -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (seeded by table/bit/dim
    via sha256 — reproducible across sessions, no runtime RNG)."""
    planes = []
    for t in range(N_TABLES):
        for b in range(BITS_PER_TABLE):
            row = []
            for d in range(DIM):
                h = hashlib.sha256(f"lsh:{t}:{b}:{d}".encode()).digest()
                v = int.from_bytes(h[:4], "big") / 2**31 - 1.0  # [-1, 1)
                row.append(v)
            planes.append(row)
    return planes


_PLANES = _hyperplanes()


def lsh_signatures(emb: DataFrame) -> DataFrame:
    """(vec_id, table, sig): sign-of-dot-product bit signatures.

    The 64 hyperplane projections are one Arrow-batched numpy matmul
    per batch (vectors × planesᵀ), not 64 interpreted higher-order
    aggregates — Spark evaluates HOF lambdas per element, which made
    the expression form ~50× slower.  Sign semantics identical
    (dot > 0 sets the bit)."""
    planes_t = np.array(_PLANES).T                   # DIM × (tables*bits)
    weights = (1 << (np.arange(BITS_PER_TABLE, dtype=np.int64)))

    @F.pandas_udf("array<int>")
    def sigs(vecs: pd.Series) -> pd.Series:
        m = np.asarray(vecs.tolist(), dtype=np.float64)      # n × DIM
        bits = (m @ planes_t) > 0                             # n × 64
        per_table = bits.reshape(len(m), N_TABLES, BITS_PER_TABLE)
        out = (per_table * weights).sum(axis=2).astype(np.int32)
        return pd.Series(list(out))

    e = emb.select("vec_id", _as_double("embedding").alias("v"),
                   F.posexplode(sigs("embedding")).alias("table", "sig"))
    return e.select("vec_id", "v", "table", "sig")


def ann_lsh_topk(corpus: DataFrame, queries: DataFrame, k: int,
                 multiprobe: int = 0) -> DataFrame:
    """Approximate top-k: candidates share an LSH bucket in ≥1 table,
    then exact cosine re-rank.  Bucket join shuffles on (table, sig).

    ``multiprobe=1`` additionally probes, per table, every bucket at
    Hamming distance 1 from the query's signature (the standard
    multiprobe-LSH recall lever): the QUERY side fans out
    1 + BITS_PER_TABLE rows per table — the corpus index is untouched
    and the probe rows still ride the same broadcast — so recall rises
    (measured on the clustered fixture: 0.885→1.000 / 0.640→0.965 /
    0.425→0.915 at noise 0.06/0.10/0.14) at the cost of 9× more
    *probe* rows, NOT 9× more corpus.  At 100 TB that trade is almost always right: the query
    set is tiny next to the corpus, and the alternative recall lever
    (more/wider tables) multiplies the stored index instead."""
    cs = lsh_signatures(corpus).select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("vc"),
        "table", "sig")
    qs = lsh_signatures(queries).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("vq"),
        "table", "sig")
    if multiprobe:
        flips = F.array(F.col("sig"),
                        *[F.col("sig").bitwiseXOR(F.lit(1 << b))
                          for b in range(BITS_PER_TABLE)])
        qs = qs.select("q_id", "vq", "table",
                       F.explode(flips).alias("sig"))
    cand = (cs.join(F.broadcast(qs), ["table", "sig"])
              .filter(F.col("q_id") != F.col("neighbor_id"))
              .select("q_id", "vq", "neighbor_id", "vc").distinct())
    sim = cand.select("q_id", "neighbor_id",
                      (_dot("vq", "vc") / (_norm("vq") * _norm("vc"))).alias("cos"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (sim.withColumn("rank", F.row_number().over(w))
               .filter(F.col("rank") <= k))


#: planted-duplicate retrieval contract (the standard ANN end-to-end
#: sanity invariant): each query vector re-enters the corpus verbatim
#: under an offset id.  An exact copy has identical LSH signatures in
#: every table (resp. the identical nearest IVF cell, which the query
#: always probes first), and its cosine strictly dominates every other
#: corpus vector (no natural duplicates of the query ids exist in the
#: fixtures — checked), so the pipeline MUST return it at rank 1.
#: Deterministic (seeded planes / deterministic seeds) and statable in
#: SQL, unlike recall-vs-exact, which on these unclustered random
#: embeddings is both low and query-dependent.  The plant offset is
#: derived from max(vec_id)+1 (control-plane scalar, same pattern as
#: dedup's corpus_split_threshold) so planted ids can never collide
#: with natural ids on any fixture (ADVICE r5).


def _planted_rank1(emb: DataFrame, topk_fn, k: int = 10) -> DataFrame:
    from ..functions.barrier import materialize

    base = emb.select("vec_id", "embedding")
    offset = base.agg(F.max("vec_id")).first()[0] + 1
    queries = base.filter(F.col("vec_id") < 5)
    planted = queries.select(
        (F.col("vec_id") + offset).alias("vec_id"), "embedding")
    # r15: the index pipelines consume the planted corpus 5-8 times
    # (train count, seeds, per-iteration assigns, cells, bounds,
    # encode) — each re-ran the scan+union subtree.  One barrier;
    # measured ann_sq 3.32 → 2.76 s, ann_pq 3.35 → 2.83 s warm at
    # sf0.1, identical output (the rank-1 certification is robust to
    # the partition-order FP jitter applyInPandas means already had).
    corpus = materialize(base.unionByName(planted))
    queries = materialize(queries)
    res = topk_fn(corpus, queries, k)
    pr = F.max(F.when(F.col("neighbor_id") == F.col("q_id") + offset,
                      F.col("rank")))
    return (res.groupBy("q_id").agg(pr.alias("pr"))
               .select("q_id",
                       F.coalesce(F.col("pr") == 1, F.lit(False))
                        .alias("planted_at_rank1"))
               .orderBy("q_id"))


def ann_lsh(spark, sf):
    """LSH certification key: planted-duplicate retrieval at rank 1
    through the full signature → bucket-join → re-rank pipeline; the
    raw approximate top-k stays available as ann_lsh_raw."""
    return _planted_rank1(T(spark, sf, "embeddings"), ann_lsh_topk)


def ann_lsh_raw(spark, sf):
    emb = T(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return (ann_lsh_topk(emb, queries, k=10)
            .select("q_id", "neighbor_id", "rank",
                    F.round("cos", 4).alias("cos"))
            .orderBy("q_id", "rank"))


# ------------------------------------------------------------------ IVF path

IVF_CLUSTERS = 32
IVF_NPROBE = 6


def ivf_assign(emb: DataFrame, centroids) -> DataFrame:
    """(…, cluster): nearest centroid by cosine, one numpy matmul per
    Arrow batch.  `centroids` is a k×DIM float64 array broadcast via
    closure (control-plane data: kilobytes)."""
    import numpy as _np

    cn = centroids / _np.linalg.norm(centroids, axis=1, keepdims=True)

    @F.pandas_udf("int")
    def nearest(vecs: pd.Series) -> pd.Series:
        m = _np.asarray(vecs.tolist(), dtype=_np.float64)
        m = m / _np.linalg.norm(m, axis=1, keepdims=True)
        return pd.Series((m @ cn.T).argmax(axis=1).astype("int32"))

    return emb.withColumn("cluster", nearest("embedding"))


def _ivf_step(corpus: DataFrame, centroids) -> "np.ndarray":
    """One fused IVF Lloyd iteration (r16, VERDICT r15 item 3 — the
    ``_km_step`` discipline applied to ivf_train): cosine assignment
    (the IDENTICAL numpy route as :func:`ivf_assign` — normalize,
    matmul against the normalized centroid matrix, argmax with numpy's
    first-index tie-break) plus the per-cluster elementwise mean in
    ONE mapInPandas pass emitting ≤ k×DIM int64 partials, which the
    JVM reduces — instead of an ArrowEvalPython assignment pass PLUS a
    groupBy(cluster).applyInPandas that shipped EVERY corpus row's
    embedding through a shuffle and the Python boundary again (guide
    §2.3 "aggregate before you shuffle" + §4.1).

    The mean rides the exact FLOOR(x·KM_SUM_SCALE) BIGINT route, so it
    is ORDER-EXACT — independent of partitioning and row order —
    where the former applyInPandas ``m.mean(axis=0)`` was an
    order-dependent double fold over whatever rows the shuffle
    delivered.  The ≤1e-9 per-element value shift is invisible to
    every declared consumer: ann_ivf/ann_sq/ann_bx certify a planted
    IDENTICAL duplicate at rank 1 through an exact re-rank (robust to
    centroid jitter by construction), and ann_ivf_raw is declared
    rows-only.  Equality of this fused kernel against its unfused
    composition is pinned by
    tests/test_llmops.py::test_ivf_step_equals_assign_mean_composition.
    Empty clusters keep their previous centroid (same rule as before).
    """
    C = np.asarray(centroids, dtype=np.float64)
    cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    k, dim = C.shape

    def partials(batches):
        psum = np.zeros((k, dim), dtype=np.int64)
        cnt = np.zeros(k, dtype=np.int64)
        seen = 0
        peak = 0.0
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            seen += n
            X = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
            Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
            j = (Xn @ cn.T).argmax(axis=1)
            XS, peak = _scaled_sum_terms(X, peak, seen)
            np.add.at(psum, j, XS)
            np.add.at(cnt, j, 1)
        if seen:
            nz = np.flatnonzero(cnt)
            yield pd.DataFrame({
                "cid": np.repeat(nz.astype(np.int32), dim),
                "dim": np.tile(np.arange(dim, dtype=np.int32), len(nz)),
                "psum": psum[nz].ravel(),
                "cnt": np.repeat(cnt[nz], dim)})

    rows = (corpus.select("embedding")
            .mapInPandas(partials,
                         "cid int, dim int, psum long, cnt long")
            .groupBy("cid", "dim")
            .agg(((F.sum("psum").cast("double") / F.sum("cnt"))
                  / F.lit(KM_SUM_SCALE)).alias("cv"))
            .collect())
    out = C.copy()
    for r in rows:
        out[r["cid"], r["dim"]] = r["cv"]
    return out


def ivf_train(corpus: DataFrame, n_clusters: int = IVF_CLUSTERS,
              iters: int = 1):
    """k-means-ish centroids: deterministic evenly-spaced seeds, then
    `iters` fused Lloyd steps (:func:`_ivf_step` — one Arrow pass per
    iteration, k×DIM-bounded partials; the centroid matrix collected
    each step is control-plane kilobytes)."""
    n = corpus.count()
    stride = max(n // n_clusters, 1)
    # deterministic hash-strided seeds — distributed TakeOrdered, never
    # a global row_number window (single task at 100 TB)
    seeds = (corpus.filter(F.pmod(F.xxhash64("vec_id"), F.lit(stride)) == 0)
                   .orderBy("vec_id").limit(n_clusters)
                   .select("vec_id", "embedding").collect())
    centroids = np.asarray([r.embedding for r in seeds], dtype=np.float64)
    for _ in range(iters):
        centroids = _ivf_step(corpus.select("embedding"), centroids)
    return centroids


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int,
             n_clusters: int = IVF_CLUSTERS,
             nprobe: int = IVF_NPROBE) -> DataFrame:
    """IVF approximate top-k: corpus partitioned by nearest centroid
    (the inverted file), each query probes its `nprobe` closest cells,
    exact cosine re-rank inside the probed cells.  The join shuffles on
    the cluster id — corpus cells stay partitioned, nothing all-pairs."""
    centroids = ivf_train(corpus, n_clusters)
    cn = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)

    cells = (ivf_assign(corpus.select("vec_id", "embedding"), centroids)
             .select(F.col("vec_id").alias("neighbor_id"),
                     _as_double("embedding").alias("vc"), "cluster"))

    @F.pandas_udf("array<int>")
    def probe(vecs: pd.Series) -> pd.Series:
        m = np.asarray(vecs.tolist(), dtype=np.float64)
        m = m / np.linalg.norm(m, axis=1, keepdims=True)
        order = np.argsort(-(m @ cn.T), axis=1)[:, :nprobe].astype("int32")
        return pd.Series(list(order))

    qs = (queries.select(F.col("vec_id").alias("q_id"),
                         _as_double("embedding").alias("vq"),
                         F.explode(probe("embedding")).alias("cluster")))
    cand = (cells.join(F.broadcast(qs), "cluster")
                 .filter(F.col("q_id") != F.col("neighbor_id")))
    sim = cand.select("q_id", "neighbor_id",
                      (_dot("vq", "vc") / (_norm("vq") * _norm("vc"))).alias("cos"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (sim.withColumn("rank", F.row_number().over(w))
               .filter(F.col("rank") <= k))


def ann_ivf(spark, sf):
    """IVF certification key: planted-duplicate retrieval at rank 1
    through train → assign → probe → re-rank; raw top-k in
    ann_ivf_raw."""
    return _planted_rank1(T(spark, sf, "embeddings"), ivf_topk)


def ann_ivf_raw(spark, sf):
    emb = T(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return (ivf_topk(emb, queries, k=10)
            .select("q_id", "neighbor_id", "rank",
                    F.round("cos", 4).alias("cos"))
            .orderBy("q_id", "rank"))


# ------------------------------------- quantized-index IVF (IVF-SQ)

#: candidate multiple for the quantized first pass: approx scoring
#: keeps top 4·k per query, exact re-rank decides the final k
SQ_CAND_FACTOR = 4


def sq_ivf_topk(corpus: DataFrame, queries: DataFrame, k: int,
                n_clusters: int = IVF_CLUSTERS,
                nprobe: int = IVF_NPROBE) -> DataFrame:
    """IVF-SQ approximate top-k — the memory posture a 100 TB
    embedding store actually runs: the inverted file stores uint8
    SCALAR-QUANTIZED codes (vq_01's per-dim scheme, 8× smaller than
    the float64 compute form), candidate scoring runs on DEQUANTIZED
    codes entirely in JVM higher-order functions, and only the top
    ``SQ_CAND_FACTOR·k`` candidates per query are re-ranked against
    the exact float vectors (a broadcast semi-join back into the
    corpus — candidate-sized, never corpus-sized).

    Distributed shape: one shuffle on cluster id for the probe join
    (cells stay partitioned, nothing all-pairs), WindowGroupLimit
    for both the candidate cut and the final top-k, a 1-row broadcast
    for the per-dim bounds, and a broadcast of the candidate list for
    the exact re-rank."""
    centroids = ivf_train(corpus, n_clusters)
    cn = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)

    e = corpus.select("vec_id", _as_double("embedding").alias("e"))
    stats = e.agg(
        F.array(*[F.min(F.col("e")[i]) for i in range(DIM)]).alias("mn"),
        F.array(*[F.max(F.col("e")[i]) for i in range(DIM)]).alias("mx"))

    # the INDEX: cluster id + uint8 codes; the float embedding is
    # dropped here — everything until the re-rank sees codes only
    assigned = ivf_assign(corpus.select("vec_id", "embedding"),
                          centroids)
    zc = (assigned.select("vec_id", _as_double("embedding").alias("e"),
                          "cluster")
          .crossJoin(F.broadcast(stats)))
    trip = F.arrays_zip("e", "mn", "mx")
    code = F.transform(
        trip,
        lambda s: F.when(s["mx"] == s["mn"], F.lit(0)).otherwise(
            F.round((s["e"] - s["mn"])
                    / ((s["mx"] - s["mn"]) / VQ_LEVELS))
        ).cast("int"))
    cells = zc.select(F.col("vec_id").alias("neighbor_id"),
                      code.alias("codes"), "cluster")

    @F.pandas_udf("array<int>")
    def probe(vecs: pd.Series) -> pd.Series:
        m = np.asarray(vecs.tolist(), dtype=np.float64)
        m = m / np.linalg.norm(m, axis=1, keepdims=True)
        order = np.argsort(-(m @ cn.T), axis=1)[:, :nprobe] \
            .astype("int32")
        return pd.Series(list(order))

    qs = (queries.select(F.col("vec_id").alias("q_id"),
                         _as_double("embedding").alias("vq"),
                         F.explode(probe("embedding")).alias("cluster")))
    cand = (cells.join(F.broadcast(qs), "cluster")
                 .filter(F.col("q_id") != F.col("neighbor_id"))
                 .crossJoin(F.broadcast(stats)))
    # dequantize + approximate cosine, all JVM expressions on arrays
    deq = F.zip_with(
        "codes", F.arrays_zip("mn", "mx"),
        lambda c, s: F.when(s["mx"] == s["mn"], s["mn"]).otherwise(
            s["mn"] + c * ((s["mx"] - s["mn"]) / VQ_LEVELS)))
    scored = cand.select("q_id", "neighbor_id", "vq",
                         deq.alias("dv"))
    apx = (_dot("vq", "dv") / (_norm("vq") * _norm("dv")))
    wc = Window.partitionBy("q_id").orderBy(F.desc("apx"),
                                            F.asc("neighbor_id"))
    shortlist = (scored.withColumn("apx", apx)
                 .withColumn("crank", F.row_number().over(wc))
                 .filter(F.col("crank") <= SQ_CAND_FACTOR * k)
                 .select("q_id", "vq", "neighbor_id"))

    exact = (e.select(F.col("vec_id").alias("neighbor_id"),
                      F.col("e").alias("vc"))
             .join(F.broadcast(shortlist), "neighbor_id"))
    sim = exact.select(
        "q_id", "neighbor_id",
        (_dot("vq", "vc") / (_norm("vq") * _norm("vc"))).alias("cos"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"),
                                           F.asc("neighbor_id"))
    return (sim.withColumn("rank", F.row_number().over(w))
               .filter(F.col("rank") <= k))


def ann_sq(spark, sf):
    """IVF-SQ certification key: planted-duplicate retrieval at rank 1
    through quantize → inverted file of uint8 codes → approx-scored
    shortlist → exact re-rank.  An exact duplicate's dequantized
    cosine is within step-error of 1.0, far above the noise floor, so
    it always survives the 4·k shortlist and the exact re-rank pins
    it at rank 1 — quantization error provably cannot displace it."""
    return _planted_rank1(T(spark, sf, "embeddings"), sq_ivf_topk)


# ------------------------------------------------------- quantization

#: scalar-quantization code width (uint8 codes: 4× smaller than
#: float32, 8× smaller than the double compute form)
VQ_LEVELS = 255


def vq_01(spark, sf):
    """Embedding scalar quantization (the vector-compression step of a
    100 TB embedding store): per-dimension global [min, max] → uint8
    codes x̂ = round((x−mn)/step·255), dequantize, and certify the
    round-trip — max |x − deq(q(x))| per vector must be ≤ step/2 by
    construction (round-to-nearest), emitted as a hashed per-label
    boolean plus the decimal-routed mean absolute error.

    Scale shape: per-dim bounds are ONE partial aggregate of 2·DIM
    min/max expressions over fixed columns (no explode, no per-dim
    shuffle — the r7 bm25 tf-column discipline applied to arrays);
    bounds attach back via the 1-row broadcast scalar-attach pattern;
    quantize/dequantize/error are per-row JVM higher-order functions.
    Codes are 4× smaller than float32 — at 100 TB this is the
    difference between an in-memory ANN index and a disk-bound one.
    """
    emb = T(spark, sf, "embeddings").select(
        "vec_id", "label", _as_double("embedding").alias("e"))
    stats = emb.agg(
        F.array(*[F.min(F.col("e")[i]) for i in range(DIM)]).alias("mn"),
        F.array(*[F.max(F.col("e")[i]) for i in range(DIM)]).alias("mx"))
    z = emb.crossJoin(F.broadcast(stats))   # 1-row scalar attach

    # per-element |x − dequantized| via a 3-way zip (struct transform)
    trip = F.arrays_zip("e", "mn", "mx")
    step = lambda s: (s["mx"] - s["mn"]) / VQ_LEVELS          # noqa: E731
    err = F.transform(
        trip,
        lambda s: F.when(
            s["mx"] == s["mn"], F.lit(0.0)
        ).otherwise(F.abs(
            s["e"] - (s["mn"] + F.round((s["e"] - s["mn"]) / step(s))
                      * step(s)))))
    half_step = F.transform(trip, lambda s: step(s) / 2)
    scored = z.select(
        "vec_id", "label",
        F.array_max(err).alias("max_err"),
        (F.array_max(F.zip_with(err, half_step, lambda a, b: a - b))
         <= F.lit(1e-12)).alias("ok"))
    return (scored.groupBy("label")
            .agg(F.count("*").alias("n_vecs"),
                 F.round(F.sum(F.col("max_err").cast("decimal(28,18)"))
                          .cast("double") * 1e6 /
                         F.count("*"), 4).alias("mean_err_ppm"),
                 F.min(F.col("ok").cast("int")).cast("boolean")
                  .alias("within_half_step"))
            .orderBy("label"))


def _vq_oracle() -> str:
    mins = ", ".join(f"MIN(e[{i + 1}])" for i in range(DIM))
    maxs = ", ".join(f"MAX(e[{i + 1}])" for i in range(DIM))
    deq = (f"(mn[i] + ROUND((e[i] - mn[i]) / ((mx[i] - mn[i]) / "
           f"{VQ_LEVELS})) * ((mx[i] - mn[i]) / {VQ_LEVELS}))")
    err_i = (f"CASE WHEN mx[i] = mn[i] THEN 0.0 "
             f"ELSE abs(e[i] - {deq}) END")
    half_i = f"(mx[i] - mn[i]) / {VQ_LEVELS} / 2"
    return f"""
WITH emb AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
             FROM embeddings),
st AS (SELECT [{mins}] AS mn, [{maxs}] AS mx FROM emb),
z AS (SELECT vec_id, label,
             list_max(list_transform(range(1, {DIM + 1}),
                                     i -> {err_i})) AS max_err,
             list_max(list_transform(range(1, {DIM + 1}),
                                     i -> {err_i} - ({half_i})))
               <= 1e-12 AS ok
      FROM emb, st)
SELECT label, count(*) AS n_vecs,
       ROUND(CAST(SUM(CAST(max_err AS DECIMAL(28,18))) AS DOUBLE)
             * 1e6 / count(*), 4) AS mean_err_ppm,
       CAST(min(CAST(ok AS INT)) AS BOOLEAN) AS within_half_step
FROM z GROUP BY label ORDER BY label
"""


# --------------------------------------------------- k-means (km_01)

#: Lloyd parameters for the certified clustering key.  K and the
#: iteration count are fixed so the DuckDB oracle can unroll the same
#: chain; at 100 TB the shape per iteration is ONE shuffle (groupBy
#: cid with DIM+1 partial-agg columns) plus a K×DIM control-plane
#: collect — the exact MLlib KMeans execution shape.
# ---------------------------------------------------- product quantization

#: PQ geometry: M subspaces of DIM/M dims, KS codebook entries each —
#: a corpus vector becomes M uint4-sized codes (here ints), 64× smaller
#: than the float64 compute form and 8× smaller than ann_sq's per-dim
#: uint8 codes.  The FAISS IndexPQ flat-scan shape: ADC lookup tables
#: make scoring O(M) per (query, vector) instead of O(DIM).
PQ_M = 8
PQ_DS = DIM // PQ_M
PQ_KS = 16
PQ_ITERS = 2
#: codebooks train on a strided sample — at 100 TB training reads a
#: bounded sample, never the corpus
PQ_TRAIN_STRIDE = 3
#: ADC-shortlist factor is the PQ recall lever (measured on the
#: 20-cluster fixture, noise 0.06: recall@10 0.565 at 4·k, 0.905 at
#: 8·k with KS=16; widening KS to 32 adds only +0.02) — the exact
#: re-rank stays candidate-sized either way
PQ_CAND_FACTOR = 8


def _pq_sub(vec_col: str, m: int):
    return F.slice(vec_col, m * PQ_DS + 1, PQ_DS)


def _pq_sqd(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                       F.lit(0.0), lambda acc, x: acc + x)


def _pq_cb_frame(spark, cb: "np.ndarray") -> DataFrame:
    """The full codebook + per-entry squared norms as ONE broadcastable
    row (cmat: M×KS×DS doubles, nmat: M×KS ‖c‖² — the vq_01/km_01
    scalar-attach discipline; M·KS·DS = 1024 doubles)."""
    import pyspark.sql.types as ST

    arr3 = ST.ArrayType(ST.ArrayType(ST.ArrayType(ST.DoubleType())))
    arr2 = ST.ArrayType(ST.ArrayType(ST.DoubleType()))
    schema = ST.StructType([ST.StructField("cmat", arr3),
                            ST.StructField("nmat", arr2)])
    cmat = [[[float(v) for v in c] for c in sub] for sub in cb]
    nmat = [[float((np.asarray(c) ** 2).sum()) for c in sub]
            for sub in cb]
    return local_frame(spark, [(cmat, nmat)], schema)


def _pq_encode_udf(cb: "np.ndarray"):
    """Arrow-batched PQ encoder: reshape each batch to (n, M, DS),
    squared distances to the (M, KS, DS) codebook in one einsum-shaped
    broadcast, argmin per subspace (first occurrence = lowest-cid
    tie-break).  A JVM higher-order fold here evaluates its lambda per
    ELEMENT — M·KS·DS interpreted steps per row, measured ~3 s of the
    7 s ann_pq run; the numpy form is one vectorized matmul per batch
    (the lsh_signatures lesson applied to PQ)."""
    cbm = np.asarray(cb, dtype=np.float64)

    @F.pandas_udf("array<int>")
    def enc(vecs: pd.Series) -> pd.Series:
        m = np.asarray(vecs.tolist(), dtype=np.float64)
        if len(m) == 0:
            return pd.Series([], dtype=object)
        sub = m.reshape(len(m), PQ_M, PQ_DS)
        d = ((sub[:, :, None, :] - cbm[None, :, :, :]) ** 2).sum(-1)
        return pd.Series(list(d.argmin(axis=2).astype("int32")))

    return enc


def pq_train(corpus: DataFrame) -> "np.ndarray":
    """Per-subspace Lloyd codebooks (M × KS × DS): strided training
    sample materialized once; every iteration is one Arrow-batched
    argmin assignment (all M subspaces in one pass) + one explode →
    posexplode groupBy(m, cid, dim) mean (map-side combinable into
    ≤ M·KS·DS groups).  Codebook entries for empty cells keep their
    previous value.  Seeds: per subspace the KS smallest-md5 sample
    rows (deterministic, a distributed TakeOrdered per m)."""
    from ..functions.barrier import materialize

    e = materialize(
        corpus.filter(F.col("vec_id") % PQ_TRAIN_STRIDE == 0)
              .select("vec_id", _as_double("embedding").alias("e")))
    sub = (e.select("vec_id", F.explode(F.array(*[
                F.struct(F.lit(m).alias("m"), _pq_sub("e", m).alias("sv"))
                for m in range(PQ_M)])).alias("s"))
            .select("vec_id", "s.m", "s.sv"))
    w = Window.partitionBy("m").orderBy(
        F.md5(F.concat_ws("|", F.col("m").cast("string"),
                          F.col("vec_id").cast("string"))), "vec_id")
    seeds = (sub.withColumn("r", F.row_number().over(w))
                .filter(F.col("r") <= PQ_KS)
                .select("m", (F.col("r") - 1).alias("cid"), "sv")
                .collect())
    cb = np.zeros((PQ_M, PQ_KS, PQ_DS))
    for r in seeds:
        cb[r["m"], r["cid"]] = r["sv"]
    for _ in range(PQ_ITERS):
        cb = _pq_step(e, cb)
    return cb


def _pq_step(e: DataFrame, cb: "np.ndarray") -> "np.ndarray":
    """One fused PQ Lloyd iteration (r16, VERDICT r15 item 3): the
    per-subspace argmin ENCODE (the identical numpy kernel as
    :func:`_pq_encode_udf` — same squared-distance broadcast, same
    first-index tie-break) plus the per-(m, cid) sub-vector mean in
    ONE mapInPandas pass emitting ≤ M·KS·DS int64 partials.  The
    former loop ran an ArrowEvalPython encode pass PLUS an
    explode(M)+posexplode(DS) of |sample|·M·DS rows into a
    groupBy-avg PER ITERATION (guide §2.3/§4.1).

    The mean rides the FLOOR(x·KM_SUM_SCALE) BIGINT route — ORDER
    EXACT, where the former ``F.avg(xv)`` was an order-dependent
    double fold over the shuffle's delivery order.  The ≤1e-9 shift in
    codebook entries is invisible to the declared consumers: ann_pq
    certifies a planted IDENTICAL duplicate (it encodes to the same M
    codes as its query whatever the codebook, and the exact-cosine
    re-rank pins rank 1).  Fused-vs-unfused equality is pinned by
    tests/test_llmops.py::test_pq_step_equals_encode_mean_composition.
    Codebook entries for empty cells keep their previous value."""
    cbm = np.asarray(cb, dtype=np.float64)

    def partials(batches):
        psum = np.zeros((PQ_M, PQ_KS, PQ_DS), dtype=np.int64)
        cnt = np.zeros((PQ_M, PQ_KS), dtype=np.int64)
        seen = 0
        peak = 0.0
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            seen += n
            m = np.asarray(pdf["e"].tolist(), dtype=np.float64)
            sub = m.reshape(n, PQ_M, PQ_DS)
            d = ((sub[:, :, None, :] - cbm[None, :, :, :]) ** 2).sum(-1)
            codes = d.argmin(axis=2)                      # (n, M)
            svs, peak = _scaled_sum_terms(sub, peak, seen)
            for mm in range(PQ_M):
                np.add.at(psum[mm], codes[:, mm], svs[:, mm, :])
                np.add.at(cnt[mm], codes[:, mm], 1)
        if seen:
            nz_m, nz_k = np.nonzero(cnt)
            yield pd.DataFrame({
                "m": np.repeat(nz_m.astype(np.int32), PQ_DS),
                "cid": np.repeat(nz_k.astype(np.int32), PQ_DS),
                "dim": np.tile(np.arange(PQ_DS, dtype=np.int32),
                               len(nz_m)),
                "psum": psum[nz_m, nz_k].ravel(),
                "cnt": np.repeat(cnt[nz_m, nz_k], PQ_DS)})

    rows = (e.select("e")
            .mapInPandas(partials,
                         "m int, cid int, dim int, psum long, cnt long")
            .groupBy("m", "cid", "dim")
            .agg(((F.sum("psum").cast("double") / F.sum("cnt"))
                  / F.lit(KM_SUM_SCALE)).alias("cv"))
            .collect())
    out = cbm.copy()
    for r in rows:
        out[r["m"], r["cid"], r["dim"]] = r["cv"]
    return out


def pq_topk(corpus: DataFrame, queries: DataFrame, k: int) -> DataFrame:
    """Flat-PQ approximate top-k with exact re-rank: encode the corpus
    as M argmin codes (ONE Arrow-batched numpy argmin pass — the float
    vector is dropped), score candidates by ADC —
    per query an M×KS inner-product lookup table, so each (query,
    vector) costs M table lookups instead of a DIM-dot — normalize by
    the reconstructed norm (codebook-norm LUT), shortlist
    PQ_CAND_FACTOR·k per query (WindowGroupLimit), exact-cosine
    re-rank on the float vectors (broadcast candidate join,
    candidate-sized).  The scan is corpus × queries with O(M) work
    per cell — the PQ promise; at 100 TB the same codes drop into an
    IVF cell layout (sq_ivf_topk's probe join) unchanged."""
    spark = corpus.sparkSession
    cb = pq_train(corpus)
    cbf = _pq_cb_frame(spark, cb)

    e = corpus.select("vec_id", _as_double("embedding").alias("e"))
    codes = e.select(F.col("vec_id").alias("neighbor_id"),
                     _pq_encode_udf(cb)("e").alias("codes"))

    q = queries.select(F.col("vec_id").alias("q_id"),
                       _as_double("embedding").alias("vq"))
    ql = q.crossJoin(F.broadcast(cbf))
    def _lut_term(m: int):
        sv = _pq_sub("vq", m)
        return F.transform(
            F.element_at("cmat", m + 1),
            lambda c: F.aggregate(
                F.zip_with(sv, c, lambda x, y: x * y),
                F.lit(0.0), lambda acc, x: acc + x))

    lut_terms = [_lut_term(m) for m in range(PQ_M)]
    qlut = ql.select("q_id", "vq", F.array(*lut_terms).alias("lut"),
                     F.col("nmat"))

    cand = (codes.join(F.broadcast(qlut),
                       F.col("q_id") != F.col("neighbor_id")))
    ip = F.aggregate(
        F.zip_with("codes", "lut", lambda c, l: F.element_at(l, c + 1)),
        F.lit(0.0), lambda acc, x: acc + x)
    n2 = F.aggregate(
        F.zip_with("codes", "nmat", lambda c, l: F.element_at(l, c + 1)),
        F.lit(0.0), lambda acc, x: acc + x)
    apx = ip / (_norm("vq") * F.sqrt(n2))
    wc = Window.partitionBy("q_id").orderBy(F.desc("apx"),
                                            F.asc("neighbor_id"))
    shortlist = (cand.withColumn("apx", apx)
                 .withColumn("crank", F.row_number().over(wc))
                 .filter(F.col("crank") <= PQ_CAND_FACTOR * k)
                 .select("q_id", "vq", "neighbor_id"))

    exact = (e.select(F.col("vec_id").alias("neighbor_id"),
                      F.col("e").alias("vc"))
             .join(F.broadcast(shortlist), "neighbor_id"))
    sim = exact.select(
        "q_id", "neighbor_id",
        (_dot("vq", "vc") / (_norm("vq") * _norm("vc"))).alias("cos"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"),
                                           F.asc("neighbor_id"))
    return (sim.withColumn("rank", F.row_number().over(w))
               .filter(F.col("rank") <= k))


def ann_pq(spark, sf):
    """Flat-PQ certification key: planted-duplicate retrieval at
    rank 1 through train → encode → ADC shortlist → exact re-rank.
    The planted duplicate encodes to the SAME M codes as its query
    (identical vectors argmin identically), so its ADC score equals
    the query's self-reconstruction score — the shortlist cannot
    drop it — and the exact re-rank pins it at rank 1."""
    return _planted_rank1(T(spark, sf, "embeddings"), pq_topk)


KM_K = 8
KM_ITERS = 2
#: integer-scaled arithmetic (FLOOR(x·SCALE) summed as BIGINT): exact
#: and associative on both engines, so partial-agg order cannot move
#: the hash — the decimal-routing discipline without any decimal
#: cast-rounding-mode exposure.  A squared distance
#: Σ_dim FLOOR(diff²·KM_DIST_SCALE) stays exact in int64 only while
#: dim · (max diff² · KM_DIST_SCALE + 1) < 2^63 — at DIM=64 that is
#: |diff| < ~380; past it :func:`_scaled_sq_dists` raises
#: OverflowError instead of wrapping.
KM_DIST_SCALE = 1e12
#: The numpy Lloyd steps (_ivf_step, _pq_step, _km_step) accumulate
#: FLOOR(x·KM_SUM_SCALE) in int64, which stays exact only while
#: (max|x| · KM_SUM_SCALE + 1) · rows < 2^63 ≈ 9.2e18 — for |x| ≤ 1
#: that is ~9.2e9 rows per task, and a single |x| ≥ 9.3e9 breaks it
#: alone.  Past the bound numpy wraps silently (a NaN casts to
#: INT64_MIN), so :func:`_scaled_sum_terms` raises OverflowError first.
KM_SUM_SCALE = 1e9


def _scaled_sum_terms(x: "np.ndarray", peak: float, rows: int):
    """``FLOOR(x·KM_SUM_SCALE)`` as int64 for an accumulator that has
    summed ``rows`` rows (``x``'s included) whose largest magnitude
    before ``x`` was ``peak``; returns ``(terms, new peak)``.  Raises
    OverflowError on a non-finite value or once the accumulator's
    int64 bound could be reached (see KM_SUM_SCALE)."""
    if not np.isfinite(x).all():
        raise OverflowError(
            "KM_SUM_SCALE partial sums: non-finite embedding value; "
            "FLOOR(x·KM_SUM_SCALE) needs finite x")
    peak = max(peak, float(np.abs(x).max(initial=0.0)))
    if (peak * KM_SUM_SCALE + 1) * rows >= 2.0 ** 63:
        raise OverflowError(
            f"KM_SUM_SCALE partial sums: max|x|={peak:g} over {rows} "
            f"rows reaches the int64 bound (max|x|·KM_SUM_SCALE+1)·rows "
            f"< 2^63")
    return np.floor(x * KM_SUM_SCALE).astype(np.int64), peak


def _scaled_sq_dists(diff: "np.ndarray") -> "np.ndarray":
    """Σ over the last axis of ``FLOOR(diff²·KM_DIST_SCALE)`` as int64.
    Raises OverflowError on a non-finite value or once the sum's int64
    bound could be reached (see KM_DIST_SCALE)."""
    sq = diff * diff * KM_DIST_SCALE
    if not np.isfinite(sq).all():
        raise OverflowError(
            "KM_DIST_SCALE distances: non-finite difference; "
            "FLOOR(diff²·KM_DIST_SCALE) needs finite values")
    top = float(sq.max(initial=0.0))
    if diff.shape[-1] * (top + 1) >= 2.0 ** 63:
        raise OverflowError(
            f"KM_DIST_SCALE distances: max diff²·KM_DIST_SCALE={top:g} "
            f"over dim {diff.shape[-1]} reaches the int64 bound "
            f"dim·(max diff²·KM_DIST_SCALE+1) < 2^63")
    return np.floor(sq).astype(np.int64).sum(axis=-1)


def _km_pts(spark, sf):
    return T(spark, sf, "embeddings").select(
        "vec_id", _as_double("embedding").alias("x"))


def _km_seed_centroids(pts, k: int = KM_K) -> list[tuple[int, list[float]]]:
    """K deterministic seeds: the K smallest md5(vec_id) rows, cid by
    md5 order — a distributed TakeOrdered (never a global window)."""
    rows = (pts.withColumn("h", F.md5(F.col("vec_id").cast("string")))
               .orderBy("h", "vec_id").limit(k)
               .select("x").collect())
    return [(cid, list(r.x)) for cid, r in enumerate(rows)]


#: SemDeDup's cluster-size contract (r12, VERDICT r11 item 2): K is
#: derived from the corpus size so the EXPECTED cluster holds
#: SDD_TARGET_CLUSTER_ROWS rows — the in-cluster pairwise prune is
#: then Σ n_c(n_c−1)/2 ≈ N·(target−1)/2, LINEAR in N instead of
#: corpus-quadratic (the fixed-K=8 shape the r11 verdict flagged).
#: The bench scaling lane asserts the candidate-pair count grows
#: ≈ linearly at 10× corpus.
SDD_TARGET_CLUSTER_ROWS = 64
#: oracle tie-break encoding MIN(dist·MOD + cid) % MOD needs MOD > K
#: and dist·MOD < 2^63: dist ≤ DIM·(2·0.6·1.08)²·1e12 ≈ 1e14, so
#: 32768 leaves ~3× headroom while admitting K up to 32768 clusters
SDD_TIE_MOD = 32768


def sdd_k(n_rows: int) -> int:
    """Scale-aware K for SemDeDup: ceil(N / target cluster rows),
    floored at KM_K so tiny fixtures keep a multi-cluster shape.

    Guarded against SDD_TIE_MOD: the oracle's MIN(dist·MOD+cid)%MOD
    tie-break aliases cids once K > MOD, so a corpus beyond
    MOD·SDD_TARGET_CLUSTER_ROWS rows (~2M) must raise rather than
    silently de-certify (ADVICE r12; at that scale raise SDD_TIE_MOD
    in both the Spark and oracle encodings together)."""
    k = max(KM_K, -(-int(n_rows) // SDD_TARGET_CLUSTER_ROWS))
    if k > SDD_TIE_MOD:
        raise ValueError(
            f"sdd_k: derived K={k} exceeds SDD_TIE_MOD={SDD_TIE_MOD}; "
            f"the oracle tie-break encoding would alias cluster ids — "
            f"raise SDD_TIE_MOD (Spark + oracle together) for corpora "
            f"beyond {SDD_TIE_MOD * SDD_TARGET_CLUSTER_ROWS} rows")
    return k


def _km_assign(pts, cents):
    """Nearest centroid per row on the EXACT integer route: dist =
    Σ FLOOR((xᵢ−cᵢ)²·1e12) summed as int64, ties to the lowest cid.

    Arrow-batched numpy since r12: the original JVM form (broadcast
    K×DIM matrix + transform/aggregate HOF fold) runs INTERPRETED —
    higher-order-function lambdas never enter whole-stage codegen —
    and measured ~2M scalar ops/s: the sdd_k 10× lane (21k rows ×
    K=333) took 214 s.  The numpy kernel computes the IDENTICAL IEEE
    doubles ((x−c)·(x−c)·1e12, floor, int64 sum — multiplication
    order preserved), row-chunked at step = 2^23 // (K·DIM) so the
    (rows × K × DIM) float64 intermediate stays ~64 MB, argmin's
    first-index rule = the
    lowest-cid tie-break (centroids arrive cid-sorted).  Same
    measured-A/B precedent as the PQ encoder (ann_pq): Python is the
    fast path here because Arrow amortizes the transfer and numpy
    vectorizes what the JVM interprets.  Bit-exactness vs the DuckDB
    unrolled-SQL oracle is unchanged (km_01/sdd_01 hash-certified)."""
    import numpy as np
    import pandas as pd
    import pyspark.sql.types as ST

    C = np.array([c for _, c in cents], dtype=np.float64)
    cids = np.array([cid for cid, _ in cents], dtype=np.int32)
    out_t = ST.StructType([ST.StructField("dist", ST.LongType()),
                           ST.StructField("cid", ST.IntegerType())])

    @F.pandas_udf(out_t)
    def assign(xs: pd.Series) -> pd.DataFrame:
        n = len(xs)
        if n == 0:
            return pd.DataFrame({"dist": np.empty(0, dtype=np.int64),
                                 "cid": np.empty(0, dtype=np.int32)})
        X = np.stack([np.asarray(v, dtype=np.float64)
                      for v in xs.to_numpy()])
        dists = np.empty(n, dtype=np.int64)
        cc = np.empty(n, dtype=np.int32)
        step = max(1, (1 << 23) // max(C.shape[0] * C.shape[1], 1))
        for s in range(0, n, step):
            xb = X[s:s + step]
            d = _scaled_sq_dists(xb[:, None, :] - C[None, :, :])
            j = np.argmin(d, axis=1)
            dists[s:s + len(xb)] = d[np.arange(len(xb)), j]
            cc[s:s + len(xb)] = cids[j]
        return pd.DataFrame({"dist": dists, "cid": cc})

    a = assign("x")
    return pts.select("vec_id", "x", a["dist"].alias("dist"),
                      a["cid"].alias("cid"))


def _km_update(assigned) -> list[tuple[int, list[float]]]:
    """Per-cluster elementwise mean, long-form: posexplode to
    (cid, dim, xv) → ONE tiny-codegen groupBy(cid, dim) sum.  Map-side
    combine reduces each task's output to ≤ K×DIM partials BEFORE the
    shuffle, so the shuffle volume is identical to a DIM-column wide
    aggregate — but the generated code is one sum instead of a
    DIM-column kernel (measured: the wide form spent ~2 s per
    iteration in plan/codegen at ANY data size; this form is ~0.3 s).
    Sums ride the exact FLOOR(x·1e9) BIGINT route; the mean is the
    same double on both engines.  Empty clusters drop (identical
    semantics in the SQL oracle)."""
    ex = assigned.select("cid", F.posexplode("x").alias("dim", "xv"))
    rows = (ex.groupBy("cid", "dim")
              .agg(((F.sum(F.floor(F.col("xv") * F.lit(KM_SUM_SCALE))
                           .cast("long")).cast("double")
                     / F.count(F.lit(1))) / F.lit(KM_SUM_SCALE))
                   .alias("cv"))
              .collect())
    by: dict[int, dict[int, float]] = {}
    for r in rows:
        by.setdefault(int(r["cid"]), {})[int(r["dim"])] = r["cv"]
    return sorted((cid, [d[i] for i in range(DIM)])
                  for cid, d in by.items())


def _km_step(pts, cents) -> list[tuple[int, list[float]]]:
    """One fused Lloyd iteration ≡ ``_km_update(_km_assign(pts,
    cents))`` — provably identical output (test_llmops pins equality):

    - assignment distances and the update sums are BOTH
      order-independent int64 sums of floored scaled doubles, so the
      per-task numpy partials commute with any grouping;
    - argmin's first-index rule = the lowest-cid tie-break (centroids
      arrive cid-sorted), exactly ``_km_assign``'s rule;
    - the final mean divides the int64 sum (as double) by the int64
      count then by KM_SUM_SCALE — the same expression ``_km_update``
      collects.

    Why fused (guide §4.1/§4.2): the two-op form runs an
    ArrowEvalPython assignment pass PLUS a posexplode of N×DIM rows
    into a groupBy per iteration; this form computes the ≤ K×DIM
    integer partials inside the SAME Arrow pass (mapInPandas), so the
    JVM side only reduces K×DIM-bounded partials.  Measured at sf0.1
    (2,125×64, K=34): 1.16 s vs 2.41 s warm for the 2-iteration loop,
    identical centroids."""
    import numpy as np
    import pandas as pd

    C = np.array([c for _, c in cents], dtype=np.float64)
    cids = np.array([cid for cid, _ in cents], dtype=np.int32)
    K, dim = C.shape

    def partials(batches):
        psum = np.zeros((K, dim), dtype=np.int64)
        cnt = np.zeros(K, dtype=np.int64)
        seen = 0
        peak = 0.0
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            seen += n
            X = np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf["x"].to_numpy()])
            XS, peak = _scaled_sum_terms(X, peak, seen)
            step = max(1, (1 << 23) // max(K * dim, 1))
            for s in range(0, n, step):
                xb = X[s:s + step]
                d = _scaled_sq_dists(xb[:, None, :] - C[None, :, :])
                j = np.argmin(d, axis=1)
                np.add.at(psum, j, XS[s:s + len(xb)])
                np.add.at(cnt, j, 1)
        if seen:
            nz = np.flatnonzero(cnt)
            yield pd.DataFrame({
                "cid": np.repeat(cids[nz], dim),
                "dim": np.tile(np.arange(dim, dtype=np.int32), len(nz)),
                "psum": psum[nz].ravel(),
                "cnt": np.repeat(cnt[nz], dim)})

    rows = (pts.select("x")
               .mapInPandas(partials, "cid int, dim int, psum long, cnt long")
               .groupBy("cid", "dim")
               .agg(((F.sum("psum").cast("double") / F.sum("cnt"))
                     / F.lit(KM_SUM_SCALE)).alias("cv"))
               .collect())
    by: dict[int, dict[int, float]] = {}
    for r in rows:
        by.setdefault(int(r["cid"]), {})[int(r["dim"])] = r["cv"]
    return sorted((cid, [d[i] for i in range(DIM)])
                  for cid, d in by.items())


def km_01(spark, sf):
    """Distributed Lloyd k-means over the embedding corpus — the IVF
    training step as a first-class certified operator (reference
    analogue: cohort stratification over patient feature vectors; the
    engine-side clustering a 100 TB embedding store runs to build its
    inverted file).

    Shape per iteration: one JVM-only assignment pass (K struct terms,
    no Python), one groupBy(cid) shuffle carrying DIM+1 partial-agg
    columns, one K×DIM control-plane collect.  Certification: the
    ENTIRE chain (deterministic md5 seeds → ITERS Lloyd updates →
    final assignment) is re-derived in unrolled SQL by the DuckDB
    oracle; integer-scaled exact arithmetic makes every intermediate
    bit-identical, so the hash certifies cluster sizes, centroid
    norms, and inertia — not just row counts."""
    import math

    pts = _km_pts(spark, sf)
    cents = _km_seed_centroids(pts)
    for _ in range(KM_ITERS):
        cents = _km_step(pts, cents)
    final = _km_assign(pts, cents)

    # centroid L2 norms on the same exact integer route (python floats
    # are IEEE doubles: identical to the oracle's double arithmetic)
    norm = {cid: math.sqrt(
                float(sum(int(math.floor(v * v * KM_DIST_SCALE))
                          for v in c)) / KM_DIST_SCALE)
            for cid, c in cents}
    cmap = F.create_map(*[F.lit(x) for cid in sorted(norm)
                          for x in (cid, norm[cid])])
    return (final.groupBy("cid")
                 .agg(F.count("*").alias("n"),
                      F.round(F.sum("dist").cast("double")
                              / F.lit(KM_DIST_SCALE), 6).alias("inertia"))
                 .select("cid", "n",
                         F.round(cmap[F.col("cid")], 6).alias("cnorm"),
                         "inertia")
                 .orderBy("cid"))


def _km_oracle() -> str:
    """Unrolled-SQL Lloyd: seeds → (assign, update)×ITERS → final
    assignment, long-form (vec_id, dim, xv) throughout."""
    parts = [f"""
WITH pts AS (SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
                    CAST(unnest(embedding) AS DOUBLE) AS xv
             FROM embeddings),
seeds AS (SELECT vec_id,
                 CAST(ROW_NUMBER() OVER (
                     ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
                   AS INT) AS cid
          FROM embeddings
          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {KM_K}),
cent0 AS (SELECT s.cid, p.dim, p.xv AS cv
          FROM seeds s JOIN pts p USING (vec_id))"""]
    for t in range(1, KM_ITERS + 2):
        parts.append(f"""
d{t} AS (SELECT p.vec_id, c.cid,
               SUM(CAST(FLOOR((p.xv - c.cv) * (p.xv - c.cv) * 1e12)
                        AS BIGINT)) AS dist
         FROM pts p JOIN cent{t - 1} c ON p.dim = c.dim
         GROUP BY p.vec_id, c.cid),
a{t} AS (SELECT vec_id, CAST(MIN(dist * 16 + cid) % 16 AS INT) AS cid,
                MIN(dist) AS dist
         FROM d{t} GROUP BY vec_id)""")
        if t <= KM_ITERS:
            parts.append(f"""
cent{t} AS (SELECT a.cid, p.dim,
                  CAST(SUM(CAST(FLOOR(p.xv * 1e9) AS BIGINT)) AS DOUBLE)
                    / COUNT(*) / 1e9 AS cv
            FROM a{t} a JOIN pts p USING (vec_id)
            GROUP BY a.cid, p.dim)""")
    last = KM_ITERS + 1
    parts.append(f"""
norms AS (SELECT cid,
                 SQRT(CAST(SUM(CAST(FLOOR(cv * cv * 1e12) AS BIGINT))
                           AS DOUBLE) / 1e12) AS cnorm
          FROM cent{KM_ITERS} GROUP BY cid)""")
    body = ",".join(parts)
    return f"""{body}
SELECT a.cid, COUNT(*) AS n, ROUND(MAX(nm.cnorm), 6) AS cnorm,
       ROUND(CAST(SUM(a.dist) AS DOUBLE) / 1e12, 6) AS inertia
FROM a{last} a JOIN norms nm USING (cid)
GROUP BY a.cid ORDER BY a.cid
"""


_TOPK_ORACLE = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS q_id, v AS vq FROM e WHERE vec_id < 5),
sim AS (SELECT q.q_id, e.vec_id AS neighbor_id,
               list_dot_product(q.vq, e.v)
                 / (sqrt(list_dot_product(q.vq, q.vq)) * sqrt(list_dot_product(e.v, e.v))) AS cos
        FROM q JOIN e ON e.vec_id <> q.q_id),
ranked AS (SELECT q_id, neighbor_id, CAST(row_number() OVER (
               PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank, cos
           FROM sim)
SELECT q_id, neighbor_id, rank, ROUND(cos, 4) AS cos
FROM ranked WHERE rank <= 10
"""

def mean_pool_stats(emb: DataFrame, group_col: str) -> DataFrame:
    """Element-wise mean embedding per group (the chunk→doc pooling
    shape), reduced to (dims, L2 norm of the mean vector).

    posexplode → partial+final avg keyed on (group, pos) → norm reduce:
    pure JVM aggregation pipeline, shuffles on (group, pos) — scales to
    any dimension/corpus with map-side combine, no per-row Python and
    no whole-vector collect."""
    ex = emb.select(group_col, F.posexplode("embedding").alias("pos", "x"))
    means = (ex.groupBy(group_col, "pos")
               .agg(F.avg("x").alias("m")))
    return (means.groupBy(group_col)
                 .agg(F.count("*").cast("int").alias("dims"),
                      F.round(F.sqrt(F.sum(F.col("m") * F.col("m"))), 4)
                       .alias("l2")))


def emb_01(spark, sf):
    e = T(spark, sf, "embeddings").filter(F.col("vec_id") < 1000)
    g = e.select((F.col("vec_id") % 10).alias("g"), "embedding")
    return mean_pool_stats(g, "g").orderBy("g")


_EMB01_ORACLE = """
WITH e AS (SELECT vec_id % 10 AS g, embedding
           FROM embeddings WHERE vec_id < 1000),
x AS (SELECT g, unnest([{'pos': i, 'x': embedding[i]}
                        for i in range(1, len(embedding)+1)],
                       recursive := true) FROM e),
m AS (SELECT g, pos, avg(x) AS m FROM x GROUP BY g, pos)
SELECT g, CAST(count(*) AS INT) AS dims, ROUND(sqrt(sum(m*m)), 4) AS l2
FROM m GROUP BY g ORDER BY g
"""

_PLANTED_ORACLE = """
SELECT vec_id AS q_id, TRUE AS planted_at_rank1
FROM embeddings WHERE vec_id < 5 ORDER BY vec_id
"""

_DOCS = {
    "ann_topk": "Exact brute-force cosine top-k (broadcast query join)",
    "ann_lsh": "LSH planted-duplicate certification (signature → "
               "bucket join → re-rank must return the copy at rank 1)",
    "ann_lsh_raw": "LSH-bucketed approximate top-k (raw neighbor list; "
                   "signature-dependent)",
    "ann_ivf": "IVF planted-duplicate certification (train → assign → "
               "probe → re-rank must return the copy at rank 1)",
    "ann_ivf_raw": "IVF approximate top-k (raw neighbor list; "
                   "cell-assignment-dependent)",
    "emb_01": "Mean-pool embeddings per group (chunk→doc pooling)",
    "vq_01": "Embedding scalar quantization (uint8 codes): per-dim "
             "bounds as one 2·DIM-column partial agg, 1-row broadcast "
             "attach, round-trip error certified <= step/2 per vector",
    "ann_sq": "IVF-SQ planted-duplicate certification: inverted file "
              "of uint8 codes, JVM dequantized approx scoring to a "
              "4k shortlist, exact re-rank (the memory-bound ANN "
              "posture — index is 8x smaller than compute floats)",
    "km_01": "Distributed Lloyd k-means (the IVF training step as a "
             "certified operator): md5-seeded, integer-exact "
             "arithmetic, whole chain re-derived by an unrolled-SQL "
             "oracle — hash certifies sizes, centroid norms, inertia",
    "ann_pq": "Flat-PQ planted-duplicate certification: M per-subspace "
              "Lloyd codebooks, corpus encoded to M codes (64x smaller "
              "than floats), ADC lookup-table scoring O(M) per pair, "
              "exact re-rank (the FAISS IndexPQ shape)",
}

# the *_raw neighbor lists depend on the signature family → rows-only;
# the certification keys hash-check the planted-duplicate invariant
_ORACLES = {"ann_topk": _TOPK_ORACLE, "emb_01": _EMB01_ORACLE,
            "ann_lsh": _PLANTED_ORACLE, "ann_ivf": _PLANTED_ORACLE,
            "ann_sq": _PLANTED_ORACLE, "vq_01": _vq_oracle(),
            "km_01": _km_oracle(), "ann_pq": _PLANTED_ORACLE}


def specs() -> list[QuerySpec]:
    g = globals()
    return [QuerySpec(key=k, fn=g[k], oracle=_ORACLES.get(k), doc=d,
                      tags=("similarity", "llm"))
            for k, d in _DOCS.items()]
