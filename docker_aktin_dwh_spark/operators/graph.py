"""Graph analytics over the near-dup pair graph: PageRank — the
iterative numeric-fixpoint class (dupcc_01's connected components is
the iterative LABEL class; this adds the weighted-propagation one).

Why it belongs in a corpus engine: centrality over the near-duplicate
graph ranks boilerplate hubs — a doc near-duplicating many others is a
template/mirror, and its rank is a removal priority the pairwise
Jaccard alone doesn't give.

Scale shape (100 TB posture):
- The rank frame holds only nodes that APPEAR IN PAIRS — a small
  subset of the corpus (dup structure), never corpus-sized.
- Each iteration is one join (ranks ⋈ edges on src) + one groupBy(dst)
  partial-aggregated sum — shuffles on 8-byte node ids, both frames
  edge-bounded; ``materialize`` between iterations keeps lineage flat
  (the dupcc_01 discipline — on a real cluster swap that one function
  for persist+count or a scratch table, functions/barrier.py).
- Iteration count is FIXED (PR_ITERS), so the oracle is the same
  computation unrolled as chained CTEs — no recursion, no aggregate-
  in-recursive-term restriction, cross-engine exact modulo the final
  rounding.
- The graph is symmetrized, so every node has out-degree ≥ 1 (no
  dangling-mass redistribution term needed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from .. import catalog
from ..functions.barrier import materialize
from ..functions.textfns import SQL_TOKENS
from ..registry import QuerySpec
from ..session import local_frame
from .dedup import (JACCARD_THRESHOLD, SQL_SHINGLES3, minhash_dedup_pairs)

T = catalog.load

PR_DAMPING = 0.85
PR_ITERS = 5


def pagerank(edges: DataFrame, damping: float = PR_DAMPING,
             iters: int = PR_ITERS) -> DataFrame:
    """PageRank over a DIRECTED edge frame (src, dst); returns
    (v, pr) with pr rounded to 6 decimals.  Uniform 1/n init; each
    iteration pr'(v) = (1−d)/n + d·Σ_{u→v} pr(u)/outdeg(u)."""
    spark = edges.sparkSession
    nodes = (edges.select(F.col("src").alias("v"))
             .unionByName(edges.select(F.col("dst").alias("v")))
             .distinct())
    nodes = materialize(nodes)
    n = nodes.count()                       # control-plane scalar
    if n == 0:      # no near-dup pairs at this scale: empty, typed
        schema = StructType([StructField("v", edges.schema["src"].dataType),
                             StructField("pr", DoubleType())])
        return local_frame(spark, [], schema)
    deg = edges.groupBy("src").agg(F.count("*").cast("double")
                                   .alias("deg"))
    e = materialize(edges.join(deg, "src"))
    base = (1.0 - damping) / n
    ranks = nodes.withColumn("pr", F.lit(1.0 / n))
    for _ in range(iters):
        # per-dst contribution sum DECIMAL-routed (the repo float-sum
        # rule): a raw double SUM accumulates in partition order and
        # the ROUND(pr, 6) certification could flip on a near-boundary
        # value between engines; decimal addition is exact and
        # order-independent, the per-term double→decimal cast is
        # deterministic on both engines
        contrib = (e.join(ranks, e.src == ranks.v)
                   .select("dst", (F.col("pr") / F.col("deg"))
                           .cast("decimal(38,18)").alias("c"))
                   .groupBy("dst").agg(F.sum("c").alias("s")))
        ranks = materialize(
            nodes.join(contrib, nodes.v == contrib.dst, "left")
                 .select("v", (F.lit(base)
                               + damping * F.coalesce(
                                   F.col("s").cast("double"), F.lit(0.0)))
                         .alias("pr")))
    return ranks.select("v", F.round("pr", 6).alias("pr"))


def _dup_edges(spark, sf) -> DataFrame:
    """Symmetrized near-dup pair graph (the dupcc_01 edge set)."""
    docs = T(spark, sf, "documents")
    pairs = minhash_dedup_pairs(docs, JACCARD_THRESHOLD).select("i", "j")
    return (pairs.select(F.col("i").alias("src"), F.col("j").alias("dst"))
            .unionByName(pairs.select(F.col("j").alias("src"),
                                      F.col("i").alias("dst"))))


def pr_01(spark, sf):
    """PageRank over the near-dup graph: (doc_id, pr) for every doc in
    a near-dup pair, fully ordered; hub docs (templates duplicated by
    many) rank highest."""
    ranks = pagerank(_dup_edges(spark, sf))
    return (ranks.select(F.col("v").alias("doc_id"), "pr")
            .orderBy("doc_id"))


def triangle_stats(pairs: DataFrame) -> DataFrame:
    """Distributed triangle counting over canonical (i < j) undirected
    edges → (doc_id, degree, n_tri).

    Ordered 2-path enumeration: wedges a<b<c are built by joining the
    edge list to itself on the middle vertex, then closed against the
    edge set — two equi-join shuffles on vertex ids, NEVER an
    adjacency broadcast or all-pairs product; the a<b<c ordering
    counts each triangle exactly once and bounds wedge fan-out by
    forward-degree (the classic MapReduce triangle discipline: a hub
    contributes wedges only for its higher-numbered neighbors).
    Per-node counts explode each triangle's three corners into one
    groupBy.

    The edge frame is MATERIALIZED once before fan-out: four consumers
    (both wedge sides, the closure probe, the degree count) would each
    recompute the upstream pair pipeline — for the near-dup graph
    that is the whole MinHash LSH chain, 4× corpus scans (the bm25
    tf-frame barrier discipline, functions/barrier.py)."""
    e = materialize(
        pairs.select(F.col("i").cast("long").alias("i"),
                     F.col("j").cast("long").alias("j")))
    x = e.select(F.col("i").alias("a"), F.col("j").alias("b"))
    y = e.select(F.col("i").alias("b"), F.col("j").alias("c"))
    wedges = x.join(y, "b")
    tri = wedges.join(
        e.select(F.col("i").alias("a"), F.col("j").alias("c")),
        ["a", "c"])
    per = (tri.select(F.explode(F.array("a", "b", "c")).alias("v"))
              .groupBy("v").agg(F.count("*").alias("n_tri")))
    deg = (e.select(F.col("i").alias("v"))
            .unionByName(e.select(F.col("j").alias("v")))
            .groupBy("v").agg(F.count("*").alias("degree")))
    return (deg.join(per, "v", "left")
               .select(F.col("v").alias("doc_id"), "degree",
                       F.coalesce("n_tri", F.lit(0).cast("long"))
                        .alias("n_tri"))
               .orderBy("doc_id"))


def tri_01(spark, sf):
    """Triangle census of the near-dup graph: per-document degree and
    triangle participation — the cluster-cohesion signal on top of
    dupcc_01's components (a component of pairwise near-dups is
    triangle-dense; a chain of borderline matches has none).  The
    near-dup fixture graph is triangle-sparse at small SF (1 at
    sf0.01) — the planted-K4 semantics are pinned in tests."""
    from ..functions.barrier import spread

    # spread the single-file scan (r15, guide §2.5; no-op when wide)
    docs = spread(T(spark, sf, "documents"))
    pairs = minhash_dedup_pairs(docs, JACCARD_THRESHOLD).select("i", "j")
    return triangle_stats(pairs)


def _tri_oracle() -> str:
    t = SQL_TOKENS.format(col="text")
    return f"""
WITH t0 AS (SELECT doc_id, {t} AS t FROM documents),
sh AS (SELECT doc_id, {SQL_SHINGLES3} AS s FROM t0),
pairs AS (
  SELECT a.doc_id AS i, b.doc_id AS j
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.s, b.s))::DOUBLE
        / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
        >= {JACCARD_THRESHOLD}),
w AS (SELECT x.i AS a, x.j AS b, y.j AS c
      FROM pairs x JOIN pairs y ON x.j = y.i),
tri AS (SELECT a, b, c
        FROM w JOIN pairs z ON z.i = w.a AND z.j = w.c),
corners AS (SELECT unnest([a, b, c]) AS v FROM tri),
per AS (SELECT v, count(*) AS n_tri FROM corners GROUP BY 1),
deg AS (SELECT v, count(*) AS degree
        FROM (SELECT i AS v FROM pairs
              UNION ALL SELECT j AS v FROM pairs)
        GROUP BY 1)
SELECT deg.v AS doc_id, degree, COALESCE(n_tri, 0) AS n_tri
FROM deg LEFT JOIN per USING (v) ORDER BY doc_id
"""


def _pr_oracle() -> str:
    t = SQL_TOKENS.format(col="text")
    iter_ctes = []
    prev = "r0"
    for i in range(1, PR_ITERS + 1):
        iter_ctes.append(f"""
r{i} AS (
  SELECT nodes.v,
         (1 - {PR_DAMPING}) / cnt.n
           + {PR_DAMPING} * COALESCE(c.s, 0.0) AS pr
  FROM nodes CROSS JOIN cnt
  LEFT JOIN (
    SELECT e.dst,
           SUM(CAST({prev}.pr / deg.deg AS DECIMAL(38,18))) AS s
    FROM e JOIN deg ON deg.src = e.src
           JOIN {prev} ON {prev}.v = e.src
    GROUP BY e.dst) c ON c.dst = nodes.v)""")
        prev = f"r{i}"
    return f"""
WITH t0 AS (SELECT doc_id, {t} AS t FROM documents),
sh AS (SELECT doc_id, {SQL_SHINGLES3} AS s FROM t0),
pr_pairs AS (
  SELECT a.doc_id AS i, b.doc_id AS j
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.s, b.s))::DOUBLE
        / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
        >= {JACCARD_THRESHOLD}),
e AS (SELECT i AS src, j AS dst FROM pr_pairs
      UNION ALL SELECT j, i FROM pr_pairs),
nodes AS (SELECT DISTINCT src AS v FROM e),
cnt AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM e
        GROUP BY src),
r0 AS (SELECT v, 1.0 / cnt.n AS pr FROM nodes CROSS JOIN cnt),
{",".join(iter_ctes)}
SELECT v AS doc_id, ROUND(pr, 6) AS pr FROM r{PR_ITERS} ORDER BY v
"""


_DOCS = {
    "pr_01": "PageRank over the near-dup graph (iterative numeric "
             "fixpoint, fixed iterations; oracle = the same "
             "computation unrolled as chained CTEs)",
    "tri_01": "Triangle census of the near-dup graph: ordered 2-path "
              "wedge join closed against the edge set (two equi-join "
              "shuffles, no adjacency broadcast); per-doc degree + "
              "triangle participation",
}


def specs() -> list[QuerySpec]:
    return [
        QuerySpec(key="pr_01", fn=pr_01, oracle=_pr_oracle(),
                  doc=_DOCS["pr_01"], tags=("llm", "graph")),
        QuerySpec(key="tri_01", fn=tri_01, oracle=_tri_oracle(),
                  doc=_DOCS["tri_01"], tags=("llm", "graph")),
    ]
