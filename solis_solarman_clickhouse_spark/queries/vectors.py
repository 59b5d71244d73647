"""Q-VEC: similarity search and vector aggregation over `embeddings`
(SURVEY.md §2-C Q-VEC-1/2 + the north-star ANN family).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from ..caching import tracked_persist

from ..operators.similarity import (
    ann_lsh_topk,
    cosine_topk,
    ivf_topk,
    label_centroids,
    with_cosine,
)
from ..tables import footer_shape, spread, table
from .registry import query

_TOPK_ORACLE = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
scored AS (
  SELECT q.query_id, c.neighbor_id,
         list_dot_product(q.qv, c.cv)
           / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv)))
           AS cosine
  FROM q CROSS JOIN c WHERE q.query_id <> c.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank, neighbor_id, ROUND(cosine, 4) AS cosine
FROM ranked WHERE rank <= 5
"""


@query("vec_cosine_topk", category="vectors", oracle=_TOPK_ORACLE)
def vec_cosine_topk(spark, sf_dir):
    """Q-VEC-1: exact brute-force cosine top-5 for query vectors 0..9
    (ties → lower neighbor id). Dot products via zip_with/aggregate —
    JVM-side, no UDF; query side broadcast."""
    emb = table(spark, sf_dir, "embeddings")
    return cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


_CENTROID_ORACLE = """
WITH exploded AS (
  SELECT label,
         UNNEST(generate_series(1, len(embedding))) - 1 AS dim,
         UNNEST(embedding::DOUBLE[]) AS v
  FROM embeddings
),
g AS (
  SELECT label, dim,
         SUM(CAST(floor(v * 1000000000) AS BIGINT)) AS num,
         COUNT(*) AS n
  FROM exploded GROUP BY label, dim
)
SELECT label, dim,
       CASE WHEN num < 0
            THEN -((2 * (-num) * 10000 + n * 1000000000)
                   // (2 * n * 1000000000))
            ELSE (2 * num * 10000 + n * 1000000000)
                 // (2 * n * 1000000000) END / 10000.0 + 0.0 AS centroid_val
FROM g
"""


@query("vec_label_centroids", category="vectors", oracle=_CENTROID_ORACLE)
def vec_label_centroids(spark, sf_dir):
    """Q-VEC-2: per-label elementwise centroid (long form: label, dim, val)."""
    return label_centroids(table(spark, sf_dir, "embeddings"))


@query("vec_ann_lsh", python_boundary=True, category="vectors", check="SMOKE")
def vec_ann_lsh(spark, sf_dir):
    """ANN scale path: random-hyperplane LSH bucketing — candidates share a
    12-bit signature bucket, so the corpus join is an equi-join on bucket
    instead of a cross join. Recall vs vec_cosine_topk is measured in
    tests/test_operators.py."""
    emb = table(spark, sf_dir, "embeddings")
    return ann_lsh_topk(emb, emb.filter(F.col("vec_id") < 10), k=5, n_planes=12, dim=64)


@query("vec_ann_ivf", python_boundary=True, category="vectors", check="SMOKE")
def vec_ann_ivf(spark, sf_dir):
    """ANN scale path #2: IVF — seeded k-means coarse quantizer, corpus in
    one inverted list each, queries probe their 4 best of 16 lists
    (scanned fraction ~1/4). Full-probe equivalence to brute force is
    asserted in tests/test_operators.py; no oracle entry (k-means
    training isn't ANSI-SQL)."""
    emb = table(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb, emb.filter(F.col("vec_id") < 10), k=5, n_lists=16, n_probe=4
    )


def _lsh_recall_oracle(n_tables: int, n_planes: int, dim: int, seed: int, k: int) -> str:
    """DuckDB twin of the FULL multi-table-LSH recall pipeline. The plane
    constants are the exact doubles the Spark plan embeds (same seeded
    draw, repr round-trip), so bucketing, candidate join, top-k, and the
    recall number itself are EXACT-comparable — the oracle recomputes the
    approximate path, not just the ground truth."""
    from ..operators.similarity import lsh_multitable_planes

    rows = []
    for t, planes in enumerate(lsh_multitable_planes(n_tables, n_planes, dim, seed)):
        for p in range(n_planes):
            vals = ", ".join(repr(float(x)) for x in planes[p])
            rows.append(f"({t}, {p}, [{vals}]::DOUBLE[])")
    values = ",\n".join(rows)
    return f"""
WITH planes(tbl, pid, plane) AS (VALUES
{values}
),
emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
buckets AS (
  SELECT vec_id,
         (tbl * {1 << n_planes})
           + SUM(CASE WHEN list_dot_product(e, plane) > 0 THEN 1 << pid ELSE 0 END) AS bucket
  FROM emb CROSS JOIN planes
  GROUP BY vec_id, tbl
),
cand AS (
  SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
  FROM buckets qb JOIN buckets cb USING (bucket)
  WHERE qb.vec_id < 10 AND qb.vec_id <> cb.vec_id
),
lsh_scored AS (
  SELECT c.query_id, c.neighbor_id,
         list_dot_product(q.e, n.e)
           / (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(n.e, n.e))) AS cosine
  FROM cand c JOIN emb q ON q.vec_id = c.query_id JOIN emb n ON n.vec_id = c.neighbor_id
),
lsh_top AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id ASC) AS r
    FROM lsh_scored) WHERE r <= {k}
),
truth_scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_dot_product(q.e, c.e)
           / (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e))) AS cosine
  FROM emb q CROSS JOIN emb c
  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
),
truth AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id ASC) AS r
    FROM truth_scored) WHERE r <= {k}
)
SELECT CAST(COUNT(DISTINCT t.query_id) AS BIGINT) AS n_queries,
       CAST(COUNT(*) AS BIGINT) AS n_truth,
       CAST(COUNT(l.query_id) AS BIGINT) AS n_hit,
       ROUND(COUNT(l.query_id)::DOUBLE / COUNT(*), 4) AS recall_at_k
FROM truth t
LEFT JOIN lsh_top l ON t.query_id = l.query_id AND t.neighbor_id = l.neighbor_id
"""


@query(
    "vec_ann_recall_lsh", python_boundary=True,
    category="vectors",
    oracle=_lsh_recall_oracle(n_tables=16, n_planes=4, dim=64, seed=42, k=5),
)
def vec_ann_recall_lsh(spark, sf_dir):
    """Recall@5 of multi-table LSH vs exact brute force — EXACT oracle:
    DuckDB recomputes the whole approximate path from the same plane
    constants, so the recall NUMBER is hash-compared, not tolerance-gated.

    Config 16 tables x 4 planes measures 0.92 recall at sf0.01. The
    fixture's embeddings are random near-orthogonal (true neighbors sit at
    cosine ~0.5), which is the worst case for LSH: candidate fraction
    ~L/2^b ~ 1.0 is what 0.9 recall costs HERE. On real clustered corpora
    the same operator at 8x6 (candidate fraction ~0.12) is the sublinear
    scale path; the tradeoff curve is in the operator docstring."""
    from ..operators.similarity import ann_lsh_multitable_topk

    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    truth = cosine_topk(emb, q, k=5).select("query_id", "neighbor_id")
    approx = (
        ann_lsh_multitable_topk(emb, q, k=5, n_tables=16, n_planes=4, dim=64, seed=42)
        .select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    )
    return truth.join(approx, ["query_id", "neighbor_id"], "left").agg(
        F.countDistinct("query_id").alias("n_queries"),
        F.count(F.lit(1)).alias("n_truth"),
        F.count("hit").alias("n_hit"),
        F.round(F.count("hit") / F.count(F.lit(1)), 4).alias("recall_at_k"),
    )


_IVF_RECALL_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(5 * COUNT(*) AS BIGINT) AS n_truth,
       TRUE AS recall_ok
FROM embeddings WHERE vec_id < 10
"""


@query("vec_ann_recall_ivf", python_boundary=True, category="vectors", oracle=_IVF_RECALL_ORACLE, check="TOL")
def vec_ann_recall_ivf(spark, sf_dir):
    """Recall@5 gate for IVF vs exact brute force: recall_ok asserts >= 0.9
    at n_probe=12 of n_lists=16. Measured 0.96 (sf0.001), 0.96 (sf0.01),
    1.00 (sf0.1); the numeric recall is additionally asserted in
    tests/test_operators.py. The k-means quantizer isn't ANSI-SQL, so the
    oracle checks the gate + counts rather than recomputing the path
    (TOL row; the LSH twin above carries the EXACT numeric recall)."""
    from ..operators.similarity import ivf_topk

    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    truth = cosine_topk(emb, q, k=5).select("query_id", "neighbor_id")
    approx = (
        ivf_topk(emb, q, k=5, n_lists=16, n_probe=12)
        .select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    )
    return truth.join(approx, ["query_id", "neighbor_id"], "left").agg(
        F.countDistinct("query_id").alias("n_queries"),
        F.count(F.lit(1)).alias("n_truth"),
        ((F.count("hit") / F.count(F.lit(1))) >= 0.9).alias("recall_ok"),
    )


_NEARDUP_ORACLE = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND(ROUND(list_dot_product(a.e, b.e)
             / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 8), 4)
         AS cosine
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE ROUND(list_dot_product(a.e, b.e)
      / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 8) >= 0.45
"""


@query("vec_neardup_cosine", python_boundary=True, category="vectors", oracle=_NEARDUP_ORACLE)
def vec_neardup_cosine(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs — the embedding-based dedup
    tier for training-data pipelines. Threshold 0.45 is CALIBRATED to the
    synthetic fixture (random near-orthogonal vectors top out at ~0.51
    cosine, so a production-style >=0.99 cut matches nothing and would
    test nothing); a real corpus uses >=0.99. Runs on the broadcast-
    matrix BLAS kernel (cosine_tau_pairs_exact) — the N²/2 theta join
    with interpreted zip_with folds it replaces was measured at ~38 B
    lambda evaluations (tens of minutes) at sf1.0's 20 k vectors vs ~2 s
    for the matmul; both engines cut on the family's 8-dp quantized
    cosine."""
    from ..operators.similarity import cosine_tau_pairs_exact

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    return cosine_tau_pairs_exact(
        emb, tau=0.45, emit_cosine=True, shape_hint=footer_shape(sf_dir)
    ).select("vec_a", "vec_b", F.round("cosine", 4).alias("cosine"))


_QUANTIZE_ORACLE = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
exploded AS (
  SELECT vec_id, UNNEST(generate_series(1, len(v))) - 1 AS dim, UNNEST(v) AS x
  FROM e
),
dims AS (SELECT dim, MIN(x) AS mn, MAX(x) AS mx FROM exploded GROUP BY dim),
q AS (
  SELECT ex.vec_id, ex.dim,
         CASE WHEN d.mx = d.mn THEN 0
              ELSE CAST(LEAST(255, FLOOR((ex.x - d.mn) * 256.0 / (d.mx - d.mn))) AS BIGINT)
         END AS qv
  FROM exploded ex JOIN dims d USING (dim)
)
SELECT vec_id, array_to_string(list(qv ORDER BY dim), ',') AS q_embedding
FROM q GROUP BY vec_id
"""


@query("vec_quantize_int8", category="vectors", oracle=_QUANTIZE_ORACLE)
def vec_quantize_int8(spark, sf_dir):
    """Scalar int8 quantization of the embedding column (the memory-
    compression step in front of large-scale ANN): per-dimension global
    min/max, then q = floor((x - mn) * 256 / (mx - mn)) clamped to 255.
    The per-dim stats reduce to one tiny row (collected into two sorted
    arrays, broadcast back), so the quantization pass is a pure
    projection over the fact table — no second shuffle. FLOOR (not round)
    keeps the cut deterministic across engines; constant dims quantize
    to 0."""
    emb = table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    ex = e.select("vec_id", F.posexplode("v").alias("dim", "x"))
    dims = ex.groupBy("dim").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    packed = dims.agg(
        F.array_sort(F.collect_list(F.struct("dim", "mn"))).alias("mns"),
        F.array_sort(F.collect_list(F.struct("dim", "mx"))).alias("mxs"),
    )
    qv = F.transform(
        "v",
        lambda x, i: F.when(
            F.element_at(F.col("mxs"), (i + 1).cast("int"))["mx"]
            == F.element_at(F.col("mns"), (i + 1).cast("int"))["mn"],
            F.lit(0).cast("long"),
        ).otherwise(
            F.least(
                F.lit(255).cast("long"),
                F.floor(
                    (x - F.element_at(F.col("mns"), (i + 1).cast("int"))["mn"])
                    * 256.0
                    / (
                        F.element_at(F.col("mxs"), (i + 1).cast("int"))["mx"]
                        - F.element_at(F.col("mns"), (i + 1).cast("int"))["mn"]
                    )
                ),
            )
        ),
    )
    # comma-joined string: a raw array column crashes the driver's
    # pandas canonicalizer
    return e.crossJoin(F.broadcast(packed)).select(
        "vec_id",
        F.array_join(
            F.transform(qv, lambda q: q.cast("string")), ","
        ).alias("q_embedding"),
    )


_KNN_CLASSIFY_ORACLE = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, label, embedding::DOUBLE[] AS cv
      FROM embeddings WHERE vec_id >= 10),
scored AS (
  SELECT q.query_id, c.neighbor_id, c.label,
         list_dot_product(q.qv, c.cv)
           / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv)))
           AS cosine
  FROM q CROSS JOIN c
),
ranked AS (
  SELECT query_id, neighbor_id, label,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
),
votes AS (
  SELECT query_id, label, COUNT(*) AS n_votes
  FROM ranked WHERE rank <= 5 GROUP BY query_id, label
),
winner AS (
  SELECT query_id, label, n_votes,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY n_votes DESC, label ASC) AS rk
  FROM votes
)
SELECT query_id, label AS predicted_label, n_votes
FROM winner WHERE rk = 1
"""


@query("vec_knn_classify", category="vectors", oracle=_KNN_CLASSIFY_ORACLE)
def vec_knn_classify(spark, sf_dir):
    """kNN majority-vote classification: each query vector (vec_id < 10)
    takes the modal label of its 5 exact cosine neighbors drawn from the
    labeled corpus (vec_id >= 10) — the standard embedding-quality /
    weak-labeling probe over a training corpus. Reuses the brute-force
    cosine_topk operator (broadcast queries, corpus never shuffled); votes
    are integer counts with label-ascending tie-break, so the prediction
    is deterministic on both engines."""
    emb = table(spark, sf_dir, "embeddings")
    corpus = emb.where(F.col("vec_id") >= 10)
    queries = emb.where(F.col("vec_id") < 10)
    tk = cosine_topk(corpus, queries, k=5)
    labels = corpus.select(F.col("vec_id").alias("neighbor_id"), "label")
    votes = (
        tk.join(labels, "neighbor_id")
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    from pyspark.sql import Window as W

    rk = W.partitionBy("query_id").orderBy(F.col("n_votes").desc(), F.col("label"))
    return (
        votes.withColumn("rk", F.row_number().over(rk))
        .where(F.col("rk") == 1)
        .select("query_id", F.col("label").alias("predicted_label"), "n_votes")
    )


_MATRYOSHKA_ORACLE = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
full_rank AS (
  SELECT q.query_id, c.neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
           list_dot_product(q.qv, c.cv)
             / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv)))
           DESC, c.neighbor_id ASC) AS rank
  FROM q CROSS JOIN c WHERE q.query_id <> c.neighbor_id
),
trunc_rank AS (
  SELECT q.query_id, c.neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
           list_dot_product(q.qv[1:16], c.cv[1:16])
             / (sqrt(list_dot_product(q.qv[1:16], q.qv[1:16]))
                * sqrt(list_dot_product(c.cv[1:16], c.cv[1:16])))
           DESC, c.neighbor_id ASC) AS rank
  FROM q CROSS JOIN c WHERE q.query_id <> c.neighbor_id
)
SELECT f.query_id, COUNT(t.neighbor_id) AS overlap_at_5
FROM full_rank f
LEFT JOIN trunc_rank t
  ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id AND t.rank <= 5
WHERE f.rank <= 5
GROUP BY f.query_id
"""


@query("vec_matryoshka_recall", category="vectors", oracle=_MATRYOSHKA_ORACLE)
def vec_matryoshka_recall(spark, sf_dir):
    """Matryoshka-truncation recall probe: how many of each query's true
    top-5 cosine neighbors survive when embeddings are truncated to their
    first 16 dims — the evaluation run before shipping truncated vectors
    to a cheaper ANN tier. Both rankings reuse the brute-force
    cosine_topk operator (broadcast queries, one corpus pass each); the
    overlap join is on (query, neighbor) pairs. slice() on the Spark
    side ≡ DuckDB list slicing."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    t_full = cosine_topk(emb, queries, k=5).select("query_id", "neighbor_id")
    emb16 = emb.select("vec_id", F.slice("embedding", 1, 16).alias("embedding"))
    q16 = emb16.where(F.col("vec_id") < 10)
    t_trunc = (
        cosine_topk(emb16, q16, k=5)
        .select(F.col("query_id").alias("t_qid"), F.col("neighbor_id").alias("t_nid"))
    )
    j = t_full.join(
        t_trunc,
        (F.col("query_id") == F.col("t_qid"))
        & (F.col("neighbor_id") == F.col("t_nid")),
        "left",
    )
    return j.groupBy("query_id").agg(F.count("t_nid").alias("overlap_at_5"))


@query("vec_cosine_topk_pandas", python_boundary=True, category="vectors", oracle=_TOPK_ORACLE)
def vec_cosine_topk_pandas(spark, sf_dir):
    """The SAME exact top-5 cosine search as vec_cosine_topk, but with the
    dot products computed in an Arrow-batched pandas UDF (numpy matmul
    over the batch) instead of JVM zip_with/aggregate — the physical path
    you switch to when per-row JVM expression trees lose to BLAS at high
    dimensionality. Identical oracle as the built-in variant proves the
    two paths agree bit-for-bit after 4-dp rounding; bench.py carries
    both so the crossover is measured, not guessed. Queries are collected
    to a broadcast numpy matrix (10 x 64 — driver-side by design, same as
    any broadcast build side)."""
    from pyspark.sql import Window as W
    from pyspark.sql.functions import pandas_udf

    emb = table(spark, sf_dir, "embeddings")
    qrows = sorted(
        emb.where(F.col("vec_id") < 10).select("vec_id", "embedding").collect(),
        key=lambda r: r["vec_id"],
    )
    qids = [int(r["vec_id"]) for r in qrows]
    qmat = np.array([list(map(float, r["embedding"])) for r in qrows])  # (q, d)
    qnorm = np.sqrt((qmat * qmat).sum(axis=1))  # (q,)
    bq = spark.sparkContext.broadcast((qids, qmat, qnorm))

    @pandas_udf("array<double>")
    def cosines(vecs: pd.Series) -> pd.Series:
        ids, qm, qn = bq.value
        m = np.array(vecs.tolist(), dtype=np.float64)  # (b, d)
        dots = m @ qm.T  # (b, q)
        cn = np.sqrt((m * m).sum(axis=1))  # (b,)
        sims = dots / (cn[:, None] * qn[None, :])
        return pd.Series(list(sims))

    scored = (
        emb.select(
            F.col("vec_id").alias("neighbor_id"),
            cosines(F.col("embedding").cast("array<double>")).alias("sims"),
        )
        .select(
            "neighbor_id",
            F.posexplode("sims").alias("qpos", "cosine"),
        )
        .withColumn("query_id", F.element_at(F.lit(qids), F.col("qpos") + 1))
        .where(F.col("query_id") != F.col("neighbor_id"))
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("query_id", "rank", "neighbor_id", F.round("cosine", 4).alias("cosine"))
    )


# The N² cosine predicate is UNROLLED into 64 scalar columns: DuckDB
# evaluates list_dot_product per pair at ~150 k rows/s (list-entry
# interpretation dominates — the sf1.0 >1200 s wall even with norms
# precomputed), while the explicit e1*f1 + ... + e64*f64 runs through
# the vectorized scalar pipeline. Same left-to-right IEEE summation
# order as list_dot_product, so values are bit-identical.
_D = 64
_DOT = " + ".join(f"a.e{i} * b.e{i}" for i in range(1, _D + 1))
_COLS = ", ".join(f"e[{i}] AS e{i}" for i in range(1, _D + 1))
_SQ = " + ".join(f"e[{i}] * e[{i}]" for i in range(1, _D + 1))

_VEC_CLUSTER_ORACLE = f"""
WITH RECURSIVE v AS MATERIALIZED (
  SELECT vec_id, {_COLS}, sqrt({_SQ}) AS nrm
  FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
),
-- MATERIALIZED: the reach recursion re-executes its plan per iteration;
-- inlined as views, the N^2 cosine join would re-run every round.
pairs AS MATERIALIZED (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM v a JOIN v b ON a.vec_id < b.vec_id
  WHERE ROUND(({_DOT}) / (a.nrm * b.nrm), 8) >= 0.42
),
edges AS MATERIALIZED (
  SELECT vec_a AS u, vec_b AS v FROM pairs
  UNION SELECT vec_b, vec_a FROM pairs
),
reach(a, b) AS (
  SELECT u, u FROM edges
  UNION
  SELECT r.a, e.v FROM reach r JOIN edges e ON r.b = e.u
)
SELECT a AS vec_id, MIN(b) AS cluster_id,
       CAST(a = MIN(b) AS BOOLEAN) AS is_keeper
FROM reach GROUP BY a
"""


@query("vec_dedup_clusters", python_boundary=True, category="vectors", oracle=_VEC_CLUSTER_ORACLE)
def vec_dedup_clusters(spark, sf_dir):
    """Embedding-cluster dedup: connected components over the
    cosine ≥ 0.995 near-dup graph — semantic duplicates collapse
    transitively (A≈B, B≈C ⇒ one keeper) exactly like the text-side
    doc_dedup_clusters, but on the embedding tier. Reuses the iterative
    min-label propagation operator (operators/graph.py); the oracle
    recomputes the same transitive closure with a recursive CTE. Only
    vectors that appear in some near-dup pair are clustered (singletons
    need no keeper election). Threshold 0.42 calibrated to the synthetic
    near-orthogonal fixture so the pair graph is non-trivial (see
    vec_neardup_cosine). Pair generation rides the broadcast-matrix
    BLAS kernel (cosine_tau_pairs_exact, 8-dp quantized cut on both
    engines) — the interpreted all-pairs theta join it replaces is
    quadratic in lambda evaluations and stalled the sf1.0 sweep."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    from ..operators.similarity import cosine_tau_pairs_exact

    pairs = cosine_tau_pairs_exact(emb, tau=0.42, shape_hint=footer_shape(sf_dir))
    from ..operators.graph import connected_components

    cc = connected_components(pairs, src="vec_a", dst="vec_b")
    return cc.select(
        F.col("node").alias("vec_id"),
        F.col("component").alias("cluster_id"),
        (F.col("node") == F.col("component")).alias("is_keeper"),
    )


@query(
    "vec_norm_stats",
    category="vectors",
    oracle="""
    WITH n AS (
      SELECT label, sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      FROM embeddings
    )
    SELECT label, COUNT(*) AS n_vecs,
           ROUND(MIN(nrm), 4) AS norm_min,
           ROUND(MAX(nrm), 4) AS norm_max,
           ROUND(CAST(SUM(CAST(nrm AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 4)
             AS norm_mean
    FROM n GROUP BY label
    """,
)
def vec_norm_stats(spark, sf_dir):
    """Embedding L2-norm distribution per label — the first sanity check
    on any embedding table (un-normalized vectors break cosine-ranked ANN
    tiers; a label whose norms drift signals a bad encoder batch). The
    norm is the same sequential fold on both engines (F.aggregate ≡
    list_dot_product), min/max are exact picks, and the mean uses the
    decimal idiom so partition order can't move the 4th decimal."""
    emb = table(spark, sf_dir, "embeddings")
    e = F.col("embedding").cast("array<double>")
    nrm = F.sqrt(
        F.aggregate(F.zip_with(e, e, lambda x, y: x * y), F.lit(0.0), lambda a, v: a + v)
    )
    n = emb.select("label", nrm.alias("nrm"))
    return n.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.min("nrm"), 4).alias("norm_min"),
        F.round(F.max("nrm"), 4).alias("norm_max"),
        F.round(
            F.sum(F.col("nrm").cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("norm_mean"),
    )


_SEMANTIC_TEXT_ORACLE = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
cand AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         ROUND(ROUND(list_dot_product(a.e, b.e)
               / (sqrt(list_dot_product(a.e, a.e))
                  * sqrt(list_dot_product(b.e, b.e))), 8), 4) AS cosine
  FROM v a JOIN v b ON a.vec_id < b.vec_id
  WHERE ROUND(list_dot_product(a.e, b.e)
        / (sqrt(list_dot_product(a.e, a.e))
           * sqrt(list_dot_product(b.e, b.e))), 8) >= 0.45
),
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(t, g.pos, g.pos + 2), ' ') AS s
  FROM toks, LATERAL (
    SELECT UNNEST(generate_series(1, len(t) - 2)) AS pos
  ) g
  WHERE len(t) >= 3
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id)
SELECT c.vec_a, c.vec_b, c.cosine,
       COUNT(sb.s) AS inter_size,
       sa_n.n_sh + sb_n.n_sh - COUNT(sb.s) AS union_size
FROM cand c
JOIN sizes sa_n ON sa_n.doc_id = c.vec_a
JOIN sizes sb_n ON sb_n.doc_id = c.vec_b
LEFT JOIN sh sa ON sa.doc_id = c.vec_a
LEFT JOIN sh sb ON sb.doc_id = c.vec_b AND sb.s = sa.s
GROUP BY c.vec_a, c.vec_b, c.cosine, sa_n.n_sh, sb_n.n_sh
"""


@query("doc_semantic_text_dedup", python_boundary=True, category="vectors", oracle=_SEMANTIC_TEXT_ORACLE)
def doc_semantic_text_dedup(spark, sf_dir):
    """Cross-modal dedup audit: embedding-cosine candidate pairs
    (threshold 0.45, calibrated to the near-orthogonal synthetic vectors
    like vec_neardup_cosine) joined back to their TEXTS (doc_id = vec_id
    in the fixtures) and scored with exact 3-token-shingle overlap — the
    production pattern where the cheap vector signal nominates pairs and
    the lexical overlap decides keep/merge (catches paraphrases the text
    tier misses, and false vector neighbors the embedding tier invents).
    Shingle intersection/union are exact integers from array_intersect on
    distinct shingle arrays. The candidate set (not the corpus cross
    join) drives the text comparison, so the expensive lexical step runs
    on |candidates| rows only; both doc-side joins are broadcasts of the
    tiny documents table at this SF, fact-side shuffle-free. The
    candidate tier rides the broadcast-matrix BLAS kernel
    (cosine_tau_pairs_exact, 8-dp quantized cut on both engines) — the
    interpreted all-pairs theta join it replaces stalled the sf1.0
    sweep for 25+ minutes."""
    from ..operators.similarity import cosine_tau_pairs_exact

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    cand = cosine_tau_pairs_exact(
        emb, tau=0.45, emit_cosine=True, shape_hint=footer_shape(sf_dir)
    ).select(
        "vec_a", "vec_b", F.round("cosine", 4).alias("cosine")
    )
    docs = table(spark, sf_dir, "documents")
    t = F.split("text", " ")
    sh = docs.select(
        "doc_id",
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(t) - 2),
                lambda i: F.concat_ws(" ", F.slice(t, i, 3)),
            )
        ).alias("sh"),
    ).where(F.size(t) >= 3)
    j = (
        cand.join(
            F.broadcast(sh.select(F.col("doc_id").alias("vec_a"), F.col("sh").alias("sha"))),
            "vec_a",
        )
        .join(
            F.broadcast(sh.select(F.col("doc_id").alias("vec_b"), F.col("sh").alias("shb"))),
            "vec_b",
        )
    )
    inter = F.size(F.array_intersect("sha", "shb"))
    return j.select(
        "vec_a",
        "vec_b",
        "cosine",
        inter.alias("inter_size"),
        (F.size("sha") + F.size("shb") - inter).alias("union_size"),
    )


@query(
    "vec_centroid_quality",
    category="vectors",
    oracle="""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    exploded AS (
      SELECT label, UNNEST(generate_series(1, len(v))) - 1 AS dim, UNNEST(v) AS x
      FROM e
    ),
    dimavg AS (SELECT label, dim, AVG(x) AS cx FROM exploded GROUP BY label, dim),
    cent AS (
      SELECT label, list(cx ORDER BY dim) AS c FROM dimavg GROUP BY label
    ),
    scored AS (
      SELECT e.label,
             list_dot_product(e.v, cent.c)
               / (sqrt(list_dot_product(e.v, e.v))
                  * sqrt(list_dot_product(cent.c, cent.c))) AS cos_to_centroid
      FROM e JOIN cent USING (label)
    )
    SELECT label,
           COUNT(*) AS n,
           ROUND(MIN(cos_to_centroid), 4) AS min_cos,
           ROUND(MAX(cos_to_centroid), 4) AS max_cos
    FROM scored GROUP BY label
    """,
)
def vec_centroid_quality(spark, sf_dir):
    """Cluster-cohesion report: each embedding's cosine to its own label
    centroid, summarized per label as (n, min, max) — the compactness
    check run after any clustering / before using labels as supervision
    (a low min flags mislabeled or outlier vectors). The centroid is the
    exact per-dimension mean (same explode→avg→re-collect shape as
    vec_label_centroids); min/max are order-independent so no decimal
    machinery is needed beyond the shared dataflow. The 5-row centroid
    table broadcasts back onto the fact side — the membership join adds
    no shuffle at any corpus size."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    exploded = emb.select(
        "label", F.posexplode("v").alias("dim", "x")
    )
    dimavg = exploded.groupBy("label", "dim").agg(F.avg("x").alias("cx"))
    cent = dimavg.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "cx"))),
            lambda s: s["cx"],
        ).alias("c")
    )
    j = emb.join(F.broadcast(cent), "label")
    dot = F.aggregate(
        F.zip_with("v", "c", lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    norm = lambda col: F.sqrt(
        F.aggregate(F.transform(col, lambda a: a * a), F.lit(0.0), lambda acc, x: acc + x)
    )
    scored = j.select(
        "label",
        (dot / (norm(F.col("v")) * norm(F.col("c")))).alias("cos_to_centroid"),
    )
    return scored.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("cos_to_centroid"), 4).alias("min_cos"),
        F.round(F.max("cos_to_centroid"), 4).alias("max_cos"),
    )


def _scaled_bucket_cte(n_tables: int, dim: int, seed: int,
                       extra_emb_cols: str = "") -> str:
    """Shared WITH-prefix for the scaled-plane semdedup oracles: ALL
    SEMDEDUP_MAX_PLANES prefix-drawn planes per table are baked as
    literals (lsh_planes_prefix — each table's first p rows are the
    p-plane draw), and the active plane count p is computed at runtime
    from COUNT(*) with the same pure-integer rule as scaled_n_planes,
    so one static oracle string replays the Spark side at EVERY scale
    factor. p is consumed via scalar subqueries, not a sibling-CTE
    cross join (the DuckDB-at-volume misfold class in the verify
    notes)."""
    from ..operators.similarity import (
        SEMDEDUP_MAX_PLANES,
        SEMDEDUP_MIN_PLANES,
        SEMDEDUP_TARGET_BUCKET,
        lsh_planes_prefix,
    )

    pl = lsh_planes_prefix(n_tables, SEMDEDUP_MAX_PLANES, dim, seed)
    rows = []
    for t in range(n_tables):
        for p in range(SEMDEDUP_MAX_PLANES):
            vals = ", ".join(repr(float(x)) for x in pl[t, p])
            rows.append(f"({t}, {p}, [{vals}]::DOUBLE[])")
    values = ",\n".join(rows)
    tiers = ", ".join(
        f"({p})" for p in range(SEMDEDUP_MIN_PLANES, SEMDEDUP_MAX_PLANES)
    )
    return f"""
WITH planes(tbl, pid, plane) AS (VALUES
{values}
),
np AS (
  SELECT COALESCE(MIN(p), {SEMDEDUP_MAX_PLANES}) AS p
  FROM (VALUES {tiers}) t(p)
  WHERE (SELECT COUNT(*) FROM embeddings)
        <= {SEMDEDUP_TARGET_BUCKET} * (CAST(1 AS BIGINT) << p)
),
emb AS (SELECT vec_id, embedding::DOUBLE[] AS e{extra_emb_cols} FROM embeddings),
buckets AS (
  SELECT vec_id,
         (tbl * (CAST(1 AS BIGINT) << (SELECT p FROM np)))
           + SUM(CASE WHEN list_dot_product(e, plane) > 0
                      THEN CAST(1 AS BIGINT) << pid ELSE 0 END) AS bucket
  FROM emb JOIN planes ON pid < (SELECT p FROM np)
  GROUP BY vec_id, tbl
),"""


def _semdedup_oracle(n_tables: int, dim: int, seed: int, tau: float) -> str:
    """ANSI-SQL twin of semdedup_bucketed (scaled planes): the plane
    constants are inlined as literals so DuckDB reproduces bucket
    assignment, candidate pairs, the cosine cut, and the min-id keeper
    policy bit-for-bit at every scale factor."""
    return f"""{_scaled_bucket_cte(n_tables, dim, seed)}
cand AS (
  SELECT DISTINCT lo.vec_id AS vec_a, hi.vec_id AS vec_b
  FROM buckets lo JOIN buckets hi USING (bucket)
  WHERE lo.vec_id < hi.vec_id
),
dup AS (
  SELECT c.vec_b AS vec_id, MIN(c.vec_a) AS witness_id,
         CAST(COUNT(*) AS BIGINT) AS n_dups
  FROM cand c
  JOIN emb a ON a.vec_id = c.vec_a
  JOIN emb b ON b.vec_id = c.vec_b
  WHERE ROUND(list_dot_product(a.e, b.e)
        / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 8) >= {tau!r}
  GROUP BY c.vec_b
)
SELECT e.vec_id,
       d.witness_id IS NULL AS is_kept,
       d.witness_id,
       COALESCE(d.n_dups, 0) AS n_dups
FROM emb e LEFT JOIN dup d ON e.vec_id = d.vec_id
"""


def _incr_semdedup_oracle(n_tables: int, dim: int,
                          seed: int, tau: float) -> str:
    """ANSI twin of vec_incremental_semdedup: same (scaled) plane
    literals, same bucketed candidates, but the INCREMENTAL keeper
    policy — an increment vector is dropped by ANY base neighbor
    (either id order) or by a LOWER-id increment neighbor."""
    cte = _scaled_bucket_cte(
        n_tables, dim, seed, extra_emb_cols=", vec_id % 5 = 0 AS is_incr"
    )
    return f"""{cte}
cand AS (
  SELECT DISTINCT lo.vec_id AS vec_a, hi.vec_id AS vec_b
  FROM buckets lo JOIN buckets hi USING (bucket)
  WHERE lo.vec_id < hi.vec_id
),
close AS (
  SELECT c.vec_a, c.vec_b, a.is_incr AS a_incr, b.is_incr AS b_incr
  FROM cand c
  JOIN emb a ON a.vec_id = c.vec_a
  JOIN emb b ON b.vec_id = c.vec_b
  WHERE ROUND(list_dot_product(a.e, b.e)
        / (sqrt(list_dot_product(a.e, a.e))
           * sqrt(list_dot_product(b.e, b.e))), 8) >= {tau!r}
),
drops AS (
  -- lower-id witness drops the higher-id side iff the higher side is
  -- an increment vector; a base neighbor of EITHER order drops an
  -- increment vector
  SELECT vec_b AS vec_id, vec_a AS witness FROM close WHERE b_incr
  UNION ALL
  SELECT vec_a AS vec_id, vec_b AS witness FROM close WHERE a_incr AND NOT b_incr
),
d AS (
  SELECT vec_id, MIN(witness) AS witness_id,
         CAST(COUNT(*) AS BIGINT) AS n_witnesses
  FROM drops GROUP BY vec_id
)
SELECT e.vec_id,
       d.witness_id IS NULL AS is_kept,
       d.witness_id,
       COALESCE(d.n_witnesses, 0) AS n_witnesses
FROM emb e LEFT JOIN d ON e.vec_id = d.vec_id
WHERE e.is_incr
"""


@query(
    "vec_incremental_semdedup", python_boundary=True,
    category="vectors",
    oracle=_incr_semdedup_oracle(n_tables=4, dim=64, seed=7, tau=0.45),
)
def vec_incremental_semdedup(spark, sf_dir):
    """INCREMENTAL SemDeDup — the production shape of a continuously
    growing embedding corpus (the vector twin of doc_incremental_dedup):
    only the NEW batch (vec_id % 5 == 0 stands in for today's crawl) is
    deduplicated, against the established base corpus AND against
    lower-id vectors within the batch itself. Cost scales with the
    increment's bucket collisions, never |base|² — base-base pairs are
    never scored against each other for this decision. Physical shape:
    both sides bucket through the same literal-plane LSH, one per-bucket
    chunked-BLAS pair kernel (cosine_tau_pairs_within) scores the
    candidates, and the keeper policy is applied AFTER the kernel by
    membership: a lower-id witness drops a higher-id increment vector;
    a base neighbor of either id order drops an increment vector; base
    vectors are never dropped. Output: one row per increment vector with
    the keep/drop verdict, the smallest witness, and the witness count.
    The plane count scales with the corpus (scaled_n_planes, as in
    vec_semdedup) so bucket population stays bounded as the base
    grows."""
    from ..operators.similarity import (
        SEMDEDUP_MAX_PLANES,
        cosine_tau_pairs_within,
        lsh_multitable_buckets,
        lsh_planes_prefix,
        scaled_n_planes,
    )

    emb = table(spark, sf_dir, "embeddings")
    is_incr = (F.col("vec_id") % 5 == 0)
    hint = footer_shape(sf_dir)
    p = scaled_n_planes(hint[0] if hint else emb.count())
    pl = lsh_planes_prefix(4, SEMDEDUP_MAX_PLANES, 64, 7)[:, :p, :]
    b = lsh_multitable_buckets(emb, planes=pl)
    vecs = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("e"),
        is_incr.alias("probe"),
    )
    pairs = cosine_tau_pairs_within(
        b.join(vecs, "vec_id"), tau=0.45, probe_col="probe"
    ).distinct()
    flags = emb.select("vec_id", is_incr.alias("is_incr"))
    fa = flags.select(F.col("vec_id").alias("vec_a"), F.col("is_incr").alias("a_incr"))
    fb = flags.select(F.col("vec_id").alias("vec_b"), F.col("is_incr").alias("b_incr"))
    close = pairs.join(F.broadcast(fa), "vec_a").join(F.broadcast(fb), "vec_b")
    drops = (
        close.where("b_incr").select(
            F.col("vec_b").alias("vec_id"), F.col("vec_a").alias("witness")
        )
        .unionAll(
            close.where("a_incr AND NOT b_incr").select(
                F.col("vec_a").alias("vec_id"), F.col("vec_b").alias("witness")
            )
        )
        .groupBy("vec_id")
        .agg(
            F.min("witness").alias("witness_id"),
            F.count(F.lit(1)).alias("n_witnesses"),
        )
    )
    return (
        emb.where(is_incr)
        .select("vec_id")
        .join(drops, "vec_id", "left")
        .select(
            "vec_id",
            F.col("witness_id").isNull().alias("is_kept"),
            "witness_id",
            F.coalesce("n_witnesses", F.lit(0)).alias("n_witnesses"),
        )
    )


@query(
    "vec_semdedup", python_boundary=True,
    category="vectors",
    oracle=_semdedup_oracle(n_tables=4, dim=64, seed=7, tau=0.45),
)
def vec_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023) re-expressed Spark-first: partition
    the embedding space (here literal-hyperplane LSH so the oracle can
    replay it; k-means in vec_ann_ivf is the swap-in), compare cosine
    only WITHIN partitions, and drop every vector that has a lower-id
    duplicate at cosine >= 0.45 (threshold calibrated to the synthetic
    near-orthogonal fixtures, like vec_neardup_cosine). One row per
    corpus vector with the keep/drop verdict and the dropping witness —
    the semantic-dedup tier of the training-data funnel. EXACT oracle:
    DuckDB recomputes the whole approximate pipeline from the same plane
    constants, not just the final counts. The plane count SCALES with
    the corpus (n_planes=None -> scaled_n_planes: smallest p with
    N <= 512*2^p, p in [3,12]) so bucket population — and with it the
    within-bucket matmul — stays bounded instead of growing as N/8 (the
    round-7 scalecheck's quadratic-by-configuration class); the oracle
    recomputes the same p from COUNT(*) over baked prefix-plane
    literals."""
    from ..operators.similarity import semdedup_bucketed

    emb = table(spark, sf_dir, "embeddings")
    hint = footer_shape(sf_dir)
    return semdedup_bucketed(
        emb, tau=0.45, n_tables=4, n_planes=None, dim=64, seed=7,
        corpus_rows=hint[0] if hint else None,
    )




def _pq_codebooks(n_sub: int = 32, n_cent: int = 32, sub_dim: int = 2,
                  seed: int = 11, train_iters: int = 12):
    """Deterministic TRAINED PQ codebooks: Lloyd's k-means on synthetic
    samples drawn from the embedding distribution (iid N(0, 0.125²) per
    dim — the fixture generator's law, so codebooks trained on samples
    generalize across scale factors), then literalized so both engines
    replay the same assignment. Config 32 subspaces × 32 centroids over
    2-dim subvectors was selected by measured recall@5 on the fixtures:
    untrained 8×16 → 0.16-0.20, trained 8×16 → 0.16, trained 32×16 →
    0.52-0.62, trained 32×32 → 0.64-0.68 (sf0.01/sf0.1) — isotropic
    random data is quantization's worst case, so narrow subspaces win;
    clustered production embeddings would use coarser m with the same
    training path. The trained codebooks are a persisted parquet ARTIFACT
    (operators/artifacts.py, like the IVF centroid table): ~1e8 training
    flops run once ever, not once per process."""
    import numpy as np

    from ..operators.artifacts import load_or_train_codebooks

    def _train() -> list[np.ndarray]:
        rng = np.random.RandomState(seed)
        cbs = []
        for _ in range(n_sub):
            samp = rng.standard_normal((4000, sub_dim)) * 0.125
            cb = samp[rng.choice(4000, n_cent, replace=False)].copy()
            for _ in range(train_iters):
                d = ((samp[:, None, :] - cb[None, :, :]) ** 2).sum(-1)
                a = d.argmin(1)
                for c in range(n_cent):
                    m = samp[a == c]
                    if len(m):
                        cb[c] = m.mean(0)
            cbs.append(cb)
        return cbs

    return load_or_train_codebooks(
        "pq_codebooks", (n_sub, n_cent, sub_dim, seed, train_iters), _train
    )


def _pq_oracle(n_sub: int = 32, n_cent: int = 32, sub_dim: int = 2, seed: int = 11) -> str:
    cbs = _pq_codebooks(n_sub, n_cent, sub_dim, seed)
    rows = []
    for s, cb in enumerate(cbs):
        for c in range(n_cent):
            vals = ", ".join(repr(float(x)) for x in cb[c])
            rows.append(f"({s}, {c}, [{vals}]::DOUBLE[])")
    values = ",\n".join(rows)
    return f"""
WITH cb(sub, cid, cent) AS (VALUES
{values}
),
emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
dists AS (
  SELECT vec_id, sub, cid,
         list_reduce(
           list_prepend(0.0,
             list_transform(cent,
               (x, i) -> (e[sub * {sub_dim} + i] - x) * (e[sub * {sub_dim} + i] - x))),
           (a, b) -> a + b) AS d
  FROM emb CROSS JOIN cb
),
best AS (
  SELECT vec_id, sub, cid, d,
         ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d, cid) AS r
  FROM dists
)
SELECT vec_id,
       array_to_string(list(cid ORDER BY sub), ',') AS code,
       ROUND(list_reduce(list_prepend(0.0, list(d ORDER BY sub)),
                         (a, b) -> a + b), 4) AS sq_err
FROM best WHERE r = 1
GROUP BY vec_id
"""


@query("vec_pq_quantize", python_boundary=True, category="vectors", oracle=_pq_oracle())
def vec_pq_quantize(spark, sf_dir):
    """Product quantization (Jégou et al. 2011) — the vector-compression
    tier under any billion-scale ANN index: the 64-dim embedding splits
    into 32 two-dim subvectors, each assigned to its nearest of 32
    TRAINED codebook centroids (_pq_codebooks: deterministic k-means on
    the embedding distribution; ties → lower centroid id), emitting a
    20-byte code (12.8× compression) plus the exact squared
    reconstruction error. Runs in the PQ family's Arrow boundary
    (_pq_code_frame — batched numpy with oracle-order-pinned
    arithmetic); no shuffle at all (scan → project). Measured recall@5
    of searching these codes: 0.64-0.68 (vec_pq_adc_recall)."""
    emb = table(spark, sf_dir, "embeddings")
    # code emitted as a comma-joined string: a raw array column crashes
    # the driver's pandas canonicalizer
    return _pq_code_frame(emb).select(
        "vec_id",
        F.array_join(
            F.transform("code", lambda c: c.cast("string")), ","
        ).alias("code"),
        F.round("sq_err", 4).alias("sq_err"),
    )


def _pq_code_frame(emb):
    """(vec_id, code array<int>, sq_err double) via ONE Arrow-batched
    mapInPandas stage — the declared Python boundary of the PQ family
    (the 32×32 literal-codebook assignment as ~1000 Catalyst fold
    expressions ran INTERPRETED and measured 30-90 s on 2000 rows at
    sf0.1; the batched numpy version is <1 s, same tradeoff as
    similarity.lsh_multitable_buckets). Arithmetic is ORDER-PINNED to
    the oracle's folds: per-centroid distance is x²+y² (two exact
    products, one add — equal to the fold's 0.0+t1+t2), argmin takes the
    first minimum (= lowest centroid id on ties), and sq_err accumulates
    subspace distances in ascending-s order, never np.sum's pairwise
    tree."""
    import numpy as np
    import pandas as pd

    CB = np.stack(_pq_codebooks())  # (n_sub, n_cent, 2), float64

    def assign(batches):
        for pdf in batches:
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            n = len(m)
            codes = np.zeros((n, CB.shape[0]), dtype=np.int32)
            err = np.zeros(n)
            for s in range(CB.shape[0]):
                diff = m[:, 2 * s : 2 * s + 2][:, None, :] - CB[s][None, :, :]
                d = diff[:, :, 0] * diff[:, :, 0] + diff[:, :, 1] * diff[:, :, 1]
                a = d.argmin(1)
                codes[:, s] = a
                err += d[np.arange(n), a]
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "code": list(codes), "sq_err": err}
            )

    # spread: the corpus is a single parquet file locally, so without it
    # this CPU-heavy Arrow stage runs in ONE task (serial encode of the
    # whole corpus — measured as a multi-second 1-task stage in the
    # event log); no-op on any multi-file table at scale (tables.spread).
    return spread(emb.select("vec_id", "embedding")).mapInPandas(
        assign, "vec_id long, code array<int>, sq_err double"
    )


def _pq_query_tables(emb):
    """(query_id, dt array<array<double>>) — each query's 32×32 distance
    table to the literal codebooks, same Arrow-batched stage and the
    same order-pinned x²+y² arithmetic as _pq_code_frame."""
    import numpy as np
    import pandas as pd

    CB = np.stack(_pq_codebooks())

    def tables(batches):
        for pdf in batches:
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            dts = []
            for row in m:
                dt = []
                for s in range(CB.shape[0]):
                    diff = row[2 * s : 2 * s + 2][None, :] - CB[s]
                    dt.append(diff[:, 0] * diff[:, 0] + diff[:, 1] * diff[:, 1])
                dts.append([list(map(float, d)) for d in dt])
            yield pd.DataFrame({"query_id": pdf["vec_id"], "dt": dts})

    return emb.select("vec_id", "embedding").mapInPandas(
        tables, "query_id long, dt array<array<double>>"
    )


def _pq_adc_oracle(n_sub: int = 32, n_cent: int = 32, sub_dim: int = 2,
                   seed: int = 11, k: int = 5) -> str:
    cbs = _pq_codebooks(n_sub, n_cent, sub_dim, seed)
    rows = []
    for s, cb in enumerate(cbs):
        for c in range(n_cent):
            vals = ", ".join(repr(float(x)) for x in cb[c])
            rows.append(f"({s}, {c}, [{vals}]::DOUBLE[])")
    values = ",\n".join(rows)
    return f"""
WITH cb(sub, cid, cent) AS (VALUES
{values}
),
emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
dists AS (
  SELECT vec_id, sub, cid,
         list_reduce(
           list_prepend(0.0,
             list_transform(cent,
               (x, i) -> (e[sub * {sub_dim} + i] - x) * (e[sub * {sub_dim} + i] - x))),
           (a, b) -> a + b) AS d
  FROM emb CROSS JOIN cb
),
best AS (
  SELECT vec_id, sub, cid,
         ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d, cid) AS r
  FROM dists
),
codes AS (SELECT vec_id AS neighbor_id, sub, cid FROM best WHERE r = 1),
adc AS (
  SELECT q.vec_id AS query_id, c.neighbor_id, q.sub, q.d
  FROM dists q JOIN codes c ON q.sub = c.sub AND q.cid = c.cid
  WHERE q.vec_id < 10 AND q.vec_id <> c.neighbor_id
),
summed AS (
  SELECT query_id, neighbor_id,
         list_reduce(list_prepend(0.0, list(d ORDER BY sub)), (a, b) -> a + b) AS ad
  FROM adc GROUP BY query_id, neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, ad,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY ad ASC, neighbor_id ASC) AS rank
  FROM summed
)
SELECT query_id, rank, neighbor_id, ROUND(ad, 4) AS adc_dist
FROM ranked WHERE rank <= {k}
"""


@query("vec_pq_adc_topk", python_boundary=True, category="vectors", oracle=_pq_adc_oracle())
def vec_pq_adc_topk(spark, sf_dir):
    """Asymmetric-distance PQ search (the IVF-PQ inner loop, Jégou et al.
    2011): each query precomputes its 32×32 distance table to the
    literal TRAINED codebooks (exact folds on the query side only), then
    every corpus vector is scored from its 20-byte CODE alone — one
    table lookup per subspace, zip_with(dt, code) + fold, never touching
    the corpus embeddings. Top-5 by approximate squared L2, ties → lower
    id. This is the compressed-domain scan that makes billion-vector
    search fit in RAM: the scored relation carries (id, 20 bytes), 12.8×
    less than raw vectors; at production scale the same scan runs per probed IVF list
    rather than the full corpus (vec_ann_ivf is the coarse stage). The
    tiny query side broadcasts; EXACT oracle replays codebook
    assignment, distance tables, and ranking from the same literals.
    Code assignment and query tables run in the family's Arrow boundary
    (_pq_code_frame / _pq_query_tables); the per-candidate scoring fold
    stays JVM-side."""
    emb = table(spark, sf_dir, "embeddings")
    codes = _pq_code_frame(emb).select(
        F.col("vec_id").alias("neighbor_id"), "code"
    )
    qd = _pq_query_tables(emb.filter(F.col("vec_id") < 10))
    scored = (
        codes.crossJoin(F.broadcast(qd))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "ad",
            F.aggregate(
                F.zip_with("dt", "code", lambda t, c: F.element_at(t, c + F.lit(1))),
                F.lit(0.0),
                lambda a, b: a + b,
            ),
        )
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy(F.col("ad").asc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "rank", "neighbor_id", F.round("ad", 4).alias("adc_dist"))
    )


def _pq_adc_recall_oracle(k: int = 5) -> str:
    adc = _pq_adc_oracle(k=k)
    return f"""
WITH adc_top AS ({adc}),
emb2 AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
truth_scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_reduce(
           list_prepend(0.0,
             list_transform(q.e, (x, i) -> (x - c.e[i]) * (x - c.e[i]))),
           (a, b) -> a + b) AS d
  FROM emb2 q CROSS JOIN emb2 c
  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
),
truth AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d ASC, neighbor_id ASC) AS r
    FROM truth_scored) WHERE r <= {k}
)
SELECT CAST(COUNT(DISTINCT t.query_id) AS BIGINT) AS n_queries,
       CAST(COUNT(*) AS BIGINT) AS n_truth,
       CAST(COUNT(a.query_id) AS BIGINT) AS n_hit,
       ROUND(COUNT(a.query_id)::DOUBLE / COUNT(*), 4) AS recall_at_k
FROM truth t
LEFT JOIN adc_top a ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
"""


@query("vec_pq_adc_recall", python_boundary=True, category="vectors", oracle=_pq_adc_recall_oracle())
def vec_pq_adc_recall(spark, sf_dir):
    """Recall@5 of compressed-domain ADC search vs exact L2 brute force —
    the quantization-error counterpart of vec_ann_recall_lsh/_ivf: LSH/IVF
    lose recall by candidate pruning, PQ loses it by distance distortion,
    and a production IVF-PQ index pays both; this row prices the second
    term alone (full-corpus ADC scan, no pruning). EXACT oracle: DuckDB
    replays the codebook assignment, the ADC ranking, AND the exact-L2
    ground truth, so the recall NUMBER is hash-compared. Ground-truth
    distances fold per-dimension in ascending order on both engines."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qe"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("ce"),
    )
    d = F.aggregate(
        F.zip_with("qe", "ce", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy(F.col("d").asc(), F.col("neighbor_id").asc())
    truth = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("d", d)
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 5)
        .select("query_id", "neighbor_id")
    )
    approx = vec_pq_adc_topk(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    return truth.join(approx, ["query_id", "neighbor_id"], "left").agg(
        F.countDistinct("query_id").alias("n_queries"),
        F.count(F.lit(1)).alias("n_truth"),
        F.count("hit").alias("n_hit"),
        F.round(F.count("hit") / F.count(F.lit(1)), 4).alias("recall_at_k"),
    )


# ---------------------------------------------------------------------------
# IVF-PQ: the full composite index (coarse inverted lists + residual PQ +
# per-probe ADC) — FAISS IndexIVFPQ semantics, Jégou et al. 2011 §IV.
# ---------------------------------------------------------------------------

_IVFPQ_N_LISTS = 16
_IVFPQ_N_PROBE = 8
_IVFPQ_CACHE: dict = {}


def _ivfpq_coarse(n_lists: int = _IVFPQ_N_LISTS, dim: int = 64, seed: int = 13,
                  iters: int = 10):
    """Deterministic TRAINED coarse quantizer: Lloyd's k-means on synthetic
    samples from the embedding law (iid N(0, 0.125²) per dim — the fixture
    generator's distribution, so the same centroids generalize across
    scale factors), literalized so both engines replay the identical
    assignment — the full-dim sibling of _pq_codebooks. Cached per
    config."""
    key = (n_lists, dim, seed, iters)
    if key not in _IVFPQ_CACHE:
        rng = np.random.RandomState(seed)
        samp = rng.standard_normal((4000, dim)) * 0.125
        cb = samp[rng.choice(4000, n_lists, replace=False)].copy()
        for _ in range(iters):
            d = ((samp[:, None, :] - cb[None, :, :]) ** 2).sum(-1)
            a = d.argmin(1)
            for c in range(n_lists):
                m = samp[a == c]
                if len(m):
                    cb[c] = m.mean(0)
        _IVFPQ_CACHE[key] = cb
    return _IVFPQ_CACHE[key]


def _coarse_dists(m, cents):
    """Squared L2 from each row of m to each centroid with the PER-DIM
    accumulation order PINNED to the oracle's fold (0.0 + t0 + t1 + …):
    a j-ascending loop of += — never np.sum's pairwise tree."""
    d = np.zeros((len(m), len(cents)))
    diff = m[:, None, :] - cents[None, :, :]
    for j in range(m.shape[1]):
        d += diff[:, :, j] * diff[:, :, j]
    return d


def _ivfpq_code_frame(emb):
    """(vec_id, list_id, code array<int>) in ONE Arrow-batched mapInPandas
    stage: coarse-assign to the nearest literal centroid (ties → lower
    list id via first-argmin), then PQ-encode the RESIDUAL vector against
    the literal codebooks — the compressed representation of a FAISS
    IVFPQ index (by_residual=true). Same Python-boundary rationale and
    order-pinned arithmetic as _pq_code_frame."""
    cents = _ivfpq_coarse()
    CB = np.stack(_pq_codebooks())

    def encode(batches):
        for pdf in batches:
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            lists = _coarse_dists(m, cents).argmin(1)
            r = m - cents[lists]
            codes = np.zeros((len(m), CB.shape[0]), dtype=np.int32)
            for s in range(CB.shape[0]):
                diff = r[:, 2 * s : 2 * s + 2][:, None, :] - CB[s][None, :, :]
                d = diff[:, :, 0] * diff[:, :, 0] + diff[:, :, 1] * diff[:, :, 1]
                codes[:, s] = d.argmin(1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "list_id": lists.astype(np.int32),
                    "code": list(codes),
                }
            )

    # spread: see _pq_code_frame — parallelize the corpus encode locally
    # (single-file scan → one task otherwise); no-op on multi-file input.
    return spread(emb.select("vec_id", "embedding")).mapInPandas(
        encode, "vec_id long, list_id int, code array<int>"
    )


def _ivfpq_query_probes(emb, n_probe: int = _IVFPQ_N_PROBE):
    """(query_id, list_id, dt array<array<double>>) — one row per probed
    inverted list: the n_probe nearest coarse centroids (stable argsort =
    ties → lower list id) and, per probe, the query RESIDUAL's 32×32
    distance table to the literal codebooks. Residuals differ per probed
    list, so the table is per-(query, list) — exactly the per-list table
    an IVFPQ scan precomputes before walking the list."""
    cents = _ivfpq_coarse()
    CB = np.stack(_pq_codebooks())

    def tables(batches):
        for pdf in batches:
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            qids, lids, dts = [], [], []
            cd = _coarse_dists(m, cents)
            for qi in range(len(m)):
                probes = np.argsort(cd[qi], kind="stable")[:n_probe]
                for lid in probes:
                    qres = m[qi] - cents[lid]
                    dt = []
                    for s in range(CB.shape[0]):
                        diff = qres[2 * s : 2 * s + 2][None, :] - CB[s]
                        dt.append(
                            [
                                float(x)
                                for x in diff[:, 0] * diff[:, 0]
                                + diff[:, 1] * diff[:, 1]
                            ]
                        )
                    qids.append(pdf["vec_id"].iloc[qi])
                    lids.append(int(lid))
                    dts.append(dt)
            yield pd.DataFrame({"query_id": qids, "list_id": lids, "dt": dts})

    return emb.select("vec_id", "embedding").mapInPandas(
        tables, "query_id long, list_id int, dt array<array<double>>"
    )


def _ivfpq_query_probes_local(spark, emb, n_probe: int = _IVFPQ_N_PROBE,
                              max_queries: int = 64):
    """Driver-side twin of _ivfpq_query_probes for the bounded query sets
    an ANN lookup actually has (10 here; guarded at max_queries like
    vec_cosine_topk_pandas's collect): the probe/table build is a few
    thousand flops per query, so shipping it through a dedicated Arrow
    stage + broadcast-collect costs more in stage scheduling than the
    work itself (measured ~3 s of the 7.5 s bench row). Identical
    order-pinned arithmetic; the result becomes a local relation that
    broadcasts for free. Unbounded query sets use the mapInPandas
    variant unchanged."""
    rows = emb.select("vec_id", "embedding").limit(max_queries + 1).collect()
    if len(rows) > max_queries:
        raise ValueError(
            f"query side exceeds {max_queries} vectors — use _ivfpq_query_probes"
        )
    cents = _ivfpq_coarse()
    CB = np.stack(_pq_codebooks())
    m = np.array([r["embedding"] for r in rows], dtype=np.float64)
    cd = _coarse_dists(m, cents)
    out = []
    for qi in range(len(m)):
        for lid in np.argsort(cd[qi], kind="stable")[:n_probe]:
            qres = m[qi] - cents[lid]
            dt = []
            for s in range(CB.shape[0]):
                diff = qres[2 * s : 2 * s + 2][None, :] - CB[s]
                dt.append(
                    [float(x) for x in diff[:, 0] * diff[:, 0]
                     + diff[:, 1] * diff[:, 1]]
                )
            out.append((rows[qi]["vec_id"], int(lid), dt))
    return spark.createDataFrame(
        out, "query_id long, list_id int, dt array<array<double>>"
    )


def _ivfpq_literal_values():
    cents = _ivfpq_coarse()
    cent_rows = ",\n".join(
        f"({lid}, [{', '.join(repr(float(x)) for x in c)}]::DOUBLE[])"
        for lid, c in enumerate(cents)
    )
    cbs = _pq_codebooks()
    cb_rows = ",\n".join(
        f"({s}, {c}, [{', '.join(repr(float(x)) for x in cb[c])}]::DOUBLE[])"
        for s, cb in enumerate(cbs)
        for c in range(len(cb))
    )
    return cent_rows, cb_rows


def _ivfpq_topk_oracle(n_probe: int = _IVFPQ_N_PROBE, k: int = 5) -> str:
    cent_rows, cb_rows = _ivfpq_literal_values()
    return f"""
WITH cents(lid, ccent) AS (VALUES
{cent_rows}
),
cb(sub, cid, cent) AS (VALUES
{cb_rows}
),
emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
cd AS (
  SELECT vec_id, lid,
         list_reduce(
           list_prepend(0.0,
             list_transform(ccent, (x, i) -> (e[i] - x) * (e[i] - x))),
           (a, b) -> a + b) AS d
  FROM emb CROSS JOIN cents
),
asg AS (
  SELECT vec_id, lid FROM (
    SELECT vec_id, lid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, lid) AS r
    FROM cd) WHERE r = 1
),
res AS (
  SELECT emb.vec_id, a.lid,
         list_transform(e, (x, i) -> x - c.ccent[i]) AS rv
  FROM emb JOIN asg a ON emb.vec_id = a.vec_id
  JOIN cents c ON a.lid = c.lid
),
rd AS (
  SELECT vec_id, lid, sub, cid,
         (rv[sub * 2 + 1] - cent[1]) * (rv[sub * 2 + 1] - cent[1])
         + (rv[sub * 2 + 2] - cent[2]) * (rv[sub * 2 + 2] - cent[2]) AS d
  FROM res CROSS JOIN cb
),
codes AS (
  SELECT vec_id AS neighbor_id, lid, sub, cid FROM (
    SELECT vec_id, lid, sub, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d, cid) AS r
    FROM rd) WHERE r = 1
),
probes AS (
  SELECT vec_id AS query_id, lid FROM (
    SELECT vec_id, lid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, lid) AS r
    FROM cd WHERE vec_id < 10) WHERE r <= {n_probe}
),
qres AS (
  SELECT p.query_id, p.lid,
         list_transform(e, (x, i) -> x - c.ccent[i]) AS rv
  FROM probes p JOIN emb ON emb.vec_id = p.query_id
  JOIN cents c ON p.lid = c.lid
),
qdt AS (
  SELECT query_id, lid, sub, cid,
         (rv[sub * 2 + 1] - cent[1]) * (rv[sub * 2 + 1] - cent[1])
         + (rv[sub * 2 + 2] - cent[2]) * (rv[sub * 2 + 2] - cent[2]) AS d
  FROM qres CROSS JOIN cb
),
adc AS (
  SELECT q.query_id, c.neighbor_id, q.sub, q.d
  FROM qdt q
  JOIN codes c ON q.lid = c.lid AND q.sub = c.sub AND q.cid = c.cid
  WHERE q.query_id <> c.neighbor_id
),
summed AS (
  SELECT query_id, neighbor_id,
         list_reduce(list_prepend(0.0, list(d ORDER BY sub)),
                     (a, b) -> a + b) AS ad
  FROM adc GROUP BY query_id, neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, ad,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY ad ASC, neighbor_id ASC) AS rank
  FROM summed
)
SELECT query_id, rank, neighbor_id, ROUND(ad, 4) AS adc_dist
FROM ranked WHERE rank <= {k}
"""


@query("vec_ivfpq_topk", python_boundary=True, category="vectors", oracle=_ivfpq_topk_oracle())
def vec_ivfpq_topk(spark, sf_dir):
    """The full IVF-PQ composite (FAISS IndexIVFPQ, Jégou et al. 2011):
    coarse quantizer partitions the corpus into 16 inverted lists, every
    corpus vector is stored as its list id + a 20-byte PQ code of its
    RESIDUAL to the list centroid, and each query probes its 8 nearest
    lists, scoring candidates compressed-domain via a per-(query, probe)
    ADC distance table — the memory-bound billion-scale ANN design: the
    scan touches n_probe/n_lists of the corpus and reads 21 bytes per
    candidate instead of 512. The join is a broadcast equi-join on
    list_id (query side: 10 queries × 8 probes), candidate scoring is a
    JVM zip_with lookup fold, and the only Python is the family's Arrow
    boundary (encode + table build). EXACT oracle: DuckDB replays coarse
    assignment, residual codes, probe choice, distance tables, and
    ranking from the same literal centroids/codebooks. Recall is priced
    by vec_ivfpq_recall (candidate pruning × quantization distortion —
    isotropic random embeddings are the worst case for both)."""
    from pyspark.sql import Window as W

    emb = table(spark, sf_dir, "embeddings")
    codes = _ivfpq_code_frame(emb).select(
        F.col("vec_id").alias("neighbor_id"), "list_id", "code"
    )
    probes = _ivfpq_query_probes_local(spark, emb.filter(F.col("vec_id") < 10))
    scored = (
        codes.join(F.broadcast(probes), "list_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "ad",
            F.aggregate(
                F.zip_with("dt", "code", lambda t, c: F.element_at(t, c + F.lit(1))),
                F.lit(0.0),
                lambda a, b: a + b,
            ),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("ad").asc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "rank", "neighbor_id", F.round("ad", 4).alias("adc_dist"))
    )


def _ivfpq_recall_oracle(k: int = 5) -> str:
    topk = _ivfpq_topk_oracle(k=k)
    return f"""
WITH ivfpq_top AS ({topk}),
emb2 AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
truth_scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_reduce(
           list_prepend(0.0,
             list_transform(q.e, (x, i) -> (x - c.e[i]) * (x - c.e[i]))),
           (a, b) -> a + b) AS d
  FROM emb2 q CROSS JOIN emb2 c
  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
),
truth AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d ASC, neighbor_id ASC) AS r
    FROM truth_scored) WHERE r <= {k}
)
SELECT CAST(COUNT(DISTINCT t.query_id) AS BIGINT) AS n_queries,
       CAST(COUNT(*) AS BIGINT) AS n_truth,
       CAST(COUNT(a.query_id) AS BIGINT) AS n_hit,
       ROUND(COUNT(a.query_id)::DOUBLE / COUNT(*), 4) AS recall_at_k
FROM truth t
LEFT JOIN ivfpq_top a ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
"""


@query("vec_ivfpq_recall", python_boundary=True, category="vectors", oracle=_ivfpq_recall_oracle())
def vec_ivfpq_recall(spark, sf_dir):
    """Recall@5 of the IVF-PQ composite vs exact-L2 brute force — the
    end-to-end price of BOTH approximation terms at once: candidate
    pruning (8 of 16 lists probed → vec_ann_recall_ivf's term) and
    compressed-domain distance distortion (vec_pq_adc_recall's term).
    Measured ~0.5 on the isotropic fixtures (ADC-alone ceiling is
    0.64-0.68; random gaussian embeddings are quantization's worst
    case — clustered production embeddings fare far better at the same
    config). EXACT oracle: DuckDB replays the whole approximate path
    AND the brute-force truth, so the recall NUMBER is hash-compared."""
    from pyspark.sql import Window as W

    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qe"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("ce"),
    )
    d = F.aggregate(
        F.zip_with("qe", "ce", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = W.partitionBy("query_id").orderBy(F.col("d").asc(), F.col("neighbor_id").asc())
    truth = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("d", d)
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 5)
        .select("query_id", "neighbor_id")
    )
    approx = vec_ivfpq_topk(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    return truth.join(approx, ["query_id", "neighbor_id"], "left").agg(
        F.countDistinct("query_id").alias("n_queries"),
        F.count(F.lit(1)).alias("n_truth"),
        F.count("hit").alias("n_hit"),
        F.round(F.count("hit") / F.count(F.lit(1)), 4).alias("recall_at_k"),
    )


_RANGE_SEARCH_ORACLE = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
scored AS (
  SELECT q.query_id, c.neighbor_id,
         list_dot_product(q.qv, c.cv)
           / (sqrt(list_dot_product(q.qv, q.qv))
              * sqrt(list_dot_product(c.cv, c.cv))) AS cosine
  FROM q CROSS JOIN c WHERE q.query_id <> c.neighbor_id
)
SELECT query_id, neighbor_id, ROUND(cosine, 4) AS cosine
FROM scored WHERE cosine >= 0.25
"""


@query("vec_range_search", category="vectors", oracle=_RANGE_SEARCH_ORACLE)
def vec_range_search(spark, sf_dir):
    """Range (radius) search — the similarity-search dual of top-k: ALL
    corpus vectors within cosine >= 0.25 of each query vector, however
    many or few that is (FAISS range_search semantics). Top-k hides
    density differences; range search exposes them — a retrieval
    pipeline uses it to harvest every candidate above a relevance floor
    rather than a fixed count, and a dedup pipeline to pull a doc's
    whole duplicate neighborhood. Same plan skeleton as vec_cosine_topk
    (broadcast 10-row query side x one corpus scan, JVM zip_with dot
    products) but with NO window: the filter replaces the rank, so the
    plan is a pure map — no shuffle at all after the broadcast, which is
    exactly what makes range search cheaper than top-k at 100 TB (top-k
    needs the per-query ordering; a threshold doesn't). Threshold 0.25
    is calibrated to the near-orthogonal synthetic embeddings (~30-40
    hits per 10 queries at each SF — nonempty but selective)."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("cv"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    scored = with_cosine(scored, "qv", "cv")
    return scored.filter(F.col("cosine") >= 0.25).select(
        "query_id", "neighbor_id", F.round("cosine", 4).alias("cosine")
    )


_BQ_CODE_DUCK = """
codes AS (
  SELECT vec_id,
         (SELECT SUM(CASE WHEN e[i + 1] > 0 THEN (1::BIGINT << i) ELSE 0 END)
          FROM UNNEST(generate_series(0, 31)) t(i)) AS lo,
         (SELECT SUM(CASE WHEN e[i + 33] > 0 THEN (1::BIGINT << i) ELSE 0 END)
          FROM UNNEST(generate_series(0, 31)) t(i)) AS hi
  FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
)
"""

_BQ_TOPK_ORACLE = f"""
WITH {_BQ_CODE_DUCK},
q AS (SELECT vec_id AS query_id, lo AS qlo, hi AS qhi FROM codes WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         CAST(bit_count(xor(q.qlo, c.lo)) + bit_count(xor(q.qhi, c.hi)) AS BIGINT)
           AS hamming
  FROM q CROSS JOIN codes c WHERE c.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, hamming,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY hamming ASC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank, neighbor_id, hamming FROM ranked WHERE rank <= 5
"""


def _bq_codes(emb):
    """Per-vector 64-bit sign code packed as two 32-bit BIGINT halves —
    integer-exact on both engines (a 1<<63 top bit would differ in
    overflow behavior; two halves never leave the positive domain)."""
    e = F.col("embedding").cast("array<double>")
    lo = F.expr(
        "aggregate(sequence(0, 31), CAST(0 AS BIGINT), (acc, i) -> acc + "
        "IF(element_at(CAST(embedding AS array<double>), i + 1) > 0D, "
        "shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT)))"
    )
    hi = F.expr(
        "aggregate(sequence(0, 31), CAST(0 AS BIGINT), (acc, i) -> acc + "
        "IF(element_at(CAST(embedding AS array<double>), i + 33) > 0D, "
        "shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT)))"
    )
    return emb.select(F.col("vec_id"), lo.alias("lo"), hi.alias("hi"))


@query("vec_binary_quantize_topk", category="vectors", oracle=_BQ_TOPK_ORACLE)
def vec_binary_quantize_topk(spark, sf_dir):
    """Binary (1-bit) quantization search — the 32×-compression ANN tier
    between PQ and raw floats that the current embedding-DB generation
    standardized on: each 64-dim vector becomes its 64 sign bits, and
    search ranks by Hamming distance, computed as two XOR+popcount ops on
    packed BIGINT halves (two 32-bit halves, not one 64-bit word, so the
    top bit never touches the engine-divergent signed-overflow corner).
    Top-5 per query with (hamming, neighbor_id) total order. Code packing
    is an integer fold at the scan (one pass, no Python); scoring is a
    broadcast of the 10 query codes over the corpus — at 100 TB the
    corpus-side payload is 16 bytes/vector instead of 256, which is the
    entire point: the rerank tier (vec_cosine_topk on the shortlist)
    touches raw floats for candidates only. EXACT: both engines replay
    packing, XOR, popcount, and ranking bit-for-bit."""
    from pyspark.sql import Window as W

    emb = table(spark, sf_dir, "embeddings")
    codes = _bq_codes(emb)
    q = codes.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("lo").alias("qlo"),
        F.col("hi").alias("qhi"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(codes.withColumnRenamed("vec_id", "neighbor_id"))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                F.bit_count(F.col("qlo").bitwiseXOR(F.col("lo")))
                + F.bit_count(F.col("qhi").bitwiseXOR(F.col("hi")))
            ).alias("hamming"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("hamming").asc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "rank", "neighbor_id", "hamming")
    )


_BQ_RECALL_ORACLE = f"""
WITH {_BQ_CODE_DUCK},
q AS (SELECT vec_id AS query_id, lo AS qlo, hi AS qhi FROM codes WHERE vec_id < 10),
bq AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
                              ORDER BY bit_count(xor(q.qlo, c.lo))
                                       + bit_count(xor(q.qhi, c.hi)) ASC,
                                       c.vec_id ASC) AS rank
    FROM q JOIN codes c ON c.vec_id <> q.query_id)
  WHERE rank <= 5
),
emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
qe AS (SELECT vec_id AS query_id, e AS qv FROM emb WHERE vec_id < 10),
ex AS (
  SELECT query_id, neighbor_id FROM (
    SELECT qe.query_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY qe.query_id
                              ORDER BY list_dot_product(qe.qv, c.e)
                                / (sqrt(list_dot_product(qe.qv, qe.qv))
                                   * sqrt(list_dot_product(c.e, c.e))) DESC,
                              c.vec_id ASC) AS rank
    FROM qe JOIN emb c ON c.vec_id <> qe.query_id)
  WHERE rank <= 5
)
SELECT (SELECT COUNT(*) FROM qe) AS n_queries,
       (SELECT COUNT(*) FROM bq JOIN ex USING (query_id, neighbor_id))
         * 1000000 // ((SELECT COUNT(*) FROM qe) * 5) AS recall_e6
"""


@query("vec_binary_quantize_recall", category="vectors", oracle=_BQ_RECALL_ORACLE)
def vec_binary_quantize_recall(spark, sf_dir):
    """Recall@5 of binary-quantized Hamming search vs exact cosine — the
    honest price tag on the 32× compression, exactly as
    vec_ann_recall_lsh prices candidate pruning and vec_pq_adc_recall
    prices PQ distortion. Both pipelines (sign packing + Hamming ranking,
    and exact cosine ranking) are replayed end-to-end by the DuckDB
    oracle, so the recall NUMBER itself is hash-compared at 1e6 integer
    scale. Measured 0.08-0.24 across SFs: the isotropic near-orthogonal
    fixtures are 1-bit quantization's WORST case (when all cosines
    cluster near 0, the ±Hamming/π angular estimate can't separate
    rank-5 from rank-50), vs trained ADC-PQ's 0.64-0.68 at 4× the
    footprint — precisely the tradeoff table a deployment reads before
    choosing a tier; clustered production embeddings land far higher,
    and the standard fix (rerank the Hamming top-100 shortlist with
    exact cosine) is one vec_cosine_topk over 100 candidates."""
    from pyspark.sql import Window as W

    bq = vec_binary_quantize_topk(spark, sf_dir).select("query_id", "neighbor_id")
    ex = vec_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
    nq = bq.select("query_id").distinct().agg(F.count(F.lit(1)).alias("n_queries"))
    hits = bq.join(ex, ["query_id", "neighbor_id"]).agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return nq.crossJoin(hits).select(
        "n_queries",
        F.expr("(n_hits * 1000000) div (n_queries * 5)").alias("recall_e6"),
    )


_MIPS_ORACLE = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
scored AS (
  SELECT q.query_id, c.neighbor_id,
         list_dot_product(q.qv, c.cv) AS ip
  FROM q CROSS JOIN c WHERE q.query_id <> c.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, ip,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY ip DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank, neighbor_id, ROUND(ip, 4) AS inner_product
FROM ranked WHERE rank <= 5
"""


@query("vec_mips_topk", category="vectors", oracle=_MIPS_ORACLE)
def vec_mips_topk(spark, sf_dir):
    """Maximum Inner Product Search (MIPS) top-5 — the retrieval
    objective of recommender and two-tower models, where vector NORM
    carries signal (an item's popularity prior lives in its magnitude):
    rank by raw dot product, NOT cosine. Deliberately distinct from
    vec_cosine_topk — on fixtures with varying norms the two rankings
    disagree, and the difference is the point (the MIPS→cosine
    reductions of ALSH, Shrivastava & Li 2014, exist precisely because
    cosine-only ANN indexes can't serve MIPS directly). Same plan
    skeleton: 10 broadcast queries × one corpus scan, JVM zip_with fold
    (sequential order matches DuckDB list_dot_product bit-for-bit),
    per-query window top-5."""
    from pyspark.sql import Window as W
    from ..operators.similarity import _dot

    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("cv"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", _dot(F.col("qv"), F.col("cv")).alias("ip"))
    )
    w = W.partitionBy("query_id").orderBy(F.col("ip").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "rank", "neighbor_id", F.round("ip", 4).alias("inner_product"))
    )


def _jl_matrix(out_dim: int = 16, in_dim: int = 64, seed: int = 23):
    """Deterministic ±1 (Achlioptas) random-projection matrix, literalized
    so both engines replay the identical projection."""
    import numpy as np

    rng = np.random.RandomState(seed)
    return (rng.randint(0, 2, size=(out_dim, in_dim)) * 2 - 1).tolist()


def _jl_rows_sql() -> str:
    return ", ".join(
        "[" + ", ".join(f"{x}.0" for x in row) + "]" for row in _jl_matrix()
    )


_JL_PROJ_DUCK = f"""
proj AS (
  SELECT vec_id,
         list_transform([{_jl_rows_sql()}],
                        r -> list_dot_product(r, e)) AS p
  FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
)
"""

_JL_RECALL_ORACLE = f"""
WITH {_JL_PROJ_DUCK},
q AS (SELECT vec_id AS query_id, p AS qp FROM proj WHERE vec_id < 10),
jl_rank AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
           list_reduce(list_transform(generate_series(1, 16),
                                      i -> (q.qp[i] - c.p[i]) * (q.qp[i] - c.p[i])),
                       (a, b) -> a + b) ASC, c.vec_id ASC) AS rank
  FROM q JOIN proj c ON c.vec_id <> q.query_id
),
emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
qe AS (SELECT vec_id AS query_id, e AS qv FROM emb WHERE vec_id < 10),
ex_rank AS (
  SELECT qe.query_id, c.vec_id AS neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY qe.query_id ORDER BY
           list_reduce(list_transform(generate_series(1, 64),
                                      i -> (qe.qv[i] - c.e[i]) * (qe.qv[i] - c.e[i])),
                       (a, b) -> a + b) ASC, c.vec_id ASC) AS rank
  FROM qe JOIN emb c ON c.vec_id <> qe.query_id
)
SELECT f.query_id, COUNT(t.neighbor_id) AS overlap_at_5
FROM ex_rank f
LEFT JOIN jl_rank t
  ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id AND t.rank <= 5
WHERE f.rank <= 5
GROUP BY f.query_id
"""


@query("vec_random_projection_recall", category="vectors", oracle=_JL_RECALL_ORACLE)
def vec_random_projection_recall(spark, sf_dir):
    """Johnson–Lindenstrauss random projection (Achlioptas ±1 matrix,
    64→16 dims) priced by recall@5 against exact L2 — the THIRD
    compression tier next to truncation (vec_matryoshka_recall) and
    quantization (vec_pq_adc_recall): a dense random projection mixes
    ALL input dims into each output dim, so unlike matryoshka
    truncation it needs no training-time dimension ordering, and JL
    guarantees distance preservation in expectation at any data
    distribution. The literal ±1 matrix is replayed verbatim by the
    oracle; projection is a 16-fold of sequential dot products
    (zip_with/aggregate — identical fold order to list_dot_product),
    both rankings are plain window top-5s, and the per-query overlap
    count is the output. At 100 TB the projection is a map-only pass
    that shrinks every downstream shuffle/index 4× — the standard
    preprocessing step before LSH or IVF tiers. Measured recall ~0.02
    here: the isotropic near-orthogonal fixtures are (as with
    vec_binary_quantize_recall) the distance-preservation worst case —
    at 16 dims the JL distance estimate's ~35% stderr swamps the tiny
    exact-neighbor margin, and the hash-compared overlap table records
    exactly that; clustered real embeddings sit far higher."""
    from pyspark.sql import Window as W

    rows_sql = ", ".join(
        "array(" + ", ".join(f"{x}.0D" for x in row) + ")" for row in _jl_matrix()
    )
    emb = table(spark, sf_dir, "embeddings")
    proj = emb.select(
        "vec_id",
        F.expr(
            f"transform(array({rows_sql}), r -> "
            "aggregate(zip_with(r, CAST(embedding AS array<double>),"
            " (x, y) -> x * y), 0D, (a, v) -> a + v))"
        ).alias("p"),
    )

    def l2(a, b, n):
        return F.expr(
            f"aggregate(transform(sequence(1, {n}),"
            f" i -> (element_at({a}, i) - element_at({b}, i))"
            f" * (element_at({a}, i) - element_at({b}, i))), 0D, (x, y) -> x + y)"
        )

    qp = proj.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("p").alias("qp")
    )
    jl_scored = (
        F.broadcast(qp)
        .crossJoin(proj.select(F.col("vec_id").alias("neighbor_id"), "p"))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", l2("qp", "p", 16).alias("d"))
    )
    wj = W.partitionBy("query_id").orderBy(F.col("d").asc(), F.col("neighbor_id").asc())
    jl_rank = jl_scored.withColumn("rank", F.row_number().over(wj)).where(
        F.col("rank") <= 5
    ).select("query_id", "neighbor_id")

    e = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("cv"),
    )
    qe = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    ex_scored = (
        F.broadcast(qe)
        .crossJoin(e)
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", l2("qv", "cv", 64).alias("d"))
    )
    ex_rank = ex_scored.withColumn("rank", F.row_number().over(wj)).where(
        F.col("rank") <= 5
    ).select("query_id", "neighbor_id")

    return (
        ex_rank.join(jl_rank.withColumn("hit", F.lit(1)), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.count("hit").alias("overlap_at_5"))
    )


def _kmeans_round_sql(src: str, out: str) -> str:
    """One Lloyd round in DuckDB: assign by sequential-fold L2 argmin,
    update by exact DECIMAL(38,6) per-dim means re-listed in dim order."""
    return f"""
    asn_{out} AS (
      SELECT vec_id, e, cl FROM (
        SELECT m.vec_id, m.e, c.cl,
               ROW_NUMBER() OVER (PARTITION BY m.vec_id ORDER BY
                 list_reduce(list_transform(generate_series(1, 64),
                   i -> (m.e[i] - c.ce[i]) * (m.e[i] - c.ce[i])),
                   (x, y) -> x + y) ASC, c.cl ASC) AS rn
        FROM emb m CROSS JOIN {src} c)
      WHERE rn = 1
    ),
    upd_{out} AS (
      SELECT cl, i AS dim,
             CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS mv
      FROM (SELECT cl, UNNEST(generate_series(1, 64)) AS i,
                   UNNEST(e) AS v FROM asn_{out})
      GROUP BY cl, i
    ),
    {out} AS (
      SELECT cl, list(mv ORDER BY dim) AS ce FROM upd_{out} GROUP BY cl
    )"""


_KMEANS_ORACLE = f"""
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
c0 AS (
  SELECT vec_id AS cl, e AS ce FROM emb WHERE vec_id < 8
),
{_kmeans_round_sql("c0", "c1")},
{_kmeans_round_sql("c1", "c2")},
sizes AS (SELECT cl, COUNT(*) AS n_members FROM asn_c2 GROUP BY cl)
SELECT u.cl AS cluster_id, s.n_members, u.dim,
       ROUND(u.mv, 4) + 0.0 AS centroid_val
FROM upd_c2 u JOIN sizes s ON s.cl = u.cl
"""


@query("vec_kmeans_lloyd", category="vectors", oracle=_KMEANS_ORACLE)
def vec_kmeans_lloyd(spark, sf_dir):
    """K-means (Lloyd's algorithm, k=8, TWO unrolled rounds) run
    ENTIRELY in the engine — unlike the IVF/PQ family, whose training
    happens driver-side in numpy and enters as literals, this is the
    iterative-ML-as-dataflow shape: each round is (a) assignment — a
    broadcast of the 8-row centroid table onto the corpus, per-vector
    sequential-fold L2 distances, window argmin with lowest-cluster
    tie-break; (b) update — per-(cluster, dim) means accumulated in
    DECIMAL(38,6) (order-free) and re-assembled into centroid arrays by
    an explicit dim-ordered sort. Initial centroids are the first 8
    corpus vectors (deterministic, replayable). The graph_pagerank
    lesson applies: the per-round state (8×64 doubles) broadcasts, the
    corpus never re-shuffles, and lineage grows by one join+agg pair
    per unrolled round — at 100 TB you checkpoint every few rounds and
    the plan is otherwise unchanged. EXACT down to the 4-dp rounding:
    the oracle replays both rounds bit-for-bit."""
    from pyspark.sql import Window as W

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    cent = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cl"), F.col("e").alias("ce")
    )
    asn = None
    upd = None
    for _ in range(2):
        dist = F.expr(
            "aggregate(zip_with(e, ce, (x, y) -> (x - y) * (x - y)),"
            " 0D, (a, v) -> a + v)"
        )
        w = W.partitionBy("vec_id").orderBy(dist.asc(), F.col("cl").asc())
        asn = (
            emb.crossJoin(F.broadcast(cent))
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("vec_id", "e", "cl")
        )
        upd = (
            asn.select("cl", F.posexplode("e").alias("dim0", "v"))
            .groupBy("cl", (F.col("dim0") + 1).alias("dim"))
            .agg(
                (
                    F.sum(F.col("v").cast("decimal(38,6)")).cast("double")
                    / F.count(F.lit(1))
                ).alias("mv")
            )
        )
        cent = upd.groupBy("cl").agg(
            F.expr("transform(array_sort(collect_list(struct(dim, mv))), x -> x.mv)")
            .alias("ce")
        )
    sizes = asn.groupBy("cl").agg(F.count(F.lit(1)).alias("n_members"))
    return (
        upd.join(sizes, "cl")
        .select(
            F.col("cl").alias("cluster_id"),
            "n_members",
            "dim",
            (F.round("mv", 4) + F.lit(0.0)).alias("centroid_val"),
        )
    )


def _ivf_cents_sql() -> str:
    """Literal 16×64 coarse-centroid rows for DuckDB."""
    cents = _ivfpq_coarse()
    return ",\n".join(
        f"({i}, [" + ", ".join(repr(float(x)) for x in row) + "]::DOUBLE[])"
        for i, row in enumerate(cents)
    )


def _ivf_sweep_oracle(probes=(1, 2, 4, 8, 16)) -> str:
    cfg = []
    for np_ in probes:
        cfg.append(f"""
    SELECT {np_} AS n_probe,
           (SELECT COUNT(*) FROM cand WHERE prank <= {np_}) AS n_candidates,
           (SELECT COUNT(*)
            FROM ex5 e JOIN ivf5_{np_} a USING (query_id, neighbor_id))
             * 1000000 // ((SELECT COUNT(*) FROM q) * 5) AS recall_e6""")
    ivf5 = ",\n".join(
        f"""ivf5_{np_} AS (
      SELECT query_id, neighbor_id FROM (
        SELECT c.query_id, c.neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY c.query_id
                                  ORDER BY c.d ASC, c.neighbor_id ASC) AS rank
        FROM cand c WHERE c.prank <= {np_})
      WHERE rank <= 5
    )"""
        for np_ in probes
    )
    return f"""
WITH cents(cl, ce) AS (VALUES
{_ivf_cents_sql()}
),
emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
asn AS (
  SELECT vec_id, e, cl FROM (
    SELECT m.vec_id, m.e, c.cl,
           ROW_NUMBER() OVER (PARTITION BY m.vec_id ORDER BY
             list_reduce(list_transform(generate_series(1, 64),
               i -> (m.e[i] - c.ce[i]) * (m.e[i] - c.ce[i])),
               (x, y) -> x + y) ASC, c.cl ASC) AS rn
    FROM emb m CROSS JOIN cents c)
  WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, e AS qv FROM emb WHERE vec_id < 10),
qlists AS (
  SELECT query_id, qv, cl, prank FROM (
    SELECT q.query_id, q.qv, c.cl,
           ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
             list_reduce(list_transform(generate_series(1, 64),
               i -> (q.qv[i] - c.ce[i]) * (q.qv[i] - c.ce[i])),
               (x, y) -> x + y) ASC, c.cl ASC) AS prank
    FROM q CROSS JOIN cents c)
),
cand AS (
  SELECT ql.query_id, a.vec_id AS neighbor_id, ql.prank,
         list_reduce(list_transform(generate_series(1, 64),
           i -> (ql.qv[i] - a.e[i]) * (ql.qv[i] - a.e[i])),
           (x, y) -> x + y) AS d
  FROM qlists ql JOIN asn a ON a.cl = ql.cl
  WHERE a.vec_id <> ql.query_id
),
ex5 AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, m.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
             list_reduce(list_transform(generate_series(1, 64),
               i -> (q.qv[i] - m.e[i]) * (q.qv[i] - m.e[i])),
               (x, y) -> x + y) ASC, m.vec_id ASC) AS rank
    FROM q JOIN emb m ON m.vec_id <> q.query_id)
  WHERE rank <= 5
),
{ivf5}
{" UNION ALL ".join(cfg)}
"""


@query("vec_ivf_nprobe_sweep", category="vectors", oracle=_ivf_sweep_oracle())
def vec_ivf_nprobe_sweep(spark, sf_dir):
    """IVF n_probe tuning sweep — the vector-side twin of
    doc_minhash_band_sweep: from ONE coarse assignment (the trained
    16-centroid literal quantizer shared with vec_ivfpq_topk), price
    every n_probe ∈ {1,2,4,8,16} by candidate volume and recall@5 vs
    exact L2, all in one result table the way a deployment actually
    chooses its latency/recall point. Plan shape: corpus assignment and
    query list-ranking are each ONE pass over the literal centroid
    array (the semdedup JVM-literal idiom — sequential per-dim folds,
    bit-equal to the oracle's list_reduce); the candidate set
    materializes ONCE at the widest config (prank ≤ 16) carrying its
    probe rank, so each narrower config is a FILTER, not a re-join —
    the n_probe sweep costs one search, not five. Integer 1e6 recall;
    ties → lower id everywhere. At 100 TB: the candidate join is the
    usual broadcast-probes × list-partitioned-corpus equi-join, and
    the sweep's marginal cost stays one filter per config."""
    from pyspark.sql import Window as W

    cents = _ivfpq_coarse()
    cents_sql = ", ".join(
        "array(" + ", ".join(f"{float(x)!r}D" for x in row) + ")" for row in cents
    )
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    dists = F.expr(
        f"transform(array({cents_sql}), c -> "
        "aggregate(zip_with(e, c, (x, y) -> (x - y) * (x - y)),"
        " 0D, (a, v) -> a + v))"
    )
    asn = emb.withColumn("dists", dists).select(
        "vec_id",
        "e",
        (F.expr("array_position(dists, array_min(dists))").cast("int") - 1).alias("cl"),
    )
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qv")
    )
    qd = q.withColumn(
        "dists",
        F.expr(
            f"transform(array({cents_sql}), c -> "
            "aggregate(zip_with(qv, c, (x, y) -> (x - y) * (x - y)),"
            " 0D, (a, v) -> a + v))"
        ),
    )
    qlists = qd.select(
        "query_id",
        "qv",
        F.posexplode(
            F.expr(
                "transform(array_sort(transform(dists,"
                " (d, i) -> struct(d AS d, i AS cl))), x -> x.cl)"
            )
        ).alias("prank0", "cl"),
    ).select(
        "query_id", "qv", (F.col("prank0") + 1).alias("prank"), "cl"
    ).where(F.col("prank") <= 16)
    cand = (
        qlists.join(asn.select("vec_id", "e", "cl"), "cl")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "prank",
            F.expr(
                "aggregate(zip_with(qv, e, (x, y) -> (x - y) * (x - y)),"
                " 0D, (a, v) -> a + v)"
            ).alias("d"),
        )
        .transform(tracked_persist)
    )
    ex5 = (
        F.broadcast(q)
        .crossJoin(emb.select(F.col("vec_id").alias("neighbor_id"), "e"))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.expr(
                "aggregate(zip_with(qv, e, (x, y) -> (x - y) * (x - y)),"
                " 0D, (a, v) -> a + v)"
            ).alias("d"),
        )
        .withColumn(
            "rank",
            F.row_number().over(
                W.partitionBy("query_id").orderBy(F.col("d").asc(), F.col("neighbor_id").asc())
            ),
        )
        .where(F.col("rank") <= 5)
        .select("query_id", "neighbor_id")
        .transform(tracked_persist)
    )
    nq = q.agg(F.count(F.lit(1)).alias("nqq"))
    out = None
    for np_ in (1, 2, 4, 8, 16):
        sub = cand.where(F.col("prank") <= np_)
        ivf5 = (
            sub.withColumn(
                "rank",
                F.row_number().over(
                    W.partitionBy("query_id").orderBy(
                        F.col("d").asc(), F.col("neighbor_id").asc()
                    )
                ),
            )
            .where(F.col("rank") <= 5)
            .select("query_id", "neighbor_id")
        )
        row = (
            sub.agg(F.count(F.lit(1)).alias("n_candidates"))
            .crossJoin(
                ex5.join(ivf5, ["query_id", "neighbor_id"]).agg(
                    F.count(F.lit(1)).alias("hits")
                )
            )
            .crossJoin(F.broadcast(nq))
            .select(
                F.lit(np_).alias("n_probe"),
                "n_candidates",
                F.expr("(hits * 1000000) div (nqq * 5)").alias("recall_e6"),
            )
        )
        out = row if out is None else out.unionAll(row)
    return out


def _hard_negative_blocked(emb, *, n_rows: int, k: int = 50):
    """Above-gate twin of vec_hard_negative_mining's broadcast kernel:
    ids hash into B blocks, each vector ships one copy per (bi <= bj)
    block-pair group (similarity._cosine_tau_pairs_blocked's
    distribution), each group scores its CROSS-LABEL pairs exactly once
    (within-block a<b, cross-block (min,max)) and emits its local
    top-k under the family total order (quantized-cosine DESC, vec_a,
    vec_b) — global top-k ⊆ union of per-group top-k. The final window
    ranks B(B+1)/2·k candidate rows. No driver matrix; per-task memory
    2·|block|·dim."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window as W

    from ..operators.similarity import _n_blocks

    B = _n_blocks(n_rows)
    copies = emb.select(
        "vec_id", "label", "e",
        F.pmod(F.xxhash64(F.col("vec_id")), F.lit(B)).cast("int").alias("_blk"),
        F.explode(F.sequence(F.lit(0), F.lit(B - 1))).alias("_g"),
    ).select(
        "vec_id", "label", "e", "_blk",
        F.least("_blk", "_g").alias("_bi"),
        F.greatest("_blk", "_g").alias("_bj"),
    )

    def group_top(pdf: pd.DataFrame) -> pd.DataFrame:
        bi, bj = int(pdf["_bi"].iloc[0]), int(pdf["_bj"].iloc[0])
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        labs = pdf["label"].to_numpy(dtype=np.int64)
        m = np.stack(pdf["e"].to_numpy())
        # normalize once — matmul output IS the cosine (bandwidth
        # discipline, similarity._cosine_tau_pairs_blocked)
        mh = m * (1.0 / np.sqrt((m * m).sum(axis=1)))[:, None]
        blk = pdf["_blk"].to_numpy()
        if bi == bj:
            rows_l = rows_r = np.arange(len(ids))
        else:
            rows_l = np.nonzero(blk == bi)[0]
            rows_r = np.nonzero(blk == bj)[0]
        if len(rows_l) == 0 or len(rows_r) == 0:
            return pd.DataFrame(
                {"vec_a": [], "vec_b": [], "label_a": [], "label_b": [], "cos8": []}
            ).astype(
                {"vec_a": np.int64, "vec_b": np.int64, "label_a": np.int64,
                 "label_b": np.int64, "cos8": np.float64}
            )
        cos = np.round(mh[rows_l] @ mh[rows_r].T, 8)
        a_ids, b_ids = ids[rows_l], ids[rows_r]
        mask = labs[rows_l][:, None] != labs[rows_r][None, :]
        if bi == bj:
            mask &= a_ids[:, None] < b_ids[None, :]
        else:
            mask &= a_ids[:, None] != b_ids[None, :]
        ii, jj = np.nonzero(mask)
        if len(ii) == 0:
            return pd.DataFrame(
                {"vec_a": [], "vec_b": [], "label_a": [], "label_b": [], "cos8": []}
            ).astype(
                {"vec_a": np.int64, "vec_b": np.int64, "label_a": np.int64,
                 "label_b": np.int64, "cos8": np.float64}
            )
        ai, bi_ids = a_ids[ii], b_ids[jj]
        la, lb = labs[rows_l][ii], labs[rows_r][jj]
        c = cos[ii, jj]
        lo = np.minimum(ai, bi_ids)
        hi = np.maximum(ai, bi_ids)
        swap = ai > bi_ids
        la2 = np.where(swap, lb, la)
        lb2 = np.where(swap, la, lb)
        order = np.lexsort((hi, lo, -c))[:k]
        return pd.DataFrame(
            {
                "vec_a": lo[order], "vec_b": hi[order],
                "label_a": la2[order], "label_b": lb2[order],
                "cos8": c[order],
            }
        )

    cand = copies.groupBy("_bi", "_bj").applyInPandas(
        group_top,
        "vec_a long, vec_b long, label_a long, label_b long, cos8 double",
    )
    return (
        cand.withColumn(
            "rn",
            F.row_number().over(
                W.orderBy(F.col("cos8").desc(), F.col("vec_a"), F.col("vec_b"))
            ),
        )
        .where(F.col("rn") <= k)
        .select(
            "vec_a", "vec_b", "label_a", "label_b",
            F.round("cos8", 4).alias("cosine"),
        )
    )


_HARD_NEG_ORACLE = """
WITH emb AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label_a,
         b.label AS label_b,
         ROUND(list_dot_product(a.e, b.e)
           / (sqrt(list_dot_product(a.e, a.e))
              * sqrt(list_dot_product(b.e, b.e))), 8) AS cosine
  FROM emb a JOIN emb b ON a.vec_id < b.vec_id AND a.label <> b.label
),
ranked AS (
  SELECT vec_a, vec_b, label_a, label_b, cosine,
         ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_a, vec_b) AS rn
  FROM pairs
)
SELECT vec_a, vec_b, label_a, label_b, ROUND(cosine, 4) AS cosine
FROM ranked WHERE rn <= 50
"""


@query("vec_hard_negative_mining", python_boundary=True, category="vectors", oracle=_HARD_NEG_ORACLE)
def vec_hard_negative_mining(spark, sf_dir):
    """Hard-negative mining for contrastive/metric training — the
    embedding-pipeline step that decides training-batch quality: the
    top-50 CROSS-label pairs by cosine similarity (vectors that look
    alike but carry different labels are exactly the negatives a
    contrastive loss learns most from; random negatives are trivially
    separable and teach nothing). Same all-pairs-with-structure shape
    as vec_neardup_cosine but filtered to label disagreement BEFORE
    scoring, and globally top-k'd with a fully deterministic
    (quantized-cosine DESC, vec_a, vec_b) order. Runs as a broadcast-
    matrix BLAS kernel with IN-BATCH partial top-50 per the same total
    order (global top-k ⊆ union of per-batch top-k), so only
    batches×50 candidate rows reach the final window — the interpreted
    N²/2 theta join it replaces is quadratic in lambda evaluations and
    unrunnable at sf1.0. Ranking uses the family's 8-dp quantized
    cosine on BOTH engines so a last-ulp summation-order divergence
    cannot reorder near-ties (ids break the rest). SIZE-GATED (the
    dedup-family routing discipline): above
    similarity._BROADCAST_CELLS_MAX (rows×dims) the corpus no longer
    collects — the call routes to _hard_negative_blocked (block-pair
    groups scoring local top-50s, no driver matrix, pinned equal in
    tests), so the same registry entry survives a 100× embeddings
    table without a code change; the broadcast form remains the
    audit-tier floor at fixture scale, and at true 100 TB the
    candidate generators are the approximate tiers this repo already
    prices (semdedup buckets / IVF lists), with the exact forms as
    sampled ground-truth audits."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window as W

    from ..operators.similarity import _BROADCAST_CELLS_MAX, _mat_shape
    from ..tables import spread

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("e")
    )
    # the probed frame is the UNFILTERED embeddings table, so the parquet
    # footer gives the exact shape with no Spark job (r7 ADVICE class)
    from ..tables import footer_shape

    n_rows, dims = footer_shape(sf_dir) or _mat_shape(emb, "e")
    if n_rows * dims > _BROADCAST_CELLS_MAX:
        return _hard_negative_blocked(emb, n_rows=n_rows)
    rows = sorted(emb.collect(), key=lambda r: r["vec_id"])
    ids = np.array([int(r["vec_id"]) for r in rows], dtype=np.int64)
    labels = np.array([int(r["label"]) for r in rows], dtype=np.int64)
    m = np.array([list(map(float, r["e"])) for r in rows])
    amh = m * (1.0 / np.sqrt((m * m).sum(axis=1)))[:, None]
    bc = spark.sparkContext.broadcast((ids, labels, amh))

    def batch_top(batches):
        aid, alab, am = bc.value
        for pdf in batches:
            bid = pdf["vec_id"].to_numpy(dtype=np.int64)
            if len(bid) == 0:
                continue
            blab = pdf["label"].to_numpy(dtype=np.int64)
            bm = np.array(pdf["e"].tolist(), dtype=np.float64)
            bmh = bm * (1.0 / np.sqrt((bm * bm).sum(axis=1)))[:, None]
            cos = np.round(bmh @ am.T, 8)
            mask = (bid[:, None] < aid[None, :]) & (
                blab[:, None] != alab[None, :]
            )
            ii, jj = np.nonzero(mask)
            if len(ii) == 0:
                continue
            c = cos[ii, jj]
            order = np.lexsort((aid[jj], bid[ii], -c))[:50]
            yield pd.DataFrame(
                {
                    "vec_a": bid[ii][order],
                    "vec_b": aid[jj][order],
                    "label_a": blab[ii][order],
                    "label_b": alab[jj][order],
                    "cos8": c[order],
                }
            )

    cand = spread(emb).mapInPandas(
        batch_top,
        "vec_a long, vec_b long, label_a long, label_b long, cos8 double",
    )
    return (
        cand.withColumn(
            "rn",
            F.row_number().over(
                W.orderBy(F.col("cos8").desc(), F.col("vec_a"), F.col("vec_b"))
            ),
        )
        .where(F.col("rn") <= 50)
        .select(
            "vec_a", "vec_b", "label_a", "label_b",
            F.round("cos8", 4).alias("cosine"),
        )
    )


def _semdedup_recall_oracle(n_tables: int = 4, dim: int = 64,
                            seed: int = 7, tau: float = 0.45) -> str:
    return f"""{_scaled_bucket_cte(n_tables, dim, seed)}
cand AS (
  SELECT DISTINCT lo.vec_id AS vec_a, hi.vec_id AS vec_b
  FROM buckets lo JOIN buckets hi USING (bucket)
  WHERE lo.vec_id < hi.vec_id
),
approx_drop AS (
  SELECT DISTINCT c.vec_b AS vec_id
  FROM cand c JOIN emb a ON a.vec_id = c.vec_a JOIN emb b ON b.vec_id = c.vec_b
  WHERE ROUND(list_dot_product(a.e, b.e)
        / (sqrt(list_dot_product(a.e, a.e))
           * sqrt(list_dot_product(b.e, b.e))), 8) >= {tau!r}
),
exact_drop AS (
  SELECT DISTINCT b.vec_id
  FROM emb a JOIN emb b ON a.vec_id < b.vec_id
  WHERE ROUND(list_dot_product(a.e, b.e)
        / (sqrt(list_dot_product(a.e, a.e))
           * sqrt(list_dot_product(b.e, b.e))), 8) >= {tau!r}
)
SELECT (SELECT COUNT(*) FROM exact_drop) AS n_exact_drops,
       (SELECT COUNT(*) FROM approx_drop) AS n_approx_drops,
       CASE WHEN (SELECT COUNT(*) FROM exact_drop) = 0 THEN 1000000
            ELSE (SELECT COUNT(*) FROM approx_drop a
                  WHERE EXISTS (SELECT 1 FROM exact_drop e
                                WHERE e.vec_id = a.vec_id)) * 1000000
                 // (SELECT COUNT(*) FROM exact_drop) END AS drop_recall_e6
"""


@query(
    "vec_semdedup_recall", python_boundary=True,
    category="vectors",
    oracle=_semdedup_recall_oracle(),
)
def vec_semdedup_recall(spark, sf_dir):
    """The price tag on SemDeDup's space partitioning — the one
    approximation in the embedding-dedup family that had no recall row:
    of the vectors an EXACT all-pairs cosine>=0.45 dedup would drop,
    what fraction does the bucketed pipeline (compare only within
    LSH partitions) actually drop? Bucketing can only LOSE pairs
    (candidates ⊆ all pairs ⇒ precision 1.0 by construction), so this
    single 1e6-integer number is the whole quality story, exactly as
    doc_neardup_minhash_recall prices banding and vec_ann_recall_lsh
    prices probe pruning. Both pipelines replay end-to-end in the
    oracle from the same plane literals. The exact side is the
    fixture-scale audit; at 100 TB only the bucketed side runs, priced
    by THIS number measured on samples. The approximate side uses the
    SAME scaled plane count as production vec_semdedup (n_planes=None:
    p grows with N so bucket population is capped at ~512) — the
    round-7 scalecheck measured the old FIXED 3-plane config at 18.9x
    for 3x data, a quadratic this row existed to price, not to have."""
    from ..operators.similarity import cosine_tau_pairs_exact, semdedup_bucketed

    emb = table(spark, sf_dir, "embeddings")
    hint = footer_shape(sf_dir)
    approx = (
        semdedup_bucketed(emb, tau=0.45, n_tables=4, n_planes=None, dim=64, seed=7,
                          corpus_rows=hint[0] if hint else None)
        .where(~F.col("is_kept"))
        .select("vec_id")
    )
    # Exact ground truth via the broadcast-parallel all-pairs kernel
    # (cosine_tau_pairs_exact): same 8-dp quantized cut, but the N×N
    # matmul spreads over every input partition instead of running in
    # one applyInPandas group — the single-group constant-bucket shape
    # measured ~15 s single-threaded at sf1.0 (20 k vectors) vs ~2 s
    # spread. (The original 2000×2000 theta-join with interpreted folds
    # measured ~58 s at sf0.1.)
    e = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("e"),
    )
    exact = (
        cosine_tau_pairs_exact(e, tau=0.45, shape_hint=footer_shape(sf_dir))
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
    )
    ne = exact.agg(F.count(F.lit(1)).alias("n_exact_drops"))
    na = approx.agg(F.count(F.lit(1)).alias("n_approx_drops"))
    hits = approx.join(exact, "vec_id", "left_semi").agg(
        F.count(F.lit(1)).alias("hits")
    )
    return (
        ne.crossJoin(na)
        .crossJoin(hits)
        .select(
            "n_exact_drops",
            "n_approx_drops",
            F.expr(
                "CASE WHEN n_exact_drops = 0 THEN 1000000"
                " ELSE (hits * 1000000) div n_exact_drops END"
            ).alias("drop_recall_e6"),
        )
    )


def _mmr_oracle(k: int = 5, lam: float = 0.7) -> str:
    """Replay the greedy MMR unroll: pick_j selected by rank-1 of
    lam*sim(q,d) - (1-lam)*max(sim(d, pick_1..j-1))."""
    cos = (
        "list_dot_product({a}, {b})"
        " / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
    )
    parts = [f"""
emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
q AS (SELECT vec_id AS query_id, e AS qv FROM emb WHERE vec_id < 10),
cand AS (
  SELECT q.query_id, q.qv, m.vec_id, m.e,
         {cos.format(a="q.qv", b="m.e")} AS qsim
  FROM q JOIN emb m ON m.vec_id <> q.query_id
),
pick1 AS (
  SELECT query_id, vec_id, e, qsim, 1 AS step FROM (
    SELECT query_id, vec_id, e, qsim,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY qsim DESC, vec_id ASC) AS rn
    FROM cand) WHERE rn = 1
)"""]
    for j in range(2, k + 1):
        prev = ", ".join(f"pick{i}" for i in range(1, j))
        penalty = ", ".join(
            f"(SELECT {cos.format(a='c.e', b='p.e')} FROM pick{i} p"
            f" WHERE p.query_id = c.query_id)"
            for i in range(1, j)
        )
        parts.append(f"""
pick{j} AS (
  SELECT query_id, vec_id, e, qsim, {j} AS step FROM (
    SELECT c.query_id, c.vec_id, c.e, c.qsim,
           ROW_NUMBER() OVER (PARTITION BY c.query_id
                              ORDER BY {lam!r} * c.qsim
                                - {1 - lam!r} * GREATEST({penalty}) DESC,
                              c.vec_id ASC) AS rn
    FROM cand c
    WHERE c.vec_id NOT IN (SELECT vec_id FROM pick{j - 1}
                           WHERE query_id = c.query_id)
      AND NOT EXISTS (SELECT 1 FROM ({" UNION ALL ".join(
          f"SELECT query_id, vec_id FROM pick{i}" for i in range(1, j))}) pp
          WHERE pp.query_id = c.query_id AND pp.vec_id = c.vec_id))
  WHERE rn = 1
)""")
    union = " UNION ALL ".join(
        f"SELECT query_id, step, vec_id, ROUND(qsim, 4) AS qsim FROM pick{i}"
        for i in range(1, k + 1)
    )
    return "WITH " + ",".join(parts) + f"\n{union}"


@query("vec_mmr_diversified_topk", category="vectors", oracle=_mmr_oracle())
def vec_mmr_diversified_topk(spark, sf_dir):
    """Maximal Marginal Relevance (Carbonell & Goldstein 1998) — the
    diversified-retrieval selector RAG pipelines use to stop five
    near-identical passages filling the context window: greedily pick
    5 results per query maximizing λ·sim(query, d) − (1−λ)·max
    sim(d, already-picked), λ=0.7. The greedy recursion is a FIXED
    UNROLL of 5 rounds in one lazy DAG (the graph_pagerank/k-means
    pattern applied to retrieval): each round joins the candidate set
    against the ≤4-row-per-query picked set (broadcast), computes the
    diversity penalty as a GREATEST over explicit per-pick cosines,
    and takes rank-1 with (score DESC, vec_id) determinism. All
    cosines are sequential zip_with folds — bit-equal to the oracle,
    which replays all five rounds via chained CTEs. At 100 TB the
    candidate set is the output of an ANN tier (top-100 from IVF/LSH),
    making each round a broadcast join over a bounded shortlist —
    which is exactly how production MMR re-rankers run."""
    from pyspark.sql import Window as W
    from ..operators.similarity import _dot, _norm

    lam = 0.7
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qv")
    )
    cand = (
        F.broadcast(q)
        .crossJoin(emb)
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            "e",
            (_dot(F.col("qv"), F.col("e")) / (_norm(F.col("qv")) * _norm(F.col("e")))).alias(
                "qsim"
            ),
        )
        .transform(tracked_persist)
    )
    w1 = W.partitionBy("query_id").orderBy(F.col("qsim").desc(), F.col("vec_id").asc())
    picked = (
        cand.withColumn("rn", F.row_number().over(w1))
        .where(F.col("rn") == 1)
        .select("query_id", "vec_id", "e", "qsim", F.lit(1).alias("step"))
    )
    all_picked = picked
    for j in range(2, 6):
        pk = all_picked.select(
            "query_id",
            F.col("vec_id").alias("pid"),
            F.col("e").alias("pe"),
        )
        pen = (
            cand.join(all_picked.select("query_id", "vec_id"), ["query_id", "vec_id"], "left_anti")
            .join(F.broadcast(pk), "query_id")
            .select(
                "query_id",
                "vec_id",
                "e",
                "qsim",
                (_dot(F.col("e"), F.col("pe")) / (_norm(F.col("e")) * _norm(F.col("pe")))).alias(
                    "psim"
                ),
            )
            .groupBy("query_id", "vec_id", "e", "qsim")
            .agg(F.max("psim").alias("penalty"))
        )
        wj = W.partitionBy("query_id").orderBy(
            (F.lit(lam) * F.col("qsim") - F.lit(1 - lam) * F.col("penalty")).desc(),
            F.col("vec_id").asc(),
        )
        nxt = (
            pen.withColumn("rn", F.row_number().over(wj))
            .where(F.col("rn") == 1)
            .select("query_id", "vec_id", "e", "qsim", F.lit(j).alias("step"))
        )
        all_picked = all_picked.unionAll(nxt)
    return all_picked.select(
        "query_id", "step", "vec_id", F.round("qsim", 4).alias("qsim")
    )


_DRIFT_ORACLE = """
WITH emb AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS e,
         CASE WHEN vec_id % 2 = 0 THEN 'ref' ELSE 'cur' END AS win
  FROM embeddings
),
cent AS (
  SELECT win, label, i AS dim,
         CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS mv
  FROM (SELECT win, label, UNNEST(generate_series(1, 64)) AS i,
               UNNEST(e) AS v FROM emb)
  GROUP BY win, label, i
),
paired AS (
  SELECT r.label, r.dim, r.mv AS rv, c.mv AS cv
  FROM cent r JOIN cent c
    ON c.label = r.label AND c.dim = r.dim AND r.win = 'ref' AND c.win = 'cur'
)
SELECT label,
       ROUND(sqrt(list_reduce(
         list(( rv - cv ) * ( rv - cv ) ORDER BY dim), (x, y) -> x + y)), 4)
         AS centroid_shift
FROM paired GROUP BY label ORDER BY label
"""


@query("vec_embedding_drift", category="vectors", oracle=_DRIFT_ORACLE)
def vec_embedding_drift(spark, sf_dir):
    """Embedding DRIFT monitor — the production-ML health check for a
    vector pipeline: split the corpus into a reference and a current
    window (vec_id parity as the deterministic stand-in for
    yesterday/today), compute per-label centroids in each, and report
    the per-label centroid L2 shift — the number a retraining trigger
    watches (encoder updates, upstream text drift, and feature rot all
    surface here before recall metrics move). Centroids use exact
    DECIMAL per-dim means (the vec_kmeans_lloyd update discipline);
    the shift is an ORDER-PINNED sum of squared differences (collected
    in dim order on both engines) under one sqrt, rounded at 4 dp.
    Two groupBy passes + a 64-row-per-label self-join — trivially
    incremental at 100 TB (centroid state is mergeable sums)."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.col("embedding").cast("array<double>").alias("e"),
        F.when(F.col("vec_id") % 2 == 0, "ref").otherwise("cur").alias("win"),
    )
    cent = (
        emb.select("win", "label", F.posexplode("e").alias("d0", "v"))
        .groupBy("win", "label", (F.col("d0") + 1).alias("dim"))
        .agg(
            (
                F.sum(F.col("v").cast("decimal(38,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mv")
        )
    )
    r = cent.where(F.col("win") == "ref").select(
        "label", "dim", F.col("mv").alias("rv")
    )
    c = cent.where(F.col("win") == "cur").select(
        "label", "dim", F.col("mv").alias("cv")
    )
    paired = r.join(c, ["label", "dim"]).select(
        "label", "dim", ((F.col("rv") - F.col("cv")) * (F.col("rv") - F.col("cv"))).alias("sq")
    )
    return (
        paired.groupBy("label")
        .agg(
            F.expr(
                "round(sqrt(aggregate(transform(array_sort(collect_list("
                "struct(dim, sq))), x -> x.sq), 0D, (a, v) -> a + v)), 4)"
            ).alias("centroid_shift")
        )
        .orderBy("label")
    )


_IVF_BALANCE_ORACLE_TMPL = """
WITH cents(cl, ce) AS (VALUES
{cents}
),
emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
asn AS (
  SELECT vec_id, cl FROM (
    SELECT m.vec_id, c.cl,
           ROW_NUMBER() OVER (PARTITION BY m.vec_id ORDER BY
             list_reduce(list_transform(generate_series(1, 64),
               i -> (m.e[i] - c.ce[i]) * (m.e[i] - c.ce[i])),
               (x, y) -> x + y) ASC, c.cl ASC) AS rn
    FROM emb m CROSS JOIN cents c)
  WHERE rn = 1
),
occ AS (
  SELECT c.cl, COUNT(a.vec_id) AS n
  FROM cents c LEFT JOIN asn a ON a.cl = c.cl
  GROUP BY c.cl
),
stats AS (
  SELECT SUM(n) AS total, MAX(n) AS mx,
         SUM(CASE WHEN n = 0 THEN 1 ELSE 0 END) AS empties,
         COUNT(*) AS n_lists
  FROM occ
)
SELECT o.cl AS list_id, o.n AS n_vectors,
       CAST(o.n * 1000000 // s.total AS BIGINT) AS frac_e6,
       CAST(s.mx * s.n_lists * 1000000 // s.total AS BIGINT) AS max_skew_e6,
       CAST(s.empties AS BIGINT) AS empties
FROM occ o CROSS JOIN stats s
ORDER BY o.cl
"""


@query(
    "vec_ivf_balance",
    category="vectors",
    oracle=_IVF_BALANCE_ORACLE_TMPL.format(cents=_ivf_cents_sql()),
)
def vec_ivf_balance(spark, sf_dir):
    """IVF index-health report — per-inverted-list occupancy plus the
    balance diagnostics an ANN operator watches before trusting the
    n_probe sweep's numbers: a skewed coarse quantizer concentrates the
    corpus into few lists (max_skew = max/mean at 1e6 — 1.0e6 means
    perfectly balanced; big values mean probing top lists scans most of
    the corpus and the "sublinear" claim is fiction) and empty lists
    waste probe budget. Same literal centroids and sequential-fold
    assignment as vec_ivf_nprobe_sweep; one groupBy + a broadcast
    stats row, all-integer output. The operational pairing: this query
    says whether the index is healthy, the sweep says what n_probe
    buys — both from one assignment pass at any scale."""
    from pyspark.sql import Window as W

    cents = _ivfpq_coarse()
    cents_sql = ", ".join(
        "array(" + ", ".join(f"{float(x)!r}D" for x in row) + ")" for row in cents
    )
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    dists = F.expr(
        f"transform(array({cents_sql}), c -> "
        "aggregate(zip_with(e, c, (x, y) -> (x - y) * (x - y)),"
        " 0D, (a, v) -> a + v))"
    )
    asn = emb.withColumn("dists", dists).select(
        "vec_id",
        (F.expr("array_position(dists, array_min(dists))").cast("int") - 1).alias("cl"),
    )
    lists = spark.range(len(cents)).select(F.col("id").cast("int").alias("cl"))
    occ = (
        lists.join(asn, "cl", "left")
        .groupBy("cl")
        .agg(F.count("vec_id").alias("n"))
    )
    stats = occ.agg(
        F.sum("n").alias("total"),
        F.max("n").alias("mx"),
        F.sum(F.when(F.col("n") == 0, 1).otherwise(0)).alias("empties"),
        F.count(F.lit(1)).alias("n_lists"),
    )
    return (
        occ.crossJoin(F.broadcast(stats))
        .select(
            F.col("cl").alias("list_id"),
            F.col("n").alias("n_vectors"),
            F.expr("n * 1000000 div total").alias("frac_e6"),
            F.expr("mx * n_lists * 1000000 div total").alias("max_skew_e6"),
            "empties",
        )
        .orderBy("list_id")
    )


_RRF_ORACLE = f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
scored AS (
  SELECT q.query_id, c.neighbor_id,
         list_dot_product(q.qv, c.cv) AS ip,
         list_dot_product(q.qv, c.cv)
           / (sqrt(list_dot_product(q.qv, q.qv))
              * sqrt(list_dot_product(c.cv, c.cv))) AS cosine
  FROM q CROSS JOIN c WHERE q.query_id <> c.neighbor_id
),
ranks AS (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS r_cos,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY ip DESC, neighbor_id) AS r_mips
  FROM scored
),
fused AS (
  SELECT query_id, neighbor_id,
         1000000 // (60 + r_cos) + 1000000 // (60 + r_mips) AS rrf_e6,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY 1000000 // (60 + r_cos)
                                     + 1000000 // (60 + r_mips) DESC,
                            neighbor_id) AS rank
  FROM ranks
)
SELECT query_id, rank, neighbor_id, rrf_e6 FROM fused WHERE rank <= 5
"""


@query("vec_reciprocal_rank_fusion", category="vectors", oracle=_RRF_ORACLE)
def vec_reciprocal_rank_fusion(spark, sf_dir):
    """Reciprocal Rank Fusion (Cormack et al. 2009) — how hybrid search
    actually combines heterogeneous retrievers (the BM25+vector fusion
    every search stack ships): score = Σ 1/(k+rankᵢ) with k=60 over
    each retriever's ranking, immune to incomparable score scales
    because only RANKS enter. Fused here: the cosine ranking (angle)
    and the MIPS ranking (norm-weighted) — two genuinely different
    orderings of the same corpus per vec_mips_topk's docstring. Both
    rankings come from ONE scored pass (two window ranks over the same
    pair stream — no second scan), the fusion score is integer
    1e6//(60+r) arithmetic, and the fused top-5 re-ranks with
    neighbor-id ties. At 100 TB each retriever is its ANN tier and RRF
    is a cheap rank join — the reason it beats learned fusion at the
    candidate-merge stage."""
    from pyspark.sql import Window as W
    from ..operators.similarity import _dot, _norm

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qv")
    )
    c = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("e").alias("cv"))
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            _dot(F.col("qv"), F.col("cv")).alias("ip"),
            (_dot(F.col("qv"), F.col("cv")) / (_norm(F.col("qv")) * _norm(F.col("cv")))).alias(
                "cosine"
            ),
        )
    )
    wq = W.partitionBy("query_id")
    ranks = scored.select(
        "query_id",
        "neighbor_id",
        F.row_number()
        .over(wq.orderBy(F.col("cosine").desc(), "neighbor_id"))
        .alias("r_cos"),
        F.row_number()
        .over(wq.orderBy(F.col("ip").desc(), "neighbor_id"))
        .alias("r_mips"),
    )
    fused = ranks.select(
        "query_id",
        "neighbor_id",
        F.expr("1000000 div (60 + r_cos) + 1000000 div (60 + r_mips)").alias("rrf_e6"),
    ).withColumn(
        "rank",
        F.row_number().over(wq.orderBy(F.col("rrf_e6").desc(), "neighbor_id")),
    )
    return fused.where(F.col("rank") <= 5).select(
        "query_id", "rank", "neighbor_id", "rrf_e6"
    )


_NDCG_W8 = [100000000, 63092975, 50000000, 43067656, 38685281]
# 1e8-quantized 1/log2(i+1) for i = 1..5 — five literal constants, so the
# discount schedule is identical integer arithmetic on both engines.


def _ndcg_oracle() -> str:
    w_vals = ", ".join(
        f"({i + 1}, {w})" for i, w in enumerate(_NDCG_W8)
    )
    return f"""
WITH w(pos, w8) AS (VALUES {w_vals}),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
scored AS (
  SELECT q.query_id, c.neighbor_id,
         list_dot_product(q.qv, c.cv) AS ip,
         list_dot_product(q.qv, c.cv)
           / (sqrt(list_dot_product(q.qv, q.qv))
              * sqrt(list_dot_product(c.cv, c.cv))) AS cosine
  FROM q CROSS JOIN c WHERE q.query_id <> c.neighbor_id
),
ranks AS (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS r_true,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY ip DESC, neighbor_id) AS r_sys
  FROM scored
),
gains AS (
  SELECT query_id,
         SUM(CASE WHEN r_sys <= 5 AND r_true <= 5
                  THEN (6 - r_true) * (SELECT w8 FROM w WHERE pos = r_sys)
                  ELSE 0 END) AS dcg8,
         (SELECT SUM((6 - pos) * w8) FROM w) AS idcg8
  FROM ranks GROUP BY query_id
)
SELECT query_id, CAST(dcg8 * 1000000 // idcg8 AS BIGINT) AS ndcg5_e6
FROM gains ORDER BY query_id
"""


@query("vec_ndcg_eval", category="vectors", oracle=_ndcg_oracle())
def vec_ndcg_eval(spark, sf_dir):
    """NDCG@5 — the graded ranking-quality metric the recall@5 rows
    deliberately aren't (recall treats every hit equally; NDCG rewards
    putting the BEST results highest): the MIPS ranking evaluated with
    exact-cosine ranks as graded relevance (rel = 6 − true_rank for the
    true top-5, else 0), position discounts 1/log₂(i+1) as five
    1e8-quantized literal constants — so DCG, ideal DCG, and the 1e6
    NDCG ratio are pure integer arithmetic per query. Both rankings
    come from one scored pass (the RRF plan shape); the metric's whole
    evaluation-harness role is to price norm-sensitivity: queries where
    MIPS and cosine disagree score below 1e6, exactly the diagnostic a
    retriever A/B reads."""
    from pyspark.sql import Window as W
    from ..operators.similarity import _dot, _norm

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qv")
    )
    c = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("e").alias("cv"))
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            _dot(F.col("qv"), F.col("cv")).alias("ip"),
            (_dot(F.col("qv"), F.col("cv")) / (_norm(F.col("qv")) * _norm(F.col("cv")))).alias(
                "cosine"
            ),
        )
    )
    wq = W.partitionBy("query_id")
    ranks = scored.select(
        "query_id",
        F.row_number()
        .over(wq.orderBy(F.col("cosine").desc(), "neighbor_id"))
        .alias("r_true"),
        F.row_number()
        .over(wq.orderBy(F.col("ip").desc(), "neighbor_id"))
        .alias("r_sys"),
    )
    w_expr = "CASE r_sys " + " ".join(
        f"WHEN {i + 1} THEN {w}" for i, w in enumerate(_NDCG_W8)
    ) + " ELSE 0 END"
    idcg8 = sum((5 - i) * w for i, w in enumerate(_NDCG_W8))
    gains = ranks.groupBy("query_id").agg(
        F.sum(
            F.when(
                (F.col("r_sys") <= 5) & (F.col("r_true") <= 5),
                (6 - F.col("r_true")) * F.expr(w_expr),
            ).otherwise(0)
        ).alias("dcg8")
    )
    return gains.select(
        "query_id",
        F.expr(f"dcg8 * 1000000 div {idcg8}").alias("ndcg5_e6"),
    ).orderBy("query_id")


_MRR_ORACLE = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
scored AS (
  SELECT q.query_id, c.neighbor_id,
         list_dot_product(q.qv, c.cv) AS ip,
         list_dot_product(q.qv, c.cv)
           / (sqrt(list_dot_product(q.qv, q.qv))
              * sqrt(list_dot_product(c.cv, c.cv))) AS cosine
  FROM q CROSS JOIN c WHERE q.query_id <> c.neighbor_id
),
ranks AS (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS r_true,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY ip DESC, neighbor_id) AS r_sys
  FROM scored
),
rr AS (
  SELECT query_id, MIN(r_sys) AS first_hit
  FROM ranks WHERE r_true = 1 GROUP BY query_id
)
SELECT (SELECT COUNT(*) FROM q) AS n_queries,
       CAST(SUM(1000000 // first_hit) // COUNT(*) AS BIGINT) AS mrr_e6
FROM rr
"""


@query("vec_mrr_eval", category="vectors", oracle=_MRR_ORACLE)
def vec_mrr_eval(spark, sf_dir):
    """Mean Reciprocal Rank — the third leg of the evaluation shelf
    (recall@k: did we find them; NDCG@5: in the right order; MRR: how
    deep must the user scroll for THE answer): reciprocal of the
    system rank at which each query's single true top-1 (by exact
    cosine) appears in the MIPS ranking, averaged. Integer 1e6
    reciprocals and an integer mean — the per-query machinery is the
    NDCG/RRF scored pass with a one-row pick per query."""
    from pyspark.sql import Window as W
    from ..operators.similarity import _dot, _norm

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qv")
    )
    c = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("e").alias("cv"))
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            _dot(F.col("qv"), F.col("cv")).alias("ip"),
            (_dot(F.col("qv"), F.col("cv")) / (_norm(F.col("qv")) * _norm(F.col("cv")))).alias(
                "cosine"
            ),
        )
    )
    wq = W.partitionBy("query_id")
    ranks = scored.select(
        "query_id",
        F.row_number()
        .over(wq.orderBy(F.col("cosine").desc(), "neighbor_id"))
        .alias("r_true"),
        F.row_number()
        .over(wq.orderBy(F.col("ip").desc(), "neighbor_id"))
        .alias("r_sys"),
    )
    rr = ranks.where(F.col("r_true") == 1).groupBy("query_id").agg(
        F.min("r_sys").alias("first_hit")
    )
    nq = q.agg(F.count(F.lit(1)).alias("n_queries"))
    return rr.agg(
        F.expr("sum(1000000 div first_hit) div count(1)").alias("mrr_e6")
    ).crossJoin(F.broadcast(nq)).select("n_queries", "mrr_e6")


_PROTO_PRUNE_ORACLE_TMPL = """
WITH cents(cl, ce) AS (VALUES
{cents}
),
emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
d AS (
  SELECT m.vec_id, c.cl,
         list_reduce(list_transform(generate_series(1, 64),
           i -> (m.e[i] - c.ce[i]) * (m.e[i] - c.ce[i])),
           (x, y) -> x + y) AS d2
  FROM emb m CROSS JOIN cents c
),
asn AS (
  SELECT vec_id, cl, d2 FROM (
    SELECT vec_id, cl, d2,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY d2 ASC, cl ASC) AS rn
    FROM d)
  WHERE rn = 1
),
ranked AS (
  SELECT vec_id, cl,
         ROW_NUMBER() OVER (PARTITION BY cl ORDER BY d2 ASC, vec_id ASC)
           AS proto_rank,
         COUNT(*) OVER (PARTITION BY cl) AS n_in_list
  FROM asn
)
SELECT vec_id, CAST(cl AS BIGINT) AS list_id,
       CAST(proto_rank AS BIGINT) AS proto_rank,
       CAST(n_in_list AS BIGINT) AS n_in_list,
       4 * proto_rank > n_in_list AS keep
FROM ranked
"""


@query(
    "vec_prototype_prune",
    category="vectors",
    oracle=_PROTO_PRUNE_ORACLE_TMPL.format(cents=_ivf_cents_sql()),
)
def vec_prototype_prune(spark, sf_dir):
    """Prototypicality-based data pruning (Sorscher et al. 2022, "Beyond
    neural scaling laws"): cluster the embedding space, rank each vector
    by distance to its OWN centroid, and drop the most prototypical
    (closest) quarter per cluster — easy, redundant examples contribute
    least to training once the data budget is large, and keeping the
    hard tail beats random pruning. Per-vector verdicts are emitted so
    the keep set is auditable (keep ⇔ 4·rank > n, i.e. the closest 25%
    of every cluster is dropped; integer arithmetic, no float ratios).

    Same literal trained centroids and sequentially-folded squared-L2 as
    the IVF family (vec_ivf_balance / vec_ann_ivf), so both engines
    replay the identical assignment. At 100 TB: one broadcast of 16×64
    doubles onto the scan, one |corpus|-sized shuffle on list_id for the
    per-cluster window — the same shape as any per-group top-k; no
    all-pairs anything. The cluster-local window is exactly how D4 /
    SemDeDup-style pipelines stage their pruning pass."""
    from pyspark.sql import Window as W

    cents = _ivfpq_coarse()
    cents_sql = ", ".join(
        "array(" + ", ".join(f"{float(x)!r}D" for x in row) + ")" for row in cents
    )
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    dists = F.expr(
        f"transform(array({cents_sql}), c -> "
        "aggregate(zip_with(e, c, (x, y) -> (x - y) * (x - y)),"
        " 0D, (a, v) -> a + v))"
    )
    asn = emb.withColumn("dists", dists).select(
        "vec_id",
        (F.expr("array_position(dists, array_min(dists))").cast("int") - 1).alias(
            "cl"
        ),
        F.expr("array_min(dists)").alias("d2"),
    )
    wcl = W.partitionBy("cl")
    ranked = asn.select(
        "vec_id",
        F.col("cl").cast("long").alias("list_id"),
        F.row_number()
        .over(wcl.orderBy(F.col("d2").asc(), F.col("vec_id").asc()))
        .cast("long")
        .alias("proto_rank"),
        F.count(F.lit(1)).over(wcl).cast("long").alias("n_in_list"),
    )
    return ranked.select(
        "vec_id",
        "list_id",
        "proto_rank",
        "n_in_list",
        (4 * F.col("proto_rank") > F.col("n_in_list")).alias("keep"),
    )


def _kcenter_oracle(k: int = 8) -> str:
    """Unrolled Gonzalez greedy k-center in DuckDB: round t scores every
    vector's min sequential-fold L2 against the selected set and picks
    the farthest (ties -> smallest vec_id)."""
    fold = (
        "list_reduce(list_transform(generate_series(1, 64),"
        " i -> (m.e[i] - c.ce[i]) * (m.e[i] - c.ce[i])), (x, y) -> x + y)"
    )
    parts = [
        "WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)",
        "cents1 AS (SELECT 1 AS pick_order, vec_id, e AS ce,"
        " CAST(0 AS BIGINT) AS d2_e8 FROM emb"
        " WHERE vec_id = (SELECT MIN(vec_id) FROM emb))",
    ]
    for t in range(2, k + 1):
        prev = f"cents{t - 1}"
        parts.append(
            f"""dm{t} AS (
  SELECT m.vec_id, MIN({fold}) AS dmin
  FROM emb m CROSS JOIN {prev} c GROUP BY m.vec_id
),
pick{t} AS (
  SELECT vec_id, dmin FROM dm{t}
  ORDER BY dmin DESC, vec_id ASC LIMIT 1
),
cents{t} AS (
  SELECT * FROM {prev}
  UNION ALL
  SELECT {t} AS pick_order, e2.vec_id, e2.e AS ce,
         CAST(floor(p.dmin * 100000000) AS BIGINT) AS d2_e8
  FROM pick{t} p JOIN emb e2 ON e2.vec_id = p.vec_id
)"""
        )
    body = ",\n".join(parts)
    return (
        body
        + f"\nSELECT pick_order, vec_id, d2_e8 FROM cents{k} ORDER BY pick_order"
    )


@query("vec_coreset_kcenter", category="vectors", oracle=_kcenter_oracle())
def vec_coreset_kcenter(spark, sf_dir):
    """Greedy k-center coreset selection (Gonzalez 1985; the classic
    2-approximation used for active-learning batch selection and
    diversity-first data subsetting, Sener & Savarese 2018): seed with
    the min-id vector, then 7 unrolled rounds of "pick the vector
    farthest from the selected set" — the complement of prototype
    pruning (vec_prototype_prune drops redundancy; k-center GUARANTEES
    coverage: every corpus vector is within the final pick radius of a
    center). Each pick carries its selection distance (floor-quantized
    1e8 integer) so the coverage-radius curve is auditable.

    The k-vector selected set is DRIVER-HELD state (k·64 doubles — the
    same contract as the IVF/PQ literal codebooks): each round inlines
    the current centers as a literal array into a scan-side
    min-over-folds projection and takes the global top-1 with
    TakeOrdered — one linear scan per round, no corpus shuffle, no
    join, no persisted lineage. At 100 TB this is exactly how a
    distributed k-center pass is written: k passes, tiny broadcast
    state, argmax as a treeReduce-shaped top-1."""
    import math as _math

    # spread + persist: the selection loop below scans this frame 8
    # times (one TakeOrdered pass per pick) — single-file locally, so
    # unspread every pass is ONE task running the interpreted k-center
    # fold serially; persisted so the parquet decode+cast happens once,
    # not 8 times (in-query working state, released by the harness).
    emb = tracked_persist(
        spread(
            table(spark, sf_dir, "embeddings").select(
                "vec_id", F.col("embedding").cast("array<double>").alias("e")
            )
        )
    )
    seed = emb.orderBy("vec_id").limit(1).select("vec_id", "e").head()
    picks = [(1, int(seed.vec_id), list(seed.e), 0)]
    for t in range(2, 9):
        cents_sql = ", ".join(
            "array(" + ", ".join(f"{float(x)!r}D" for x in ce) + ")"
            for _, _, ce, _ in picks
        )
        dmin = F.expr(
            f"array_min(transform(array({cents_sql}), c -> "
            "aggregate(zip_with(e, c, (x, y) -> (x - y) * (x - y)),"
            " 0D, (a, v) -> a + v)))"
        )
        pick = (
            emb.select("vec_id", "e", dmin.alias("dmin"))
            .orderBy(F.col("dmin").desc(), F.col("vec_id").asc())
            .limit(1)
            .head()
        )
        picks.append(
            (t, int(pick.vec_id), list(pick.e), _math.floor(pick.dmin * 1e8))
        )
    return spark.createDataFrame(
        [(o, v, d) for o, v, _, d in picks],
        "pick_order int, vec_id long, d2_e8 long",
    ).orderBy("pick_order")


def _pca_recursion_cte(iters: int = 3) -> str:
    """Shared DuckDB twin of the integer power iteration: same
    quantization, same Gram build, same unrolled recursion — HUGEINT
    where the Spark side uses arbitrary-precision driver ints. Ends at
    CTE v{iters} (the 1e6-normalized component); callers append their
    own final SELECT."""
    body = """
    WITH q AS (
      SELECT vec_id,
             UNNEST(generate_series(1, len(embedding))) - 1 AS i,
             CAST(floor(UNNEST(embedding::DOUBLE[]) * 10000) AS BIGINT) AS qi
      FROM embeddings),
    g AS (
      SELECT a.i AS i, b.i AS j, SUM(a.qi * b.qi) AS gij
      FROM q a JOIN q b ON a.vec_id = b.vec_id
      GROUP BY a.i, b.i),
    v0 AS (
      SELECT DISTINCT i AS j, CAST(1000000 AS HUGEINT) AS val FROM q)
    """
    for k in range(1, iters + 1):
        p = k - 1
        body += f""",
    w{k} AS (
      SELECT g.i, SUM(CAST(g.gij AS HUGEINT) * v.val) AS w
      FROM g JOIN v{p} v ON v.j = g.j
      GROUP BY g.i),
    m{k} AS (SELECT MAX(ABS(w)) AS m FROM w{k}),
    v{k} AS (
      SELECT i AS j,
             CASE WHEN w < 0 THEN -(((-w) * 1000000) // m)
                  ELSE (w * 1000000) // m END AS val
      FROM w{k}, m{k})
    """
    return body


def _pca_power_oracle(iters: int = 3) -> str:
    return _pca_recursion_cte(iters) + f"""
    SELECT j AS dim, CAST(val AS BIGINT) AS component_e6
    FROM v{iters}
    ORDER BY dim
    """


def _pca_component(spark, emb) -> list[int]:
    """Distributed Gram build + driver-side exact integer power
    iteration; returns the 1e6-normalized component as Python ints.
    See vec_pca_power_iteration for the full scale contract."""

    def gram_partials(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(
                [np.asarray(e, dtype=np.float64) for e in pdf["embedding"]]
            )
            qm = np.floor(mat * 10000.0).astype(np.int64)
            part = qm.T @ qm  # exact: int64 matmul, |entry| ≤ n·3.4e7
            d = part.shape[0]
            ii, jj = np.meshgrid(np.arange(d), np.arange(d), indexing="ij")
            yield pd.DataFrame(
                {"i": ii.ravel(), "j": jj.ravel(), "p": part.ravel()}
            )

    g = (
        spread(emb.select("embedding"))
        .mapInPandas(gram_partials, "i int, j int, p long")
        .groupBy("i", "j")
        .agg(F.sum("p").alias("gij"))
        .transform(tracked_persist)
    )
    rows = g.collect()  # d²-bounded summary (4096 rows), NOT corpus-sized
    d = max(r["i"] for r in rows) + 1
    gm = [[0] * d for _ in range(d)]
    for r in rows:
        gm[r["i"]][r["j"]] = r["gij"]
    # 3 rounds of exact arbitrary-precision integer arithmetic on the
    # driver (Python ints — |w| reaches ~1e23, past int64); sign-split
    # floor division mirrors the oracle's HUGEINT // exactly.
    v = [1_000_000] * d
    for _ in range(3):
        w = [sum(gm[i][j] * v[j] for j in range(d)) for i in range(d)]
        m = max(abs(x) for x in w)
        v = [
            -((-x * 1_000_000) // m) if x < 0 else (x * 1_000_000) // m
            for x in w
        ]
    return [int(x) for x in v]


@query("vec_pca_power_iteration", python_boundary=True, category="vectors", oracle=_pca_power_oracle())
def vec_pca_power_iteration(spark, sf_dir):
    """Top principal direction of the embedding corpus by DISTRIBUTED
    power iteration over the relational Gram matrix — the
    dimensionality-reduction primitive behind embedding whitening,
    drift monitoring, and Matryoshka-style truncation decisions. The
    scale-correct decomposition: the d×d Gram matrix G = Σ q qᵀ is the
    ONLY corpus-sized aggregation (one map-side-combinable SUM into d²
    groups, built here as per-Arrow-batch partial Grams — one exact
    int64 BLAS matmul per batch, vectors travel once and only 4096
    partial rows per batch reach the shuffle; the all-pairs JVM
    generator variant pushed 20.5M exploded struct rows through codegen
    and measured ~2.3× slower at sf0.1); the iteration itself touches
    only the d²-bounded Gram, which is COLLECTED and iterated as
    driver-held integer state — the IVF-codebook/k-center contract
    (bounded summaries may live on the driver; per-round 64-row
    broadcast-join frames measured ~2× slower from pure job-scheduling
    overhead). A 10^9-vector corpus pays one pass over the data, then
    the iterations are free. Everything is integer-exact and
    order-independent: inputs quantize as floor(v·1e4) (the
    label_centroids idiom), the Gram entries are BIGINT sums, the
    driver matvec runs in arbitrary-precision Python ints (|w| reaches
    ~1e23 at fixture scale, far past int64 — the DuckDB twin widens to
    HUGEINT), and each round renormalizes to max|component| = 1e6 by
    sign-split floor division (positive divisor, so Python // ≡ DuckDB
    //). Three FIXED rounds from the all-ones vector: both engines run
    the identical recursion, so rows are EXACT-comparable whether or
    not the iteration has converged (the graph_pagerank convention); at
    100 TB you iterate to a tolerance instead and G is computed once."""
    emb = table(spark, sf_dir, "embeddings")
    v = _pca_component(spark, emb)
    return spark.createDataFrame(
        list(enumerate(v)), "dim long, component_e6 long"
    ).orderBy("dim")


def _pca_project_oracle(iters: int = 3, k: int = 20) -> str:
    return _pca_recursion_cte(iters) + f""",
    proj AS (
      SELECT q.vec_id, SUM(CAST(q.qi AS HUGEINT) * c.val) AS s
      FROM q JOIN v{iters} c ON c.j = q.i
      GROUP BY q.vec_id)
    SELECT vec_id, CAST(s AS BIGINT) AS proj_e10
    FROM proj ORDER BY ABS(s) DESC, vec_id LIMIT {k}
    """


@query("vec_pca_project_topk", python_boundary=True, category="vectors", oracle=_pca_project_oracle())
def vec_pca_project_topk(spark, sf_dir):
    """The 20 most extreme documents along the corpus's top principal
    direction — the outlier/drift lens PCA exists for: after
    vec_pca_power_iteration's component is in hand (same distributed
    Gram + driver-side exact integer recursion, via _pca_component),
    project every embedding onto it and rank by |projection|. The
    projection stays JVM-SIDE and distributed: posexplode the
    embedding, quantize floor(e·1e4) exactly as the Gram did, join the
    64-row component as a BROADCAST literal table, and sum qi·v_j per
    vec_id — a map-side-combinable integer dot product (|score| ≤
    64·1e4·1e6 ≈ 6e11, safely int64), followed by TakeOrdered(20) (no
    global sort). Ordering is total — exact integer scores, ties
    broken by vec_id — so LIMIT 20 is deterministic on both engines.
    At 100 TB: one pass builds G, one pass projects; the only shuffle
    is the vec_id-keyed partial-sum combine, and top-k never
    materializes a sorted corpus."""
    emb = table(spark, sf_dir, "embeddings")
    v = _pca_component(spark, emb)
    comp = spark.createDataFrame(list(enumerate(v)), "j int, val long")
    ex = emb.select(
        "vec_id", F.posexplode("embedding").alias("j", "e")
    ).select(
        "vec_id", "j", F.floor(F.col("e").cast("double") * 10000).cast("long").alias("qi")
    )
    proj = (
        ex.join(F.broadcast(comp), "j")
        .groupBy("vec_id")
        .agg(F.sum(F.col("qi") * F.col("val")).alias("proj_e10"))
    )
    return proj.orderBy(F.abs(F.col("proj_e10")).desc(), "vec_id").limit(20)


_KNN_OOD_ORACLE = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id % 50 = 0),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
rk AS (
  SELECT q.query_id,
         list_dot_product(q.qv, c.cv)
           / (sqrt(list_dot_product(q.qv, q.qv))
              * sqrt(list_dot_product(c.cv, c.cv))) AS cosine,
         ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
           list_dot_product(q.qv, c.cv)
             / (sqrt(list_dot_product(q.qv, q.qv))
                * sqrt(list_dot_product(c.cv, c.cv))) DESC,
           c.neighbor_id ASC) AS rank
  FROM q CROSS JOIN c WHERE q.query_id <> c.neighbor_id
)
SELECT query_id AS vec_id, ROUND(cosine, 4) + 0.0 AS knn5_cosine
FROM rk WHERE rank = 5
ORDER BY knn5_cosine ASC, vec_id LIMIT 20
"""


@query("vec_knn_ood_audit", python_boundary=True, category="vectors", oracle=_KNN_OOD_ORACLE)
def vec_knn_ood_audit(spark, sf_dir):
    """kNN-distance out-of-distribution audit: for a deterministic 2 %
    sample of vectors (vec_id % 50 = 0), the cosine similarity of each
    vector's 5th-nearest neighbor in the FULL corpus, bottom-20 — the
    isolation score data-curation pipelines use to surface
    noise/outlier embeddings for review (the complement of SemDeDup:
    that prunes what has too-close neighbors, this flags what has
    none). Runs on the cosine_topk_blas operator (one numpy matmul per
    Arrow batch + in-batch partial top-k, so the exchange carries
    batches×Q×k rows — the Q×N interpreted-fold path measured 130.8 s
    at sf1.0's 400-query×20 k-corpus load vs ~1 s for BLAS): the sample
    broadcasts, the corpus never shuffles, and the 5th-NN VALUE is
    order-independent even under cosine ties (the (cosine, neighbor_id)
    order is total), and the bottom-20 cut orders by the 4-dp-rounded
    score with vec_id tie-break. This is the exact AUDIT tier of the
    family (the vec_neardup_cosine contract): at 100 TB the sample
    stays a broadcastable slice and the corpus side stays a scan; the
    full-corpus scale path is the ANN shelf, priced by its recall
    rows."""
    from ..operators.similarity import cosine_topk_blas

    emb = table(spark, sf_dir, "embeddings")
    sample = emb.where(F.col("vec_id") % 50 == 0)
    tk = cosine_topk_blas(emb, sample, k=5)
    fifth = tk.where(F.col("rank") == 5)
    return (
        fifth.select(
            F.col("query_id").alias("vec_id"),
            (F.round("cosine", 4) + F.lit(0.0)).alias("knn5_cosine"),
        )
        .orderBy(F.col("knn5_cosine").asc(), "vec_id")
        .limit(20)
    )


_SILHOUETTE_ORACLE = """
WITH q AS (
  SELECT vec_id, label,
         UNNEST(generate_series(1, len(embedding))) - 1 AS j,
         CAST(floor(UNNEST(embedding::DOUBLE[]) * 10000) AS BIGINT) AS qi
  FROM embeddings
),
cen AS (
  SELECT label AS c, j, CAST(SUM(qi) AS BIGINT) AS s, COUNT(DISTINCT vec_id) AS nc
  FROM q GROUP BY label, j
),
d2 AS (
  SELECT q.vec_id, q.label, cen.c,
         CAST(SUM(CAST((q.qi * cen.nc - cen.s) AS HUGEINT)
                  * (q.qi * cen.nc - cen.s)) AS HUGEINT) AS dn,
         MAX(cen.nc) AS nc
  FROM q JOIN cen ON cen.j = q.j
  GROUP BY q.vec_id, q.label, cen.c
),
rq AS (
  SELECT vec_id, label, c,
         CAST(dn // (CAST(nc AS HUGEINT) * nc) AS BIGINT) AS r
  FROM d2
),
ab AS (
  SELECT vec_id, label,
         MAX(CASE WHEN c = label THEN r END) AS a,
         MIN(CASE WHEN c <> label THEN r END) AS b
  FROM rq GROUP BY vec_id, label
),
s AS (
  SELECT vec_id, label,
         CASE WHEN GREATEST(a, b) = 0 THEN 0
              WHEN b - a < 0
              THEN -CAST((2 * CAST(a - b AS HUGEINT) * 1000000 + GREATEST(a, b))
                         // (2 * CAST(GREATEST(a, b) AS HUGEINT)) AS BIGINT)
              ELSE CAST((2 * CAST(b - a AS HUGEINT) * 1000000 + GREATEST(a, b))
                        // (2 * CAST(GREATEST(a, b) AS HUGEINT)) AS BIGINT)
         END AS s_e6
  FROM ab
)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(CASE WHEN SUM(s_e6) < 0
                 THEN -((-CAST(SUM(s_e6) AS HUGEINT)) // COUNT(*))
                 ELSE CAST(SUM(s_e6) AS HUGEINT) // COUNT(*) END AS BIGINT)
         AS mean_silhouette_e6
FROM s GROUP BY label ORDER BY label
"""


@query("vec_silhouette_simplified", category="vectors", oracle=_SILHOUETTE_ORACLE)
def vec_silhouette_simplified(spark, sf_dir):
    """Simplified (centroid-based) silhouette per label — the scalable
    clustering-quality score (Hruschka et al.'s simplified silhouette:
    distance-to-centroid replaces the O(n²) mean pairwise distance, the
    variant every large-scale pipeline actually computes): s_i =
    (b−a)/max(a,b) with a = squared distance to the OWN label centroid
    and b = the minimum over other labels. INTEGER-EXACT pipeline:
    vectors quantize at e4 (the Gram/PCA idiom), centroid means stay
    un-divided as (Σq, n_c) numerator pairs, the squared distance to
    centroid c carries the exact integer Σ_j (q_j·n_c − S_cj)² (common
    denominator n_c²), and the heterogeneous-denominator comparison is
    settled by ONE flooring division r = dn // n_c² (values ~1e12, so
    the floor loses <1e-12 relative — a defined estimator, identical
    both engines; HUGEINT/DECIMAL(38,0) where products pass int64).
    s quantizes at 1e6 by half-away sign-split division; per-label
    means are integer divisions of exact sums. Plan: one explode joins
    the BROADCAST 640-row centroid-numerator table — vectors travel
    once; everything after is (vec × 10 labels)-sized then
    labels-sized. The exact all-pairs silhouette is the audit-tier
    complement (the vec_neardup_cosine contract)."""
    emb = table(spark, sf_dir, "embeddings")
    # spread + persist: the exploded quantized frame feeds the centroid
    # aggregate AND the distance join — two corpus re-explosions from a
    # one-task single-file scan otherwise (serial ~0.8 s stages).
    q = tracked_persist(
        spread(emb).select(
            "vec_id", "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias("j", "e"),
        ).select(
            "vec_id", "label", "j",
            F.floor(F.col("e") * 10000).cast("long").alias("qi"),
        )
    )
    cen = q.groupBy(F.col("label").alias("c"), "j").agg(
        F.sum("qi").alias("s"), F.count_distinct("vec_id").alias("nc")
    )
    d2 = (
        q.join(F.broadcast(cen), "j")
        .groupBy("vec_id", "label", "c")
        .agg(
            F.sum(
                (
                    (F.col("qi") * F.col("nc") - F.col("s")).cast("decimal(38,0)")
                    * (F.col("qi") * F.col("nc") - F.col("s")).cast("decimal(38,0)")
                )
            ).alias("dn"),
            F.max("nc").alias("nc"),
        )
    )
    rq = d2.select(
        "vec_id", "label", "c",
        F.expr(
            "CAST(dn DIV (CAST(nc AS DECIMAL(38,0)) * nc) AS BIGINT)"
        ).alias("r"),
    )
    ab = rq.groupBy("vec_id", "label").agg(
        F.max(F.when(F.col("c") == F.col("label"), F.col("r"))).alias("a"),
        F.min(F.when(F.col("c") != F.col("label"), F.col("r"))).alias("b"),
    )
    s = ab.select(
        "label",
        F.expr(
            "CASE WHEN GREATEST(a, b) = 0 THEN 0L"
            " WHEN b - a < 0"
            " THEN -CAST((2 * CAST(a - b AS DECIMAL(38,0)) * 1000000 + GREATEST(a, b))"
            "       DIV (2 * CAST(GREATEST(a, b) AS DECIMAL(38,0))) AS BIGINT)"
            " ELSE CAST((2 * CAST(b - a AS DECIMAL(38,0)) * 1000000 + GREATEST(a, b))"
            "      DIV (2 * CAST(GREATEST(a, b) AS DECIMAL(38,0))) AS BIGINT) END"
        ).alias("s_e6"),
    )
    return (
        s.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.expr(
                "CAST(CASE WHEN SUM(s_e6) < 0"
                " THEN -((-CAST(SUM(s_e6) AS DECIMAL(38,0))) DIV COUNT(*))"
                " ELSE CAST(SUM(s_e6) AS DECIMAL(38,0)) DIV COUNT(*) END AS BIGINT)"
            ).alias("mean_silhouette_e6"),
        )
        .orderBy("label")
    )


_ROCCHIO_ORACLE = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
r1 AS (
  SELECT q.query_id, c.neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
           list_dot_product(q.qv, c.cv)
             / (sqrt(list_dot_product(q.qv, q.qv))
                * sqrt(list_dot_product(c.cv, c.cv))) DESC,
           c.neighbor_id ASC) AS rank
  FROM q CROSS JOIN c WHERE q.query_id <> c.neighbor_id
),
fb AS (SELECT query_id, neighbor_id FROM r1 WHERE rank <= 5),
qe AS (
  SELECT query_id,
         UNNEST(generate_series(1, len(qv))) - 1 AS j,
         CAST(floor(UNNEST(qv) * 10000) AS BIGINT) AS qi
  FROM q
),
ce AS (
  SELECT vec_id,
         UNNEST(generate_series(1, len(embedding))) - 1 AS j,
         CAST(floor(UNNEST(embedding::DOUBLE[]) * 10000) AS BIGINT) AS ci
  FROM embeddings
),
expq AS (
  SELECT f.query_id, ce.j, SUM(ce.ci) AS fsum
  FROM fb f JOIN ce ON ce.vec_id = f.neighbor_id
  GROUP BY f.query_id, ce.j
),
qprime AS (
  SELECT e.query_id, e.j, qe.qi * 5 + e.fsum AS w
  FROM expq e JOIN qe ON qe.query_id = e.query_id AND qe.j = e.j
),
r2 AS (
  SELECT p.query_id, ce.vec_id AS neighbor_id,
         CAST(SUM(p.w * ce.ci) AS BIGINT) AS score_e8
  FROM qprime p JOIN ce ON ce.j = p.j
  WHERE ce.vec_id <> p.query_id
  GROUP BY p.query_id, ce.vec_id
),
rk AS (
  SELECT query_id, neighbor_id, score_e8,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score_e8 DESC, neighbor_id) AS rk
  FROM r2
)
SELECT query_id, rk, neighbor_id, score_e8
FROM rk WHERE rk <= 5 ORDER BY query_id, rk
"""


@query("vec_rocchio_prf", category="vectors", oracle=_ROCCHIO_ORACLE)
def vec_rocchio_prf(spark, sf_dir):
    """Pseudo-relevance feedback retrieval (Rocchio 1971, the
    two-round expansion every classical IR stack ships): round 1
    retrieves each query's top-5 cosine neighbors, the query expands
    as q' = α·q + β·centroid(feedback) (α=β=1, carried UN-DIVIDED as
    5q+Σ — the silhouette numerator idiom, so q' is an exact integer
    vector), and round 2 re-ranks the corpus by the integer dot
    product q'·c. Round 1 rides the proven cosine_topk operator
    (broadcast queries, corpus never shuffled); the feedback centroid
    is a 5-row-per-query exact sum; round 2 is the vec_pca_project
    shape — posexplode the corpus once, join the BROADCAST
    (query, dim, weight) table (5 queries × 64 dims), map-side-combine
    the per-(query, vector) partial dots, TakeOrdered per query via
    WindowGroupLimit. Total orders everywhere (score, id), so top-5 is
    deterministic; |q'·c| ≤ 64·6e5·6e4 ≈ 2e12, inside int64. At
    100 TB both rounds are one corpus scan each — the expansion never
    materializes pairwise anything."""
    from pyspark.sql import Window as W

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    tk = cosine_topk(emb, queries, k=5).select("query_id", "neighbor_id")
    # spread + persist: the exploded corpus feeds BOTH retrieval rounds
    # (feedback centroid join + re-rank join) — without the persist the
    # posexplode+quantize runs twice, and on the single-file local scan
    # each run was one serial task (measured 1.1 s 1-task stages).
    ce = tracked_persist(
        spread(emb).select(
            "vec_id",
            F.posexplode(F.col("embedding").cast("array<double>")).alias("j", "e"),
        ).select("vec_id", "j", F.floor(F.col("e") * 10000).cast("long").alias("ci"))
    )
    qe = queries.select(
        F.col("vec_id").alias("query_id"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias("j", "e"),
    ).select("query_id", "j", F.floor(F.col("e") * 10000).cast("long").alias("qi"))
    fsum = (
        tk.join(ce.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
        .groupBy("query_id", "j")
        .agg(F.sum("ci").alias("fsum"))
    )
    qprime = fsum.join(qe, ["query_id", "j"]).select(
        "query_id", "j", (F.col("qi") * 5 + F.col("fsum")).alias("w")
    )
    r2 = (
        ce.join(F.broadcast(qprime), "j")
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum(F.col("w") * F.col("ci")).alias("score_e8"))
    )
    win = W.partitionBy("query_id").orderBy(F.col("score_e8").desc(), "neighbor_id")
    return (
        r2.withColumn("rk", F.row_number().over(win))
        .where(F.col("rk") <= 5)
        .select("query_id", "rk", "neighbor_id", "score_e8")
        .orderBy("query_id", "rk")
    )


# Absolute cap on the broadcast A-side of the distance-concentration
# diagnostic: the %7 slice is PROPORTIONAL to the corpus, so uncapped it
# re-creates the driver-materialization failure mode the 8M-cell gates
# close everywhere else. 4096 ids × 64 dims × 8 B = 2 MB broadcast at ANY
# corpus size; the cap only binds above ~28k embeddings (sf1.0's ~20k
# slice is 2.9k ids, untouched), and the oracle applies the identical
# first-4096-by-vec_id rule so both engines sample the same pairs.
_DIST_CONC_A_CAP = 4096

_DIST_CONC_ORACLE = f"""
WITH q AS (
  SELECT vec_id,
         UNNEST(generate_series(1, len(embedding))) - 1 AS j,
         CAST(floor(UNNEST(embedding::DOUBLE[]) * 10000) AS BIGINT) AS qi
  FROM embeddings
),
a_ids AS (
  SELECT vec_id FROM embeddings WHERE vec_id % 7 = 0
  ORDER BY vec_id LIMIT {_DIST_CONC_A_CAP}
),
a AS (SELECT q.vec_id, j, qi FROM q JOIN a_ids ON q.vec_id = a_ids.vec_id),
b AS (SELECT vec_id, j, qi FROM q WHERE vec_id % 11 = 0),
d2 AS (
  SELECT a.vec_id AS va, b.vec_id AS vb,
         CAST(SUM((a.qi - b.qi) * (a.qi - b.qi)) AS BIGINT) AS d2
  FROM a JOIN b ON a.j = b.j AND a.vec_id < b.vec_id
  GROUP BY a.vec_id, b.vec_id
),
m AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         CAST(SUM(CAST(d2 AS HUGEINT)) AS HUGEINT) AS s,
         CAST(MIN(d2) AS BIGINT) AS mn, CAST(MAX(d2) AS BIGINT) AS mx
  FROM d2
)
SELECT CAST(n AS BIGINT) AS n_pairs, mn AS min_d2_e8, mx AS max_d2_e8,
       CAST(s // n AS BIGINT) AS mean_d2_e8,
       CAST((mx - mn) * 1000000 // (s // n) AS BIGINT) AS relative_spread_ppm
FROM m
"""


@query("vec_distance_concentration", python_boundary=True, category="vectors", oracle=_DIST_CONC_ORACLE)
def vec_distance_concentration(spark, sf_dir):
    """Distance-CONCENTRATION diagnostic over a deterministic pair
    sample (vec_id%7 × vec_id%11 grid, ~1% of pairs): min / mean / max
    squared distance and the relative spread (max−min)/mean — the
    curse-of-dimensionality health check run before trusting ANY
    nearest-neighbor machinery (when distances concentrate, spread→0
    and kNN/LSH/IVF all degrade to noise; Beyer et al. 1999). All
    integer: e4-quantized coordinates, exact int64 squared distances
    (≤ 64·(1.2e5)² ≈ 9e11), HUGEINT/DECIMAL(38,0) moments, flooring
    ppm. The pair sample is the audit-tier contract — one modulus
    slice broadcasts as an int64 matrix and the other streams through
    a mapInPandas kernel (d² = ‖a‖²+‖b‖²−2a·b, int64 matmul — exact,
    no floats touched past the shared floor(e·1e4) quantization),
    never all-pairs over the corpus, and the broadcast side is capped
    ABSOLUTELY at _DIST_CONC_A_CAP ids (smallest vec_ids first — a
    TakeOrdered, not a proportional collect; 2 MB at any corpus size,
    oracle applies the identical rule). Each streamed row emits ONE
    partial-moment row (n, Σd², min, max — Σ per row ≤ |A|·9e11,
    safely int64; the cross-row sum is DECIMAL(38,0) in Spark), so
    the exchange carries |B| rows, not |A|×|B|×dims — the (pair, dim)
    join shape this replaces measured 20.6 s at sf1.0 (332 M joined
    rows) vs ~1 s for the kernel. Pairs with va<vb only, so the
    sample is unordered-unique."""
    import numpy as np
    import pandas as pd

    emb = table(spark, sf_dir, "embeddings")
    arows = (
        emb.where(F.col("vec_id") % 7 == 0)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(_DIST_CONC_A_CAP)
        .collect()
    )
    va = np.array([int(r["vec_id"]) for r in arows], dtype=np.int64)
    amat = np.floor(
        np.array([list(map(float, r["embedding"])) for r in arows]) * 10000
    ).astype(np.int64)
    anorm2 = (amat * amat).sum(axis=1)  # (A,) int64
    ba = spark.sparkContext.broadcast((va, amat, anorm2))

    def partial_moments(batches):
        ids_a, am, an2 = ba.value
        for pdf in batches:
            vb = pdf["vec_id"].to_numpy(dtype=np.int64)
            if len(vb) == 0:
                continue
            bm = np.floor(
                np.array(pdf["embedding"].tolist(), dtype=np.float64) * 10000
            ).astype(np.int64)
            bn2 = (bm * bm).sum(axis=1)  # (B,)
            # exact int64: d2[b, a] = |a|^2 + |b|^2 - 2 a.b
            d2 = an2[None, :] + bn2[:, None] - 2 * (bm @ am.T)
            mask = ids_a[None, :] < vb[:, None]  # va < vb with a as cols
            n_row = mask.sum(axis=1)
            keep = n_row > 0
            if not keep.any():
                continue
            d2m = np.where(mask, d2, 0)
            s_row = d2m.sum(axis=1)
            big = np.iinfo(np.int64).max
            mn_row = np.where(mask, d2, big).min(axis=1)
            mx_row = np.where(mask, d2, -1).max(axis=1)
            yield pd.DataFrame(
                {
                    "n": n_row[keep],
                    "s": s_row[keep],
                    "mn": mn_row[keep],
                    "mx": mx_row[keep],
                }
            )

    part = spread(
        emb.where(F.col("vec_id") % 11 == 0).select("vec_id", "embedding")
    ).mapInPandas(partial_moments, "n long, s long, mn long, mx long")
    m = part.agg(
        F.sum(F.col("n").cast("decimal(38,0)")).alias("n"),
        F.sum(F.col("s").cast("decimal(38,0)")).alias("s"),
        F.min("mn").alias("mn"),
        F.max("mx").alias("mx"),
    )
    return m.select(
        F.col("n").cast("bigint").alias("n_pairs"),
        F.col("mn").alias("min_d2_e8"),
        F.col("mx").alias("max_d2_e8"),
        F.expr("CAST(s DIV n AS BIGINT)").alias("mean_d2_e8"),
        F.expr(
            "CAST((mx - mn) * 1000000 DIV CAST(s DIV n AS BIGINT) AS BIGINT)"
        ).alias("relative_spread_ppm"),
    )


def _bitext_margin_oracle(k_cand: int = 16, k_margin: int = 4) -> str:
    """Oracle for vec_bitext_margin_topk: the full margin pipeline
    replayed relationally — cross-side cosines from UNROLLED 64-dim
    scalar products (list-entry interpretation, not arithmetic, is
    DuckDB's wall — the vec_dedup_clusters convention), 8-dp half-even
    quantization lifted to exact e8 BIGINTs, rank windows for candidate
    retrieval and both denominator top-k sums, and the margin as
    positive-domain integer division (numerator filtered > 0 and the
    denominator clamped >= 1, so Spark's truncating DIV and DuckDB's
    flooring // agree)."""
    dot = " + ".join(f"a.e{i} * b.e{i}" for i in range(1, 65))
    cols = ",\n             ".join(f"e[{i}] AS e{i}" for i in range(1, 65))
    nrm = " + ".join(f"e{i} * e{i}" for i in range(1, 65))
    return f"""
    WITH emb AS (
      SELECT vec_id, vec_id % 2 AS side, embedding::DOUBLE[] AS e
      FROM embeddings
    ),
    d0 AS (
      SELECT vec_id, side,
             {cols}
      FROM emb
    ),
    d AS MATERIALIZED (
      SELECT *, sqrt({nrm}) AS nrm FROM d0
    ),
    c8 AS MATERIALIZED (
      SELECT a.vec_id AS src_id, b.vec_id AS tgt_id,
             CAST(ROUND(ROUND(({dot}) / (a.nrm * b.nrm), 8)
                        * 100000000, 0) AS BIGINT) AS c8e8
      FROM d a JOIN d b ON a.side = 0 AND b.side = 1
    ),
    fwd AS (
      SELECT src_id, tgt_id, c8e8,
             ROW_NUMBER() OVER (PARTITION BY src_id
                                ORDER BY c8e8 DESC, tgt_id) AS rn
      FROM c8
    ),
    rev AS (
      SELECT src_id, tgt_id, c8e8,
             ROW_NUMBER() OVER (PARTITION BY tgt_id
                                ORDER BY c8e8 DESC, src_id) AS rn
      FROM c8
    ),
    dx AS (SELECT src_id, SUM(c8e8) AS dx_e8 FROM fwd
           WHERE rn <= {k_margin} GROUP BY src_id),
    dy AS (SELECT tgt_id, SUM(c8e8) AS dy_e8 FROM rev
           WHERE rn <= {k_margin} GROUP BY tgt_id),
    pairs AS (
      SELECT f.src_id, f.tgt_id, f.c8e8,
             (2 * {k_margin} * f.c8e8 * 1000000)
               // GREATEST(dx.dx_e8 + dy.dy_e8, 1) AS margin_e6
      FROM fwd f
      JOIN dx ON dx.src_id = f.src_id
      JOIN dy ON dy.tgt_id = f.tgt_id
      WHERE f.rn <= {k_cand} AND f.c8e8 > 0
    )
    SELECT src_id, tgt_id, c8e8, CAST(margin_e6 AS BIGINT) AS margin_e6
    FROM pairs
    ORDER BY margin_e6 DESC, src_id, tgt_id
    LIMIT 20
    """


@query(
    "vec_bitext_margin_topk", python_boundary=True,
    category="vectors",
    oracle=_bitext_margin_oracle(),
)
def vec_bitext_margin_topk(spark, sf_dir):
    """Margin-based bitext SCORING — the precision stage downstream of
    doc_bitext_mining_candidates (CCMatrix, Schwenk et al. 2021: a
    candidate translation pair is kept not by raw cosine but by its
    MARGIN — the ratio of the pair's similarity to the average
    similarity of each side's k nearest neighbors — which cancels the
    hubness that makes raw cosine incomparable across query points).
    The embeddings table splits into two synthetic "languages" by
    vec_id parity; for each source vector the top-16 cross-side
    candidates are retrieved and scored with
    margin = 2k·cos(x,y) / (Σ_{{z∈NNk(x)}}cos(x,z) + Σ_{{z∈NNk(y)}}cos(y,z)),
    k = 4, and the global top-20 pairs emitted.

    Engine-reproducible arithmetic throughout: retrieval and both
    denominator top-k selections rank on HALF-EVEN 8-dp-quantized
    cosines (cosine_topk_blas quantize_dp=8 — full-precision ranking is
    one summation-order ulp from a different pick at a tie), the
    quantized values lift exactly to e8 BIGINTs, and the margin is
    positive-domain integer division (numerator filtered > 0,
    denominator clamped >= 1) so Spark's truncating DIV equals DuckDB's
    flooring //. Scale shape: retrieval is the size-gated BLAS kernel
    (broadcast below 8 M matrix cells, block-pair groups above); the
    margin stage touches only |src|·16 candidate rows + two
    |side|-sized denominator tables — at 100 TB the retrieval swaps to
    the ANN tiers (IVF/LSH) exactly as the dedup family prices it."""
    from ..operators.similarity import cosine_topk_blas
    from ..tables import footer_shape

    emb = table(spark, sf_dir, "embeddings")
    side0 = emb.where(F.col("vec_id") % 2 == 0)
    side1 = emb.where(F.col("vec_id") % 2 == 1)
    # footer-derived (N, dims) upper-bounds either parity side: skips the
    # two eager _mat_shape probe jobs per kernel call (round-7 advice)
    hint = footer_shape(sf_dir)
    cand = cosine_topk_blas(side1, side0, k=16, quantize_dp=8, shape_hint=hint)
    rev = cosine_topk_blas(side0, side1, k=4, quantize_dp=8, shape_hint=hint)
    c8e8 = F.round(F.col("cosine") * 100000000, 0).cast("long")
    cand8 = cand.select(
        F.col("query_id").alias("src_id"),
        F.col("neighbor_id").alias("tgt_id"),
        "rank",
        c8e8.alias("c8e8"),
    )
    dx = (
        cand8.where(F.col("rank") <= 4)
        .groupBy("src_id")
        .agg(F.sum("c8e8").alias("dx_e8"))
    )
    dy = (
        rev.select(F.col("query_id").alias("tgt_id"), c8e8.alias("c8e8"))
        .groupBy("tgt_id")
        .agg(F.sum("c8e8").alias("dy_e8"))
    )
    pairs = (
        cand8.join(dx, "src_id")
        .join(dy, "tgt_id")
        .where(F.col("c8e8") > 0)
        .withColumn(
            "margin_e6",
            F.expr("(8 * c8e8 * 1000000) DIV GREATEST(dx_e8 + dy_e8, CAST(1 AS BIGINT))"),
        )
    )
    return (
        pairs.orderBy(F.col("margin_e6").desc(), "src_id", "tgt_id")
        .select("src_id", "tgt_id", "c8e8", "margin_e6")
        .limit(20)
    )
