"""Vector similarity search over an embedding column (array<float>).

- cosine_topk        : exact brute-force top-k — the correctness baseline.
                       Query side is small → broadcast; dot products are
                       zip_with/aggregate (JVM, codegen); top-k is a window.
- lsh_signed_random  : random-hyperplane LSH bucketing — the sublinear
                       scale path; candidates within matching buckets only.
- ivf_topk           : IVF-style: coarse centroids (from k-means-ish label
                       averaging or provided), probe nearest n_probe cells.
- label_centroids    : per-label elementwise mean via posexplode + groupBy.

At 100 TB the brute-force path is a single broadcast-join scan (no shuffle
of the corpus); IVF/LSH cut the scanned fraction by the bucket factor.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..tables import spread


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def with_cosine(pairs: DataFrame, a: str, b: str, out: str = "cosine") -> DataFrame:
    """Adds cosine similarity between two array<double> columns."""
    return pairs.withColumn(
        out, _dot(F.col(a), F.col(b)) / (_norm(F.col(a)) * _norm(F.col(b)))
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector (self-matches
    excluded; ties broken by lower corpus id)."""
    from pyspark.sql import Window as W

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", _dot(F.col("qv"), F.col("cv")) / (_norm(F.col("qv")) * _norm(F.col("cv"))))
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", F.round("cosine", 4).alias("cosine"))
    )


# Above this many matrix CELLS (rows x dims, 8 B each -> 64 MB) a
# collected side of the exact kernels stops being broadcast-class and
# the kernel routes to its BLOCK-PARTITIONED twin: vectors hash into B
# blocks, every (bi <= bj) block-pair group scores its own pairs with a
# local BLAS matmul, and NOTHING collects to the driver. Same output
# contract (identical 8-dp quantization), memory bounded per task at
# 2·|block|·dim, shuffle = B copies of the vector column — the route a
# 100x-larger embeddings table takes without a code change (the
# measured routing discipline of dedup._prefix_join_wins, applied to
# the vector tier).
_BROADCAST_CELLS_MAX = 8_000_000

#: target rows per hash block on the blocked paths (a 8192x64 block is
#: a 4 MB float64 matrix — L2-friendly matmul operand, small task state)
_BLOCK_ROWS = 8192


def _mat_shape(df: DataFrame, vec_col: str) -> tuple[int, int]:
    """(rows, dims) of an embedding frame — ONE tiny agg job, the
    plan-shape probe the size gates route on."""
    r = df.agg(
        F.count(F.lit(1)).alias("n"), F.max(F.size(vec_col)).alias("d")
    ).first()
    return int(r["n"] or 0), int(r["d"] or 0)


def _n_blocks(n_rows: int) -> int:
    return max(2, -(-n_rows // _BLOCK_ROWS))


def _cosine_tau_pairs_blocked(
    vecs: DataFrame, *, tau: float, id_col: str, vec_col: str,
    emit_cosine: bool, n_rows: int,
) -> DataFrame:
    """Exact all-pairs tau kernel WITHOUT a driver-side matrix — the
    above-gate twin of cosine_tau_pairs_exact (block-nested-loop
    distribution, the _wjaccard_dense_pairs discipline): ids hash into
    B blocks, each vector ships one copy per block-pair group it
    participates in (B copies), and each of the B(B+1)/2 (bi <= bj)
    groups scores its pairs with one chunked BLAS matmul — within-block
    groups emit id-ordered pairs once, cross-block groups emit every
    pair as (min, max). Total matmul work is the same N²/2; it is
    distributed across groups instead of anchored to a broadcast."""
    B = _n_blocks(n_rows)
    base = vecs.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("e"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(B)).cast("int").alias("_blk"),
    )
    copies = base.select(
        "vec_id", "e", "_blk",
        F.explode(F.sequence(F.lit(0), F.lit(B - 1))).alias("_g"),
    ).select(
        "vec_id", "e", "_blk",
        F.least("_blk", "_g").alias("_bi"),
        F.greatest("_blk", "_g").alias("_bj"),
    )

    def group_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        bi, bj = int(pdf["_bi"].iloc[0]), int(pdf["_bj"].iloc[0])
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        m = np.stack(pdf["e"].to_numpy())
        # Normalize ROWS once (one n×dim pass) so the matmul output IS
        # the cosine — the former per-chunk norm outer-product + full-
        # matrix divide + full-matrix round streamed 3 extra chunk×block
        # arrays through DRAM and cost 19 of 22 s per 15k² group on this
        # host's measured ~300 MB/s-per-core streaming bandwidth. The
        # 8-dp half-even quantization is applied SPARSELY to candidate
        # entries only (raw >= tau - 1e-8 is a strict superset of
        # everything that can round into membership); the ±1-ulp
        # normalize-then-multiply vs divide difference is the same
        # accepted class as the matmul-vs-sequential-fold summation
        # order the quantization exists to absorb.
        mh = m * (1.0 / np.sqrt((m * m).sum(axis=1)))[:, None]
        blk = pdf["_blk"].to_numpy()
        out_a: list[np.ndarray] = []
        out_b: list[np.ndarray] = []
        out_c: list[np.ndarray] = []

        def score(rows_l: np.ndarray, rows_r: np.ndarray, within: bool) -> None:
            chunk = 2048
            for i0 in range(0, len(rows_l), chunk):
                rl = rows_l[i0 : i0 + chunk]
                raw = mh[rl] @ mh[rows_r].T
                ii, jj = np.nonzero(raw >= tau - 1e-8)
                cos = np.round(raw[ii, jj], 8)
                sel = cos >= tau
                ii, jj, cos = ii[sel], jj[sel], cos[sel]
                a, b = ids[rl[ii]], ids[rows_r[jj]]
                keep = a < b if within else a != b
                out_a.append(np.minimum(a[keep], b[keep]))
                out_b.append(np.maximum(a[keep], b[keep]))
                out_c.append(cos[keep])

        if bi == bj:
            rows = np.arange(len(ids))
            score(rows, rows, within=True)
        else:
            score(np.nonzero(blk == bi)[0], np.nonzero(blk == bj)[0], within=False)
        res = {
            "vec_a": np.concatenate(out_a) if out_a else np.array([], dtype=np.int64),
            "vec_b": np.concatenate(out_b) if out_b else np.array([], dtype=np.int64),
        }
        if emit_cosine:
            res["cosine"] = (
                np.concatenate(out_c) if out_c else np.array([], dtype=np.float64)
            )
        return pd.DataFrame(res)

    schema = "vec_a long, vec_b long" + (", cosine double" if emit_cosine else "")
    return copies.groupBy("_bi", "_bj").applyInPandas(group_pairs, schema)


def cosine_topk_blas(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_broadcast_cells: int = _BROADCAST_CELLS_MAX,
    quantize_dp: int | None = None,
    shape_hint: tuple[int, int] | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors, BLAS physical path — same contract
    as cosine_topk (self-matches excluded, ties by lower corpus id,
    cosine rounded 4 dp) but the Q×N dot products run as one numpy
    matmul per Arrow batch instead of Q×N interpreted zip_with/aggregate
    folds, and each batch pre-selects its LOCAL top-k per query before
    anything shuffles (global top-k ⊆ union of per-batch top-k, the
    selection-semilattice identity), so the exchange carries
    batches×Q×k rows, never Q×N. Measured: vec_knn_ood_audit at sf1.0
    (400 queries × 20 k corpus) 130.8 s → BLAS path ~1 s. The query
    side collects to a broadcast matrix — broadcast-class by contract
    (it is the build side, the same size class a broadcast join ships)
    and SIZE-GATED: above ``max_broadcast_cells`` (rows×dims) the
    kernel routes to the block-partitioned twin instead (query-block ×
    corpus-block groups, local top-k per group, global window — no
    driver matrix), so the same call survives a 100× query table
    without a code change. At 100 TB the corpus side stays a scan with
    NO shuffle of corpus rows on the broadcast path. Within-batch ties
    resolve by np.lexsort on (-cosine, neighbor_id) — identical total
    order to the JVM window.

    ``quantize_dp``: round cosines half-even to that many decimals
    BEFORE ranking, and emit them at that precision instead of 4 dp —
    the family's oracle-reproducibility convention (an ANSI-SQL twin
    ranking on ROUND(cosine, dp) then matches the selection exactly;
    unquantized full-precision ranking is one summation-order ulp away
    from picking a different neighbor at a tie).

    ``shape_hint``: an UPPER-BOUND (rows, dims) for the query side that
    skips the _mat_shape probe job — the probe is a full re-evaluation
    of the query frame's lineage, so callers that know the bound from
    cheap source metadata (parquet footer row counts) avoid two extra
    Spark jobs per call. Overestimation is safe: it can only route to
    the blocked twin earlier."""
    if shape_hint is not None:
        nq, dq = shape_hint
    else:
        nq, dq = _mat_shape(queries, vec_col)
    if nq * dq > max_broadcast_cells:
        return _cosine_topk_blas_blocked(
            corpus, queries, k=k, id_col=id_col, vec_col=vec_col, n_q=nq,
            quantize_dp=quantize_dp,
        )
    sess = corpus.sparkSession
    qrows = sorted(
        queries.select(id_col, vec_col).collect(), key=lambda r: r[id_col]
    )
    qids = [int(r[id_col]) for r in qrows]
    qmat = np.array([list(map(float, r[vec_col])) for r in qrows])
    # broadcast row-normalized queries: matmul output IS the cosine
    # (bandwidth discipline, see _cosine_tau_pairs_blocked.group_pairs)
    qmh = qmat * (1.0 / np.sqrt((qmat * qmat).sum(axis=1)))[:, None]
    bq = sess.sparkContext.broadcast((np.array(qids, dtype=np.int64), qmh))

    def batch_topk(batches):
        ids, qm = bq.value
        for pdf in batches:
            nid = pdf["neighbor_id"].to_numpy(dtype=np.int64)
            m = np.array(pdf["cv"].tolist(), dtype=np.float64)
            if len(m) == 0:
                continue
            mh = m * (1.0 / np.sqrt((m * m).sum(axis=1)))[:, None]
            sims = mh @ qm.T  # (b, q)
            if quantize_dp is not None:
                sims = np.round(sims, quantize_dp)
            sims[nid[:, None] == ids[None, :]] = -np.inf  # self-match mask
            kk = min(k, len(nid))
            out_q, out_n, out_c = [], [], []
            for j in range(len(ids)):
                order = np.lexsort((nid, -sims[:, j]))[:kk]
                keep = order[np.isfinite(sims[order, j])]
                out_q.append(np.full(len(keep), ids[j], dtype=np.int64))
                out_n.append(nid[keep])
                out_c.append(sims[keep, j])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "cosine": np.concatenate(out_c),
                }
            )

    from pyspark.sql import Window as W

    cand = spread(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).cast("array<double>").alias("cv"),
        )
    ).mapInPandas(
        batch_topk, "query_id long, neighbor_id long, cosine double"
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "rank", "neighbor_id",
            F.round("cosine", quantize_dp or 4).alias("cosine"),
        )
    )


def _cosine_topk_blas_blocked(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int,
    id_col: str,
    vec_col: str,
    n_q: int,
    quantize_dp: int | None = None,
) -> DataFrame:
    """Above-gate twin of cosine_topk_blas: neither side collects.
    Queries hash into Bq blocks and corpus into Bc blocks; each query
    row ships Bc copies and each corpus row Bq copies, so every
    (qb, cb) group holds one query block × one corpus block and scores
    it with a local matmul, emitting its per-query LOCAL top-k (global
    top-k ⊆ union of per-group top-k — the same selection-semilattice
    identity the broadcast path uses per batch). A final window ranks
    the Bq·Bc·Q·k candidate rows. Same self-match mask, quantization
    and lexsort total order as the broadcast path — pinned equal in
    tests/test_operators.py."""
    from pyspark.sql import Window as W

    nc, _ = _mat_shape(corpus, vec_col)
    bq_n = _n_blocks(n_q)
    bc_n = _n_blocks(nc)
    q = queries.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("e"),
        F.lit(1).alias("_isq"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(bq_n)).cast("int").alias("_qb"),
        F.explode(F.sequence(F.lit(0), F.lit(bc_n - 1))).alias("_cb"),
    )
    c = corpus.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("e"),
        F.lit(0).alias("_isq"),
        F.explode(F.sequence(F.lit(0), F.lit(bq_n - 1))).alias("_qb"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(bc_n)).cast("int").alias("_cb"),
    )

    def group_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        isq = pdf["_isq"].to_numpy().astype(bool)
        ids = pdf["_id"].to_numpy(dtype=np.int64)
        m = np.stack(pdf["e"].to_numpy())
        # same normalize-once arithmetic as the broadcast path (the two
        # paths are equality-pinned; keep their float paths identical)
        mh = m * (1.0 / np.sqrt((m * m).sum(axis=1)))[:, None]
        qi = np.nonzero(isq)[0]
        ci = np.nonzero(~isq)[0]
        if len(qi) == 0 or len(ci) == 0:
            return pd.DataFrame(
                {"query_id": [], "neighbor_id": [], "cosine": []}
            ).astype({"query_id": np.int64, "neighbor_id": np.int64, "cosine": np.float64})
        sims = mh[qi] @ mh[ci].T
        if quantize_dp is not None:
            sims = np.round(sims, quantize_dp)
        sims[ids[qi][:, None] == ids[ci][None, :]] = -np.inf
        nid = ids[ci]
        kk = min(k, len(ci))
        out_q, out_n, out_c = [], [], []
        for j in range(len(qi)):
            order = np.lexsort((nid, -sims[j]))[:kk]
            keep = order[np.isfinite(sims[j][order])]
            out_q.append(np.full(len(keep), ids[qi[j]], dtype=np.int64))
            out_n.append(nid[keep])
            out_c.append(sims[j][keep])
        return pd.DataFrame(
            {
                "query_id": np.concatenate(out_q),
                "neighbor_id": np.concatenate(out_n),
                "cosine": np.concatenate(out_c),
            }
        )

    cand = q.unionByName(c).groupBy("_qb", "_cb").applyInPandas(
        group_topk, "query_id long, neighbor_id long, cosine double"
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "rank", "neighbor_id",
            F.round("cosine", quantize_dp or 4).alias("cosine"),
        )
    )


def label_centroids(
    embeddings: DataFrame, *, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Per-label elementwise mean as (label, dim, centroid_val) long form —
    posexplode + groupBy, one shuffle keyed (label, dim).

    The 4-dp mean is computed over per-value integer quantizations
    (floor(v*1e9), exact BIGINT sums, half-away integer division) instead
    of ROUND(AVG(double), 4): float partial-sum order differs between
    engines and partitionings, and at sf0.1 one (label, dim) cell's true
    mean lands exactly on a .00005 boundary where Spark's half-up and the
    oracle's half-even disagree. Quantizing per VALUE makes the sum — and
    therefore the boundary decision — bit-deterministic everywhere, and
    the `+ 0.0` clears IEEE -0.0 on the negative-rounds-to-zero cells."""
    exploded = embeddings.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("dim", "v"),
    )
    g = exploded.groupBy("label", "dim").agg(
        F.sum(F.floor(F.col("v") * 1000000000).cast("long")).alias("num"),
        F.count(F.lit(1)).alias("n"),
    )
    e4 = F.expr(
        "CASE WHEN num < 0"
        " THEN -((2 * (-num) * 10000 + n * 1000000000) DIV (2 * n * 1000000000))"
        " ELSE (2 * num * 10000 + n * 1000000000) DIV (2 * n * 1000000000) END"
    )
    return g.select(
        "label", "dim", (e4 / 10000.0 + 0.0).alias("centroid_val")
    )


def lsh_signed_random_buckets(
    embeddings: DataFrame,
    *,
    n_planes: int = 12,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane LSH: bucket = sign-bit pattern of n_planes dot
    products. Plane matrix is a deterministic literal (numpy seeded) —
    embedded in the plan, broadcast with it."""
    rng = np.random.RandomState(seed)
    planes = rng.standard_normal((n_planes, dim))
    v = F.col(vec_col).cast("array<double>")
    bits = []
    for p in range(n_planes):
        plane = F.array(*[F.lit(float(x)) for x in planes[p]])
        bits.append(
            F.when(_dot(v, plane) > 0, F.shiftleft(F.lit(1), p)).otherwise(F.lit(0))
        )
    bucket = bits[0]
    for b in bits[1:]:
        bucket = bucket.bitwiseOR(b)
    return embeddings.select(F.col(id_col).alias("vec_id"), bucket.alias("bucket"))


def ivf_centroids(
    corpus: DataFrame, *, n_lists: int = 16, seed: int = 42,
    vec_col: str = "embedding",
) -> DataFrame:
    """Train the IVF coarse quantizer (seeded k-means) and return the
    centroid table (list_id, centroid) — small by construction, broadcast
    at use sites. Training cost is one MLlib fit over the corpus; at
    100 TB you fit on a sample (k-means centroids converge on far less
    data than the full corpus). The fitted centroids are a persisted
    parquet ARTIFACT (operators/artifacts.py) keyed by the corpus file
    set + hyperparameters — written once, read back by every later query
    and session, exactly like an index file; timings are therefore
    independent of process reuse. A corpus without a stable file set
    (in-memory frames) trains without persisting."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from .artifacts import load_or_train_rows

    def _train() -> list[tuple]:
        train = corpus.select(
            array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
        )
        model = KMeans(k=n_lists, seed=seed, maxIter=10).fit(train)
        return [
            (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
        ]

    try:
        key = (tuple(sorted(corpus.inputFiles())), n_lists, seed, vec_col)
    except Exception:
        key = None
    if key is not None:
        rows = load_or_train_rows("ivf_centroids", key, _train, ("list_id", "centroid"))
    else:
        rows = _train()
    return corpus.sparkSession.createDataFrame(
        rows, "list_id int, centroid array<double>"
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-k: each corpus vector lives in exactly one
    inverted list (its max-cosine centroid); each query probes its n_probe
    best lists and scores exactly within them. The corpus-side work is an
    equi-join on list_id — the scanned fraction is ~n_probe/n_lists. With
    n_probe == n_lists the probed lists cover every corpus vector exactly
    once, so results equal the brute-force cosine_topk (asserted in
    tests)."""
    from pyspark.sql import Window as W

    cents = centroids if centroids is not None else ivf_centroids(
        corpus, n_lists=n_lists, seed=seed, vec_col=vec_col
    )

    def best_lists(side: DataFrame, out_id: str, out_vec: str, n: int) -> DataFrame:
        scored = (
            side.select(
                F.col(id_col).alias(out_id),
                F.col(vec_col).cast("array<double>").alias(out_vec),
            )
            .crossJoin(F.broadcast(cents))
            .withColumn(
                "_sim",
                _dot(F.col(out_vec), F.col("centroid"))
                / (_norm(F.col(out_vec)) * _norm(F.col("centroid"))),
            )
        )
        w = W.partitionBy(out_id).orderBy(F.col("_sim").desc(), F.col("list_id"))
        return (
            scored.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") <= n)
            .select(out_id, out_vec, "list_id")
        )

    c = best_lists(corpus, "neighbor_id", "cv", 1)
    q = best_lists(queries, "query_id", "qv", n_probe)
    scored = (
        F.broadcast(q)
        .join(c, "list_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            _dot(F.col("qv"), F.col("cv")) / (_norm(F.col("qv")) * _norm(F.col("cv"))),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", F.round("cosine", 4).alias("cosine"))
    )


def lsh_multitable_planes(
    n_tables: int, n_planes: int, dim: int, seed: int = 42
) -> list[np.ndarray]:
    """Deterministic hyperplane sets for L-table LSH — one (n_planes, dim)
    matrix per table, drawn sequentially from a single seeded RandomState so
    Spark plans and SQL oracles can reproduce identical constants."""
    rng = np.random.RandomState(seed)
    return [rng.standard_normal((n_planes, dim)) for _ in range(n_tables)]


# Scaled-plane partitioning for the semdedup family: fixed plane counts
# make bucket population PROPORTIONAL to the corpus (N/2^p), so the
# within-bucket matmul grows quadratically with data — the round-7
# scalecheck measured the fixed-3-plane recall row at 18.9x for 3x data.
# The plane count instead grows with N so expected bucket population
# stays <= SEMDEDUP_TARGET_BUCKET and per-bucket work is bounded:
# total within-bucket work ~ N * target, linear in N.
SEMDEDUP_TARGET_BUCKET = 512
SEMDEDUP_MIN_PLANES = 3
SEMDEDUP_MAX_PLANES = 12


def scaled_n_planes(
    n_rows: int,
    *,
    target_bucket: int = SEMDEDUP_TARGET_BUCKET,
    lo: int = SEMDEDUP_MIN_PLANES,
    hi: int = SEMDEDUP_MAX_PLANES,
) -> int:
    """Smallest p in [lo, hi] with n_rows <= target_bucket * 2**p —
    pure-integer so the SQL oracle's replay (a VALUES tier scan with the
    same inequality) agrees for every N with no float-log edge cases."""
    for p in range(lo, hi):
        if n_rows <= target_bucket * (1 << p):
            return p
    return hi


def lsh_planes_prefix(
    n_tables: int, max_planes: int, dim: int, seed: int = 42
) -> np.ndarray:
    """One CONTIGUOUS (n_tables, max_planes, dim) draw: each table's
    first p planes are identical for every p <= max_planes, so a single
    set of baked oracle literals (all max_planes rows) serves every
    scale tier — the oracle selects pid < p at runtime instead of baking
    per-tier constants. (lsh_multitable_planes draws per-table
    sequentially and has no such prefix property across tables.)"""
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_tables, max_planes, dim))


def lsh_multitable_buckets(
    df: DataFrame,
    *,
    n_tables: int = 16,
    n_planes: int = 4,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: np.ndarray | None = None,
) -> DataFrame:
    """L-table OR-construction LSH: each vector lands in one bucket per
    table (bucket id namespaced as ``t << n_planes | sign_bits``), emitted
    as L (vec_id, bucket) rows via a single explode. Only ids travel —
    the L-way row multiplication never carries the vector payload, so the
    shuffle cost is L × 16 bytes/vector, not L × the embedding.

    Two physical paths, chosen by total plane count:

    - ≤ 16 planes (the semdedup/space-partition configs): pure JVM
      zip_with/aggregate dot-product expressions — no Python boundary at
      all, and the SEQUENTIAL fold order matches DuckDB's
      list_dot_product exactly (the numpy matmul's blocked summation only
      agrees up to the last ulp). Measured: removes ~3 s of fixed
      Arrow/worker overhead per query on the 500-row embeddings fixture.
    - > 16 planes (the 64-plane ANN tables): ONE Arrow-batched numpy
      matmul per partition ((batch × dim) @ (dim × L·b)) —
      n_tables·n_planes sequential-fold expressions in the JVM overflow
      whole-stage codegen's method budget and run interpreted, measured
      ~5× slower at 64 total planes. ANN bucketing stays a declared
      Python-boundary family (vectorized, never per-row).

    ``planes`` overrides the default seeded draw with an explicit
    (n_tables, n_planes, dim) array — the scaled-plane semdedup path
    passes a prefix slice of lsh_planes_prefix here."""
    from pyspark.sql.functions import pandas_udf

    if planes is not None:
        n_tables, n_planes, dim = planes.shape
        planes_by_table = [planes[t] for t in range(n_tables)]
    else:
        planes_by_table = lsh_multitable_planes(n_tables, n_planes, dim, seed)
    if n_tables * n_planes <= 16:
        # One SQL string → one parse → one compact Catalyst tree. Building
        # the same thing from 768 F.lit() calls costs ~2 s of Py4J round
        # trips at plan-build time and bloats codegen; the parsed literal
        # array is cheap on both counts.
        all_planes = np.concatenate(planes_by_table, axis=0)
        planes_sql = ", ".join(
            "array(" + ", ".join(repr(float(x)) + "D" for x in row) + ")"
            for row in all_planes
        )
        bucket_expr = f"""
        transform(sequence(0, {n_tables - 1}), t ->
          CAST(t * {1 << n_planes} AS BIGINT) +
          aggregate(sequence(0, {n_planes - 1}), CAST(0 AS BIGINT),
            (acc, p) -> acc + IF(
              aggregate(zip_with(CAST({vec_col} AS array<double>),
                                 array({planes_sql})[t * {n_planes} + p],
                                 (x, y) -> x * y),
                        0D, (a, v) -> a + v) > 0,
              shiftleft(CAST(1 AS BIGINT), p), CAST(0 AS BIGINT))))
        """
        return df.select(
            F.col(id_col).alias("vec_id"),
            F.explode(F.expr(bucket_expr)).alias("bucket"),
        )
    all_planes = np.concatenate(planes_by_table, axis=0)  # (L*b, dim)
    base = np.array([t << n_planes for t in range(n_tables)], dtype=np.int64)
    weights = np.array([1 << p for p in range(n_planes)], dtype=np.int64)

    @pandas_udf("array<long>")
    def bucket_ids(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy())  # (n, dim), float64
        bits = (m @ all_planes.T) > 0  # (n, L*b)
        bits = bits.reshape(len(m), n_tables, n_planes)
        buckets = base[None, :] + (bits * weights[None, None, :]).sum(axis=2)
        return pd.Series(list(buckets))

    return df.select(
        F.col(id_col).alias("vec_id"),
        F.explode(bucket_ids(F.col(vec_col).cast("array<double>"))).alias("bucket"),
    )


def ann_lsh_multitable_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    n_tables: int = 16,
    n_planes: int = 4,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k with L-table LSH: a pair is a candidate if it
    collides in ANY table (P[miss] = (1 - p^b)^L). Candidates are
    deduplicated on (query_id, neighbor_id) BEFORE scoring, then vectors
    are fetched back by id-join — each surviving pair is scored exactly
    once, and the exploded bucket stream never carries embeddings.
    Recall/candidate-fraction tradeoff is quantified by the
    vec_ann_recall_lsh query."""
    from pyspark.sql import Window as W

    kw = dict(n_tables=n_tables, n_planes=n_planes, dim=dim, seed=seed,
              id_col=id_col, vec_col=vec_col)
    cb = lsh_multitable_buckets(corpus, **kw).withColumnRenamed("vec_id", "neighbor_id")
    qb = lsh_multitable_buckets(queries, **kw).withColumnRenamed("vec_id", "query_id")
    cand = (
        F.broadcast(qb)
        .join(cb, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).cast("array<double>").alias("cv")
    )
    scored = (
        cand.join(F.broadcast(q), "query_id")
        .join(c, "neighbor_id")
        .withColumn(
            "cosine", _dot(F.col("qv"), F.col("cv")) / (_norm(F.col("qv")) * _norm(F.col("cv")))
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", F.round("cosine", 4).alias("cosine"))
    )


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    n_planes: int = 12,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: compare only vectors sharing an LSH bucket.
    Recall < 1 by construction (single probe); the scale win is that the
    join is an equi-join on bucket instead of a cross join."""
    from pyspark.sql import Window as W

    cb = lsh_signed_random_buckets(corpus, n_planes=n_planes, dim=dim, id_col=id_col, vec_col=vec_col)
    qb = lsh_signed_random_buckets(queries, n_planes=n_planes, dim=dim, id_col=id_col, vec_col=vec_col)
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).cast("array<double>").alias("cv")).join(
        cb.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id"
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qv")).join(
        qb.withColumnRenamed("vec_id", "query_id"), "query_id"
    )
    scored = (
        F.broadcast(q)
        .join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", _dot(F.col("qv"), F.col("cv")) / (_norm(F.col("qv")) * _norm(F.col("cv"))))
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", F.round("cosine", 4).alias("cosine"))
    )


def cosine_tau_pairs_within(
    grouped: DataFrame, *, tau: float, bucket_col: str = "bucket",
    probe_col: str | None = None,
) -> DataFrame:
    """(vec_a, vec_b) id pairs with quantized cosine >= tau, compared only
    WITHIN each ``bucket_col`` group of ``grouped`` (vec_id, bucket, e) —
    the shared within-partition kernel for SemDeDup and for brute-force
    audit tiers (pass a constant bucket to get exact all-pairs). One
    chunked BLAS matmul per group; memory is bounded at chunk x group,
    and only the pairs that survive the tau cut leave Python. Cosines are
    rounded half-even to 8 dp before the comparison so the result is
    reproducible against a sequential-fold SQL oracle that applies the
    same ROUND.

    ``probe_col`` (optional boolean column) makes the comparison
    ASYMMETRIC: only probe rows form the chunked side, scored against
    every row in the bucket — probe×probe pairs emit once (lower id
    first), probe×non-probe pairs emit regardless of id order (as
    (min, max)), and non-probe×non-probe pairs are NEVER computed. This
    is the incremental-dedup shape: matmul work scales with
    |probe| x |bucket|, not |bucket|²."""

    def _bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        m = np.stack(pdf["e"].to_numpy())
        # normalize once; sparse-round candidates (see group_pairs in
        # _cosine_tau_pairs_blocked — this host streams DRAM at
        # ~300 MB/s/core, so full-matrix divide/round passes dominate)
        mh = m * (1.0 / np.sqrt((m * m).sum(axis=1)))[:, None]
        if probe_col is None:
            probe_rows = np.arange(len(ids))
            probe_mask = None
        else:
            pm = pdf[probe_col].to_numpy().astype(bool)
            probe_rows = np.nonzero(pm)[0]
            probe_mask = pm
        out_a: list[np.ndarray] = []
        out_b: list[np.ndarray] = []
        chunk = 2048
        for i0 in range(0, len(probe_rows), chunk):
            rows = probe_rows[i0 : i0 + chunk]
            raw = mh[rows] @ mh.T
            ii, jj = np.nonzero(raw >= tau - 1e-8)
            sel = np.round(raw[ii, jj], 8) >= tau
            ii, jj = ii[sel], jj[sel]
            a, bb = ids[rows[ii]], ids[jj]
            if probe_mask is None:
                keep = a < bb  # each unordered pair exactly once
            else:
                # probe×probe once (lower id first); probe×non-probe
                # always (the reversed roles are never enumerated)
                keep = (a != bb) & ((a < bb) | ~probe_mask[jj])
            out_a.append(np.minimum(a[keep], bb[keep]))
            out_b.append(np.maximum(a[keep], bb[keep]))
        return pd.DataFrame(
            {
                "vec_a": np.concatenate(out_a) if out_a else np.array([], dtype=np.int64),
                "vec_b": np.concatenate(out_b) if out_b else np.array([], dtype=np.int64),
            }
        )

    return grouped.groupBy(bucket_col).applyInPandas(
        _bucket_pairs, "vec_a long, vec_b long"
    )


def cosine_tau_pairs_exact(
    vecs: DataFrame, *, tau: float, id_col: str = "vec_id",
    vec_col: str = "e", emit_cosine: bool = False,
    max_broadcast_cells: int = _BROADCAST_CELLS_MAX,
    shape_hint: tuple[int, int] | None = None,
) -> DataFrame:
    """Exact all-pairs (vec_a, vec_b) with ROUND(cosine, 8) >= tau —
    the PARALLEL audit-tier twin of cosine_tau_pairs_within's
    constant-bucket trick: that shape puts the whole corpus in ONE
    applyInPandas group, so the N×N matmul runs single-threaded (the
    sf1.0 20 k-vector audit measured ~15 s in one task). Here the
    corpus broadcasts as one matrix (N×64 doubles — 10 MB at 20 k, the
    broadcast-join size class) and every Arrow batch matmuls its rows
    against it, emitting each unordered pair once from its lower-id
    side, so the work spreads over all input partitions. Identical
    8-dp round-half-even quantization before the tau cut (the family
    convention: an oracle comparing against this kernel must also cut
    on ROUND(cosine, 8) — a raw-threshold oracle is one last-ulp
    summation-order divergence away from a borderline-pair flip).
    ``emit_cosine`` adds the quantized cosine as a third column.

    SIZE-GATED: the corpus broadcast is the bound here, so above
    ``max_broadcast_cells`` (rows×dims) the call routes to the
    block-partitioned twin _cosine_tau_pairs_blocked — identical
    output (pinned in tests), no driver matrix, per-task memory
    bounded at 2·|block|·dim — and therefore survives a 100× larger
    embeddings table without a code change.

    ``shape_hint``: (rows, dims) upper bound that skips the _mat_shape
    probe job (exact when the caller passes a whole-table frame and
    reads the parquet footer; overestimation only gates earlier /
    blocks finer)."""
    if shape_hint is not None:
        n_rows, dims = shape_hint
    else:
        n_rows, dims = _mat_shape(vecs, vec_col)
    if n_rows * dims > max_broadcast_cells:
        return _cosine_tau_pairs_blocked(
            vecs, tau=tau, id_col=id_col, vec_col=vec_col,
            emit_cosine=emit_cosine, n_rows=n_rows,
        )
    sess = vecs.sparkSession
    rows = vecs.select(id_col, vec_col).collect()
    ids = np.array([int(r[id_col]) for r in rows], dtype=np.int64)
    order = np.argsort(ids)
    ids = ids[order]
    m = np.array([list(map(float, r[vec_col])) for r in rows])[order]
    # broadcast the row-NORMALIZED matrix: matmul output is the raw
    # cosine, candidates are sparse-rounded (the blocked twin's
    # bandwidth discipline — full-matrix divide/round passes dominate
    # on this host)
    amh = m * (1.0 / np.sqrt((m * m).sum(axis=1)))[:, None]
    bc = sess.sparkContext.broadcast((ids, amh))

    def pairs(batches):
        aid, am = bc.value
        for pdf in batches:
            bid = pdf[id_col].to_numpy(dtype=np.int64)
            if len(bid) == 0:
                continue
            bm = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            bmh = bm * (1.0 / np.sqrt((bm * bm).sum(axis=1)))[:, None]
            raw = bmh @ am.T
            ii, jj = np.nonzero(
                (raw >= tau - 1e-8) & (bid[:, None] < aid[None, :])
            )
            cos = np.round(raw[ii, jj], 8)
            sel = cos >= tau
            ii, jj, cos = ii[sel], jj[sel], cos[sel]
            out = {"vec_a": bid[ii], "vec_b": aid[jj]}
            if emit_cosine:
                out["cosine"] = cos
            yield pd.DataFrame(out)

    schema = "vec_a long, vec_b long" + (
        ", cosine double" if emit_cosine else ""
    )
    return spread(vecs.select(id_col, vec_col)).mapInPandas(
        pairs, schema
    )


def semdedup_bucketed(
    corpus: DataFrame,
    *,
    tau: float = 0.45,
    n_tables: int = 4,
    n_planes: int | None = 3,
    dim: int = 64,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_rows: int | None = None,
) -> DataFrame:
    """SemDeDup-style embedding dedup (Abbas et al. 2023: partition the
    embedding space, compare pairs only WITHIN a partition, drop all but
    one of each semantic-duplicate group). The space partitioner here is
    L-table hyperplane LSH instead of k-means so the whole path — bucket
    assignment, candidate pairs, cosine cut, keeper policy — is
    reproducible from literal constants by an ANSI-SQL oracle.

    Scale shape — the SemDeDup-canonical within-partition matmul: vectors
    are shuffled ONCE per table-bucket (L copies each), then every
    bucket's pairwise cosine matrix is computed by a chunked BLAS matmul
    inside one Arrow batch — the pair stream that leaves Python already
    has the tau cut applied, so candidate pairs never materialize as
    rows. (The previous shape joined vectors back per candidate pair and
    scored each with an interpreted fold: at a collision-dense
    configuration — 2000 fixture vectors produced 831k candidates — that
    shuffled the payload per PAIR and was ~5x slower.) A mega-bucket is
    processed in 2048-row chunks so worker memory stays bounded at
    chunk x bucket, not bucket^2; at true corpus scale the plane count
    (or an IVF/k-means partitioner) bounds the bucket population itself.
    Keeper policy is deterministic min-id: a vector is dropped iff some
    LOWER-id vector shares a bucket (any table) at cosine >= tau, so the
    survivor set is unique regardless of partitioning or join order.
    Cosines are quantized to 8 dp before the tau comparison (numpy and
    DuckDB both round half-even) so a last-ulp summation-order divergence
    between the matmul and the oracle's sequential fold cannot flip a
    borderline pair.

    Returns one row per corpus vector: (vec_id, is_kept, witness_id,
    n_dups) where witness_id = the smallest lower-id duplicate for
    dropped rows (NULL when kept) and n_dups = how many lower-id
    duplicates nominated the drop.

    ``n_planes=None`` selects the SCALED partition: p = scaled_n_planes(
    count(corpus)) planes drawn as a prefix of lsh_planes_prefix, so
    expected bucket population stays <= SEMDEDUP_TARGET_BUCKET at any
    corpus size (within-bucket work linear in N, not quadratic) and the
    oracle replays the identical p from the same COUNT(*). Callers that
    know the corpus size (e.g. from tables.footer_shape's parquet-footer
    read) pass ``corpus_rows`` so building this DataFrame stays lazy —
    these queries are declared python_boundary, not eager, and plan
    dumps / EXPLAIN tooling should not pay a Spark job. Without the hint
    the count is one cheap job (parquet footer counts); a fixed
    n_planes skips it entirely."""
    if n_planes is None:
        p = scaled_n_planes(corpus_rows if corpus_rows is not None else corpus.count())
        pl = lsh_planes_prefix(n_tables, SEMDEDUP_MAX_PLANES, dim, seed)[:, :p, :]
        b = lsh_multitable_buckets(
            corpus, planes=pl, id_col=id_col, vec_col=vec_col
        )
    else:
        kw = dict(n_tables=n_tables, n_planes=n_planes, dim=dim, seed=seed,
                  id_col=id_col, vec_col=vec_col)
        b = lsh_multitable_buckets(corpus, **kw)
    vecs = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("e"),
    )
    pairs = cosine_tau_pairs_within(b.join(vecs, "vec_id"), tau=tau)
    dup = (
        pairs.distinct()  # a pair can collide in several tables — count once
        .groupBy(F.col("vec_b").alias("vec_id"))
        .agg(F.min("vec_a").alias("witness_id"), F.count(F.lit(1)).alias("n_dups"))
    )
    return (
        corpus.select(F.col(id_col).alias("vec_id"))
        .join(dup, "vec_id", "left")
        .select(
            "vec_id",
            F.col("witness_id").isNull().alias("is_kept"),
            "witness_id",
            F.coalesce("n_dups", F.lit(0)).alias("n_dups"),
        )
    )
