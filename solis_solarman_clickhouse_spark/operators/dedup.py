"""Deduplication operators for training-data pipelines (SURVEY.md §2-C
Q-DOC-1/3 and the north-star dedup family).

``exact_dedup`` groups byte-identical docs (one shuffle on sha2(text)).
Every near-dup operator is one pipeline — signature, band, candidate
pairs, exact verification — and each stage is written once here:

1. Signatures: ``minhash_signatures`` (doc_id, g0..gN) and
   ``simhash_fingerprints`` (doc_id, simhash). The base hash is the only
   per-family input: ``F.xxhash64`` for the production rows,
   ``portable_hash`` (md5, replayable in DuckDB) for the exact-oracle rows.
2. Bands: ``minhash_bands`` keys a bucket on exact equality of a band's
   concatenated values; ``hamming_band_pairs`` cuts a 64-bit fingerprint
   into four 16-bit bands. ``simhash_pairs_exact`` keeps a pigeonhole
   self-join (its comment gives the measured reason).
3. Candidate pairs: ``in_bucket_pairs`` expands each bucket once
   (``minhash_candidate_pairs`` for MinHash bands); the exact Jaccard
   paths generate candidates straight from the ``shingle_index`` inverted
   index (fused self-join, or the PPJoin prefix filter).
4. Verification: ``_jaccard_scores`` joins per-doc shingle counts to a
   pair's |A∩B| and keeps pairs at or above the threshold by integer
   cross-multiplication at 1e-6 precision (bit-identical on both engines),
   emitting ``round(jaccard, 4)``; Hamming pairs verify by popcount.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..caching import tracked_persist
from ..tables import spread
from .text import word_shingles


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical docs: keeper = min id, n_copies per group."""
    h = F.sha2(F.col(text_col), 256)
    return (
        docs.groupBy(h.alias("text_sha256"))
        .agg(F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def shingle_index(
    docs: DataFrame, *, k: int = 3, text_col: str = "text", id_col: str = "doc_id",
    hashed: bool = False,
) -> DataFrame:
    """(doc_id, shingle) inverted index over distinct k-word shingles.

    hashed=True emits xxhash64(shingle) instead of the string — join keys
    shrink to 8 bytes, cutting the self-join shuffle ~2.7x (measured at
    sf0.1). Collision odds over d distinct shingles ≈ d²/2⁶⁵ (~1e-8 at
    1e5 docs); at true 100 TB shingle cardinality switch to a 128-bit
    hash (two xxhash64 seeds) before trusting intersection counts."""
    sh = F.explode(word_shingles(F.col(text_col), k)).alias("shingle")
    out = spread(docs, id_col).select(F.col(id_col).alias("doc_id"), sh)
    if hashed:
        out = out.select("doc_id", F.xxhash64("shingle").alias("shingle"))
    return out


def _with_sizes(pairs: DataFrame, idx: DataFrame) -> DataFrame:
    """``pairs`` (doc_a, doc_b, ...) plus each side's distinct-shingle
    count from the index: ``n_a`` for doc_a, ``n_b`` for doc_b."""
    sizes = idx.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    return pairs.join(sa, "doc_a").join(sb, "doc_b")


def _jaccard_cut(pairs: DataFrame, threshold: float) -> DataFrame:
    """(doc_a, doc_b, jaccard) for the rows of ``pairs`` — carrying
    n_inter = |A∩B| and the sizes n_a, n_b — whose Jaccard clears
    ``threshold``. |A∪B| = n_a + n_b − n_inter; the cut is an integer
    cross-multiplication at e6 threshold precision, so no float ratio
    gates a row and the cut is bit-identical on both engines (at 0.8 it
    is 5·|A∩B| >= 4·|A∪B|)."""
    t_e6 = int(round(threshold * 1_000_000))
    union = F.col("n_a") + F.col("n_b") - F.col("n_inter")
    return pairs.where(F.col("n_inter") * 1_000_000 >= F.lit(t_e6) * union).select(
        "doc_a", "doc_b", F.round(F.col("n_inter") / union, 4).alias("jaccard")
    )


def _jaccard_scores(inter: DataFrame, idx: DataFrame, *, threshold: float) -> DataFrame:
    """The verification tail every exact-Jaccard path shares: per-doc
    sizes from ``idx`` joined to an (doc_a, doc_b, n_inter) frame, then
    the _jaccard_cut."""
    return _jaccard_cut(_with_sizes(inter, idx), threshold)


def _fused_intersections(left: DataFrame, right: DataFrame) -> DataFrame:
    """(doc_a, doc_b, n_inter) for every doc_a < doc_b pair sharing a
    shingle, with the intersection count FUSED into candidate generation:
    one index equi-join on the shingle and one Tungsten hash-aggregate over
    the joined stream — no candidate materialization. Volume is
    sum_s df(s)^2."""
    a, b = left.alias("a"), right.alias("b")
    return (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )


def _candidate_intersections(cand: DataFrame, idx: DataFrame) -> DataFrame:
    """``cand`` (doc_a, doc_b, payload...) plus n_inter = |A∩B| through a
    candidate-restricted index join; payload columns ride along as
    grouping keys."""
    keys = cand.columns
    ai, bi = idx.alias("ai"), idx.alias("bi")
    return (
        cand.join(ai, F.col("doc_a") == F.col("ai.doc_id"))
        .join(bi, (F.col("doc_b") == F.col("bi.doc_id")) & (F.col("ai.shingle") == F.col("bi.shingle")))
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )


def exact_jaccard_for_candidates(
    candidates: DataFrame, idx: DataFrame, *, threshold: float
) -> DataFrame:
    """Exact Jaccard over a candidate-pair set using the FULL shingle
    index (verification is never frequency-capped — capping only prunes
    which pairs get considered, never the similarity arithmetic)."""
    return _jaccard_scores(
        _candidate_intersections(candidates, idx), idx, threshold=threshold
    )


def in_bucket_pairs(banded: DataFrame, item, pair) -> DataFrame:
    """Distinct in-bucket pairs from a (band, bucket, ...) candidate stream:
    ONE groupBy collects each bucket's members as a sorted array, then an
    array comprehension expands ordered pairs (x before y, so ids ascend).

    This replaces the banded SELF-JOIN shape measured ~2× slower at sf0.1 —
    the join ran the whole upstream pipeline once per side (broadcast
    exchanges defeat ReuseExchange), the groupBy runs it once, map-side
    combinable. Worst case matches the self-join (a degenerate bucket of d
    members yields d²/2 pairs either way); the collected array costs
    item_size·d bytes in one aggregation buffer, negligible long after the
    d² pair stream itself has become the problem.

    SKEW CAVEAT: each bucket's pair expansion runs inside ONE task, so
    this shape requires fine-grained buckets (whole MinHash bands,
    16-bit+ Hamming bands). With coarse buckets (e.g. the 6-7-bit pigeonhole
    bands of simhash_pairs_exact, ≤128 buckets/band) the biggest bucket
    serializes the stage — measured 2-3× slower than the self-join there;
    that call site keeps the join.

    ``item`` is the per-member expression to collect (id, or a struct
    carrying payload); ``pair(x, y)`` builds the output struct from two
    members with x sorting strictly before y."""
    buckets = (
        banded.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list(item)).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    pairs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + F.lit(2), F.size("ids")),
                lambda y: pair(x, y),
            ),
        )
    )
    return buckets.select(F.explode(pairs).alias("p")).select("p.*").distinct()


def _prefix_index(idx: DataFrame, threshold: float) -> DataFrame:
    """PPJoin prefix of every doc's shingle SET (Xiao et al. 2008, lemma
    1, the same filter the weighted-Jaccard sparse path uses): under the
    GLOBAL rarest-first (df, shingle) order, J(A,B) >= t forces an
    overlap of at least ceil(t*|A|) with any feasible partner, so A must
    share a shingle within its first |A| - ceil(t*|A|) + 1 entries.
    Joining prefixes instead of full index rows cuts the candidate join
    from sum(df^2) to sum(df_prefix^2); on natural Zipfian corpora the
    prefix carries the RARE end of the vocabulary (boilerplate never
    enters a prefix), and even on the degenerate uniform-df bench
    fixture it is a measured ~25x join-volume cut (prefix 20 of ~98
    shingles at t=0.8). The ceil is integer-exact at e6 threshold
    precision. Emits (doc_id, shingle, n) with n = |full set|."""
    from pyspark.sql import Window as W

    t_e6 = int(round(threshold * 1_000_000))
    dfreq = idx.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    sizes = idx.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    w_doc = W.partitionBy("doc_id").orderBy("_df", "shingle")
    return (
        idx.join(dfreq, "shingle")
        .join(sizes, "doc_id")
        .withColumn("_r", F.row_number().over(w_doc))
        .where(F.col("_r") <= F.expr(f"n - (({t_e6} * n + 999999) DIV 1000000) + 1"))
        .select("doc_id", "shingle", "n")
    )


def _pair_intersections(
    cand: DataFrame, idx: DataFrame, *, small_docs: bool
) -> DataFrame:
    """Exact |A∩B| (column ``n_inter``) for a candidate-pair frame carrying
    (doc_a, doc_b, ...): intersection from per-doc shingle ARRAYS
    (array_intersect on 8-byte hashed shingles, JVM-side), NOT a
    candidate-restricted index re-join — the re-join shape multiplies
    every candidate by its shingle count before the group-by (measured
    1.5e9 intermediate rows at sf1.0) while the array join touches each
    candidate once. The per-doc array table is |docs| rows x ~|shingles|
    longs; ``small_docs=True`` broadcasts it (two ~40 MB broadcasts at
    50 k docs beat shipping arrays through a 15 M-row pair shuffle); at
    corpus scale leave False and the pair stream sort-merge-joins it."""
    arrs = idx.groupBy("doc_id").agg(F.collect_list("shingle").alias("_shs"))
    a = arrs.select(F.col("doc_id").alias("doc_a"), F.col("_shs").alias("_sa"))
    b = arrs.select(F.col("doc_id").alias("doc_b"), F.col("_shs").alias("_sb"))
    if small_docs:
        a, b = F.broadcast(a), F.broadcast(b)
    c = F.size(F.array_intersect("_sa", "_sb")).cast("long")
    return (
        cand.join(a, "doc_a").join(b, "doc_b")
        .withColumn("n_inter", c)
        .drop("_sa", "_sb")
    )


def _verify_pairs_by_array(
    cand: DataFrame, idx: DataFrame, *, threshold: float, small_docs: bool
) -> DataFrame:
    """Exact Jaccard filter over candidates carrying (doc_a, doc_b, n_a,
    n_b); |A∩B| via _pair_intersections (see its docstring for why arrays
    beat a candidate-restricted index re-join)."""
    return _jaccard_cut(_pair_intersections(cand, idx, small_docs=small_docs), threshold)


def _jaccard_selfjoin_pairs(idx: DataFrame, *, threshold: float) -> DataFrame:
    """Exact Jaccard pairs via the fused index self-join (no per-pair
    array work). This is the floor plan when document frequencies are
    near-uniform (no rare tail for a prefix filter to exploit — the bench
    fixture's 25 k-shingle vocab at df~=200 is exactly that shape)."""
    return _jaccard_scores(_fused_intersections(idx, idx), idx, threshold=threshold)


def _prefix_join_wins(idx: DataFrame, threshold: float, n_docs: int) -> bool:
    """Measured plan-shape decision between the prefix-filtered and
    fused-self-join Jaccard plans (the wjaccard vocab-size convention,
    generalized): from the DOCUMENT-FREQUENCY table alone (vocab-sized,
    tiny relative to the index), estimate the prefix join volume by
    filling the corpus's total prefix capacity — sum over docs of
    (1-t)*n+1 <= (1-t)*|index| + n_docs — greedily from the rarest
    shingles (a lower bound on the prefix pair-slot volume, i.e.
    optimistic FOR the prefix plan), and compare against the full
    pair-slot volume sum df*(df-1).

    The prefix plan must promise a ~50x volume cut to win: its
    verification costs ~avg_doc_size array ops per CANDIDATE plus a
    distinct shuffle, while the self-join pays ~1 hash-agg op per JOINED
    ROW (measured at sf1.0: 961 M fused rows in 22 s vs ~90 M candidates
    + array verification in 46 s). Zipfian corpora pass the 50x bar by
    orders of magnitude (df=1 tails absorb the whole capacity); bounded
    near-uniform vocabularies fail it and keep the fused plan."""
    t_e6 = int(round(threshold * 1_000_000))
    # ONE aggregation job: the df HISTOGRAM (distinct df values — a few
    # hundred rows at any corpus scale) collects to the driver and the
    # greedy capacity walk runs in plain Python. Pair-slot volume is
    # df*(df-1), NOT df^2: a df=1 bucket joins against nothing, and df=1
    # shingles are exactly the rare tail that absorbs prefix capacity
    # for free on natural corpora.
    hist = (
        idx.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
        .groupBy("_df").agg(F.count(F.lit(1)).alias("_n"))
        .collect()
    )
    inst = sum(r["_df"] * r["_n"] for r in hist)
    vol_full = sum(r["_df"] * (r["_df"] - 1) * r["_n"] for r in hist)
    if not inst or not vol_full:
        return False
    capacity = (1_000_000 - t_e6) * inst // 1_000_000 + n_docs
    cum = 0
    vol_prefix = 0
    for r in sorted(hist, key=lambda r: r["_df"]):
        df, cnt = r["_df"], r["_n"]
        k = min(cnt, max(0, (capacity - cum) // df))
        vol_prefix += k * df * (df - 1)
        cum += k * df
        if k < cnt:
            break
    return vol_prefix * 50 <= vol_full


def _jaccard_prefix_pairs(
    idx: DataFrame, *, threshold: float, small_docs: bool
) -> DataFrame:
    """Exact Jaccard-similar pairs = prefix-filtered candidates (lemma-1
    complete: no qualifying pair can be lost) + array verification, with
    the size filter min >= t*max (implied by J >= t) applied before any
    array ships."""
    t_e6 = int(round(threshold * 1_000_000))
    prefix = _prefix_index(idx, threshold)
    cand = in_bucket_pairs(
        prefix.select(
            F.lit(0).alias("band"), F.col("shingle").alias("bucket"),
            "doc_id", "n",
        ),
        F.struct(F.col("doc_id"), F.col("n")),
        lambda x, y: F.struct(
            x["doc_id"].alias("doc_a"), y["doc_id"].alias("doc_b"),
            x["n"].alias("n_a"), y["n"].alias("n_b"),
        ),
    ).where(
        F.least("n_a", "n_b") * 1_000_000 >= F.lit(t_e6) * F.greatest("n_a", "n_b")
    )
    return _verify_pairs_by_array(
        cand, idx, threshold=threshold, small_docs=small_docs
    )


# Above this many docs the per-doc array table stops being broadcastable
# (100k docs x ~100 shingles x 8 B ~= 80 MB per side) and verification
# falls back to shuffle joins. A row count on the source table decides —
# parquet footer metadata, not a scan.
_BROADCAST_DOCS_MAX = 100_000


def _jaccard_auto(idx: DataFrame, *, threshold: float, n_docs: int) -> DataFrame:
    """Exact Jaccard pairs through whichever physical plan the measured
    df distribution favors (see _prefix_join_wins): prefix-filtered +
    array-verified on rare-tailed (natural) vocabularies, fused
    self-join on near-uniform ones. Both plans are EXACT — the choice
    moves cost, never results."""
    if _prefix_join_wins(idx, threshold, n_docs):
        return _jaccard_prefix_pairs(
            idx, threshold=threshold, small_docs=n_docs <= _BROADCAST_DOCS_MAX
        )
    return _jaccard_selfjoin_pairs(idx, threshold=threshold)


def ngram_jaccard_pairs(
    docs: DataFrame, *, k: int = 3, threshold: float = 0.8,
    text_col: str = "text", id_col: str = "doc_id",
    max_df_frac: float | None = None,
) -> DataFrame:
    """Exact Jaccard-similar pairs via the shingle inverted index.

    TWO exact physical plans, picked by the measured df distribution
    (_prefix_join_wins): PPJoin prefix-filtered candidates
    (_prefix_index — lemma-1 complete) + per-pair array verification on
    rare-tailed natural vocabularies, where the prefix join volume is
    orders of magnitude below the full sum(df²); the fused
    self-join+count on near-uniform vocabularies (the bench fixture:
    25 k shingles at df≈200), where no prefix tail exists and the
    hash-aggregate over the joined stream is the measured floor. The
    join runs on hashed 8-byte shingle keys (see shingle_index
    docstring for collision math).

    ``max_df_frac`` is the hot-shingle frequency cap for 100 TB corpora:
    shingles present in more than that fraction of docs (boilerplate —
    headers, license blurbs) are dropped from CANDIDATE GENERATION only,
    so the self-join never explodes on a shingle shared by millions of
    docs (a shingle in d docs contributes d² join rows). Verification
    then recomputes exact Jaccard on the UNCAPPED index restricted to the
    surviving pairs, so every reported pair carries its true Jaccard. The
    only pairs the cap can lose are those similar EXCLUSIVELY through
    capped boilerplate; byte-identical docs are caught upstream by
    exact_dedup. With the cap unset the single-pass uncapped plan runs.
    """
    # The index feeds many plan subtrees (df histogram, prefix, sizes,
    # verification arrays) — persist it or every subtree re-explodes the
    # corpus: measured ~5 recomputations of a 24 M-row index at 200 k
    # natural-corpus docs before this tracked_persist.
    idx = tracked_persist(
        shingle_index(docs, k=k, text_col=text_col, id_col=id_col, hashed=True)
    )
    n_docs_est = docs.count()
    if max_df_frac is None:
        return _jaccard_auto(idx, threshold=threshold, n_docs=n_docs_est)

    # Capped path. HOT shingles (df > max_df_frac·n_docs) are FEW by
    # construction — at most total-occurrences/(n_docs·frac) of them — so
    # the hot set broadcasts. The plan fuses candidate generation with
    # cold-intersection counting in ONE self-join pass (the same shape as
    # the uncapped plan, minus the d² blowup shingles), then completes
    # each candidate's intersection over the tiny hot index only; naively
    # re-joining candidates against the FULL index instead was measured
    # 8× slower at sf0.1.
    n_docs = docs.select(F.countDistinct(F.col(id_col)).alias("_n_docs"))
    hot = (
        idx.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("_df"))
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("_df") > F.col("_n_docs") * max_df_frac)
        .select("shingle")
    )
    if hot.limit(1).count() == 0:
        # Measured plan-shape decision: with ZERO hot shingles the
        # capped plan is definitionally the uncapped query, so skip the
        # cap machinery (two extra joins and a broadcast) and run the
        # uncapped auto plan. This is the normal case on corpora without
        # boilerplate (every df below the cap); the cap only earns its
        # cost when it actually prunes something.
        return _jaccard_auto(idx, threshold=threshold, n_docs=n_docs_est)
    cold_idx = idx.join(F.broadcast(hot), "shingle", "left_anti")
    hot_idx = idx.join(F.broadcast(hot), "shingle")

    inter_cold = _fused_intersections(cold_idx, cold_idx)
    ha = hot_idx.select(F.col("doc_id").alias("doc_a"), F.col("shingle").alias("_hs"))
    hb = hot_idx.select(F.col("doc_id").alias("doc_b"), F.col("shingle").alias("_hs"))
    inter_hot = (
        inter_cold.select("doc_a", "doc_b")
        .join(F.broadcast(ha), "doc_a")
        .join(F.broadcast(hb), ["doc_b", "_hs"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_hot"))
    )
    inter = (
        inter_cold.join(inter_hot, ["doc_a", "doc_b"], "left")
        .withColumn("n_inter", F.col("n_inter") + F.coalesce(F.col("n_hot"), F.lit(0)))
    )
    return _jaccard_scores(inter, idx, threshold=threshold)


def _containment_selfjoin_pairs(idx: DataFrame, *, threshold: float) -> DataFrame:
    """Directed containment via the full index self-join with the
    intersection count fused into candidate generation — the floor plan
    on near-uniform vocabularies (no rare tail for a prefix to exploit;
    see _jaccard_selfjoin_pairs). The undirected intersection is computed
    once (a<b) and emitted in both directions; the threshold is an
    integer cross-multiplication so no float comparison gates rows."""
    t_e6 = int(round(threshold * 1_000_000))
    sizes = idx.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = _fused_intersections(idx, idx)
    both = inter.unionAll(
        inter.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"), "n_inter"
        )
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    return (
        both.join(sa, "doc_a")
        .where(F.col("n_inter") * 1_000_000 >= F.lit(t_e6) * F.col("n_a"))
        .select(
            F.col("doc_a").alias("contained_id"),
            F.col("doc_b").alias("container_id"),
            F.round(F.col("n_inter") / F.col("n_a"), 4).alias("containment"),
        )
    )


def _containment_prefix_pairs(
    idx: DataFrame, *, threshold: float, small_docs: bool
) -> DataFrame:
    """Directed containment via an asymmetric prefix filter: C(A→B) =
    |A∩B|/|A| >= t forces |A∩B| >= ceil(t*|A|), so at most
    |A| - ceil(t*|A|) of A's shingles can be missing from B — under ANY
    fixed global shingle order, A must share one of its first
    |A| - ceil(t*|A|) + 1 shingles with B. That is the SAME prefix size
    as Jaccard's (reuse _prefix_index, rarest-first order), but the
    candidate join is prefix(A) ⋈ FULL index (B is unfiltered — unlike
    Jaccard, containment puts no lower bound on |B|, so B gets no prefix).
    On Zipfian corpora the prefix carries the rare tail, so the join
    volume is Σ_s prefix_df(s)·(df(s)−1) — exactly the quantity
    _prefix_join_wins lower-bounds with its greedy capacity walk, which
    is why the routing decision carries over verbatim. Each undirected
    candidate is verified ONCE (array intersection) and emitted in
    whichever directions clear the threshold — identical results to the
    fused self-join, different cost."""
    t_e6 = int(round(threshold * 1_000_000))
    p = _prefix_index(idx, threshold).select(
        F.col("doc_id").alias("_p"), "shingle"
    )
    f = idx.select(F.col("doc_id").alias("_f"), "shingle")
    cand = (
        p.join(f, "shingle")
        .where(F.col("_p") != F.col("_f"))
        .select(
            F.least("_p", "_f").alias("doc_a"),
            F.greatest("_p", "_f").alias("doc_b"),
        )
        .distinct()
    )
    # persist: BOTH direction branches of the union read `scored`, and
    # unpersisted each would re-run the candidate join + distinct +
    # array verification from scratch
    scored = tracked_persist(
        _pair_intersections(_with_sizes(cand, idx), idx, small_docs=small_docs)
    )
    d1 = scored.where(
        F.col("n_inter") * 1_000_000 >= F.lit(t_e6) * F.col("n_a")
    ).select(
        F.col("doc_a").alias("contained_id"),
        F.col("doc_b").alias("container_id"),
        F.round(F.col("n_inter") / F.col("n_a"), 4).alias("containment"),
    )
    d2 = scored.where(
        F.col("n_inter") * 1_000_000 >= F.lit(t_e6) * F.col("n_b")
    ).select(
        F.col("doc_b").alias("contained_id"),
        F.col("doc_a").alias("container_id"),
        F.round(F.col("n_inter") / F.col("n_b"), 4).alias("containment"),
    )
    return d1.unionAll(d2)


def containment_pairs(
    docs: DataFrame, *, k: int = 3, threshold: float = 0.8,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """All directed pairs with shingle containment C(A→B) = |A∩B|/|A| >=
    threshold — the asymmetric cousin of Jaccard that catches a document
    QUOTED INSIDE a larger one. Output: (contained_id, container_id,
    containment).

    Same measured dual-path discipline as ngram_jaccard_pairs: on
    rare-tailed (natural Zipfian) vocabularies the prefix-filtered plan
    (_containment_prefix_pairs — lemma-complete, prefix(A) ⋈ full index)
    collapses candidate volume to near-linear (measured 560 k joined
    rows at 200 k docs / 24 M index rows); on near-uniform bounded
    vocabularies (the bench fixture: every shingle df≈100, no rare tail)
    the fused self-join+count is the floor and runs instead. Both plans
    are EXACT — the routing moves cost, never results. The index is
    persisted: the prefix path reads it from ~7 plan subtrees (df
    histogram, prefix ranks, sizes ×2, verification arrays ×2, the full
    join side), and unpersisted each re-ran the corpus explode —
    measured 3× the whole query's runtime at 200 k docs."""
    idx = tracked_persist(
        shingle_index(docs, k=k, text_col=text_col, id_col=id_col, hashed=True)
    )
    n_docs = docs.count()
    if _prefix_join_wins(idx, threshold, n_docs):
        return _containment_prefix_pairs(
            idx, threshold=threshold, small_docs=n_docs <= _BROADCAST_DOCS_MAX
        )
    return _containment_selfjoin_pairs(idx, threshold=threshold)


# Mersenne prime 2^31-1: products a_i * (h % P) stay under 2^62, so the
# linear family below never overflows int64 in either engine.
MINHASH_P = 2_147_483_647
# fixed odd multipliers/offsets (any constants < P work; pinned for
# reproducibility across engines and rounds)
MINHASH_AB = [(2 * i + 1, 7919 * (i + 1) % MINHASH_P) for i in range(64)]


def portable_hash(col: Column) -> Column:
    """ENGINE-PORTABLE 60-bit hash: the top 15 hex chars of md5 as a
    bigint, identical in Spark (conv(substr(md5, 1, 15), 16, 10)) and
    DuckDB (('0x' || substr(md5, 1, 15))::BIGINT). Signatures built on it
    are replayable bit for bit by the DuckDB oracles, so the EXACT-oracle
    rows use it; the production rows use xxhash64, which exists only in
    Spark."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def minhash_signatures(
    docs: DataFrame, *, n_hashes: int = 32, k: int = 3,
    shingle_hash=F.xxhash64, text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc MinHash signature as columns doc_id, g0..g{n_hashes-1}:
    g_i = min over the doc's distinct k-word shingles of
    (a_i·h + b_i) mod P, h = shingle_hash(shingle) mod P (P = 2^31-1).
    ``shingle_hash`` is the family's only input: ``F.xxhash64`` for the
    production path, ``portable_hash`` for the rows whose DuckDB oracle
    replays every signature.

    Shape matters: explode the shingles once, hash each shingle ONCE, and
    derive the n_hashes functions as linear mixes of that single hash —
    the classic universal family. The n_hashes `min()` aggregates then run
    on cheap long arithmetic in the map-side partial aggregation
    (parallel, combine before shuffle). Alternatives measured at sf0.1:
    one `array_min(transform(shingles, hash_i))` per hash function ~9x
    slower (Spark's subexpression elimination won't share subtrees with
    lambda variables, so the shingle array is rebuilt n_hashes times);
    n_hashes separate hashes per shingle ~2x slower (string re-hashing
    dominates).

    Docs with fewer than k tokens have no shingles and drop out (inner
    explode), mirroring the oracle's length filter: an all-null signature
    would put every such doc into one bucket per band."""
    exploded = spread(docs, id_col).select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_shingles(F.col(text_col), k)).alias("_sh"),
    )
    h = F.pmod(shingle_hash(F.col("_sh")), F.lit(MINHASH_P))
    return exploded.select("doc_id", h.alias("_h")).groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("_h") + F.lit(b)) % MINHASH_P).alias(f"g{i}")
            for i, (a, b) in enumerate(MINHASH_AB[:n_hashes])
        ]
    )


def minhash_bands(sigs: DataFrame, bands: int) -> DataFrame:
    """(doc_id, band, bucket) rows of a ``minhash_signatures`` frame cut
    into ``bands`` bands of n_hashes/bands consecutive components. The
    bucket is the band's values joined with ':', so two docs share a
    bucket exactly when they agree on the whole band — the candidate
    definition of the DuckDB oracles."""
    rows = (len(sigs.columns) - 1) // bands
    keys = [
        F.concat_ws(":", *[F.col(f"g{b * rows + r}").cast("string") for r in range(rows)])
        for b in range(bands)
    ]
    return sigs.select("doc_id", F.posexplode(F.array(*keys)).alias("band", "bucket"))


def minhash_candidate_pairs(sigs: DataFrame, bands: int) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs agreeing on at least one whole band
    of ``minhash_bands(sigs, bands)``."""
    return in_bucket_pairs(
        minhash_bands(sigs, bands),
        F.col("doc_id"),
        lambda x, y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
    )


def minhash_lsh_pairs(
    docs: DataFrame, *, n_hashes: int = 32, bands: int = 8, k: int = 3,
    threshold: float = 0.8, text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Candidate pairs via LSH banding, then exact-Jaccard verification.

    bands=8 × rows=4 over 32 hashes → collision prob at j=0.8 per band =
    0.8⁴≈0.41, overall 1-(1-0.41)⁸ ≈ 98.5% recall; false candidates are
    removed by the exact re-check, so precision is 1.0 by construction.

    Candidate generation goes through in_bucket_pairs (one groupBy + array
    pair expansion — see its docstring for the measured win over the
    banded self-join it replaced).
    """
    sigs = minhash_signatures(docs, n_hashes=n_hashes, k=k, text_col=text_col, id_col=id_col)
    candidates = minhash_candidate_pairs(sigs, bands)
    # exact verification restricted to candidates (never frequency-capped)
    idx = shingle_index(docs, k=k, text_col=text_col, id_col=id_col, hashed=True)
    return exact_jaccard_for_candidates(candidates, idx, threshold=threshold)


def minhash_pairs_exact(
    docs: DataFrame, *, n_hashes: int = 16, bands: int = 8, k: int = 3,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """MinHash-LSH near-dup pairs, EXACT-oracle variant: portable_hash
    signatures (16 hashes x 8 bands x 2 rows), banded candidates,
    exact-Jaccard verification with the >= 0.8 cut as integer
    cross-multiplication, so every stage is bit-identical on both engines.
    The Spark side is the sublinear banded plan (shuffle volume scales with
    band-bucket collisions, not |docs|^2); the DuckDB oracle brute-forces
    the same band agreement over all pairs, which is only feasible at
    fixture scale."""
    sigs = minhash_signatures(
        docs, n_hashes=n_hashes, k=k, shingle_hash=portable_hash,
        text_col=text_col, id_col=id_col,
    )
    candidates = minhash_candidate_pairs(sigs, bands)
    # Persisted: the index feeds the size aggregate AND both sides of the
    # verification join — three corpus re-explosions per action without it
    # (the ngram_jaccard_pairs persist discipline; fixed-width hashed rows).
    idx = tracked_persist(
        shingle_index(docs, k=k, text_col=text_col, id_col=id_col, hashed=True)
    )
    return exact_jaccard_for_candidates(candidates, idx, threshold=0.8)


def simhash_fingerprints(
    docs: DataFrame, *, bits: int = 64, token_hash=F.xxhash64,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """``bits``-wide simhash per doc: each whitespace token is hashed once
    by ``token_hash``, each of the low ``bits`` hash bits votes ±1, and a
    fingerprint bit is the sign of its vote sum. ``token_hash`` is the
    family's only input: ``F.xxhash64`` (64 bits) for the production row,
    ``portable_hash`` (60 bits) for the rows whose DuckDB oracle replays
    the fingerprints. One explode + one grouped conditional sum per bit,
    all map-side-combinable."""
    tok = spread(docs, id_col).select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), r"\s+")).alias("tok"),
    ).select("doc_id", token_hash(F.col("tok")).alias("h"))
    votes = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(bits)
        ]
    )
    fp = None
    for b in range(bits):
        term = F.when(
            F.col(f"v{b}") > 0, F.shiftleft(F.lit(1).cast("bigint"), b)
        ).otherwise(F.lit(0).cast("bigint"))
        fp = term if fp is None else fp.bitwiseOR(term)
    return votes.select("doc_id", fp.alias("simhash"))


def hamming_band_pairs(fps: DataFrame, col: str, max_hamming: int) -> DataFrame:
    """(doc_a, doc_b, hamming) near-dup pairs of a (doc_id, ``col``) frame
    of 64-bit fingerprints: candidates share one of four 16-bit bands
    (in_bucket_pairs over fine-grained 2^16 buckets per band — pigeonhole
    guarantees every pair at Hamming <= 3 and catches most below
    max_hamming), verified by exact popcount Hamming <= max_hamming."""
    bands = [
        F.shiftright(F.col(col), b * 16).bitwiseAND(F.lit(0xFFFF)).cast("int")
        for b in range(4)
    ]
    banded = fps.select(
        "doc_id", col, F.posexplode(F.array(*bands)).alias("band", "bucket")
    )
    return in_bucket_pairs(
        banded,
        F.struct(F.col("doc_id"), F.col(col)),
        lambda x, y: F.struct(
            x["doc_id"].alias("doc_a"),
            y["doc_id"].alias("doc_b"),
            F.bit_count(x[col].bitwiseXOR(y[col])).alias("hamming"),
        ),
    ).filter(F.col("hamming") <= max_hamming)


def simhash_candidate_pairs(docs: DataFrame, *, max_hamming: int = 8) -> DataFrame:
    """Near-dup pairs over 64-bit xxhash64 simhash fingerprints through the
    16-bit Hamming bands of hamming_band_pairs."""
    return hamming_band_pairs(simhash_fingerprints(docs), "simhash", max_hamming)


def simhash_pairs_exact(
    docs: DataFrame, *, max_hamming: int = 8, bits: int = 60,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """ALL pairs with Hamming(simhash) <= max_hamming, exactly, without an
    all-pairs join: split the portable_hash fingerprint into
    (max_hamming + 1) disjoint bit-bands — by pigeonhole, any pair within
    max_hamming differing bits agrees on at least one whole band —
    equi-join on (band, band_bits) for candidates, then verify with
    popcount. Complete by construction, precise by verification; candidate
    volume scales with band-bucket collisions, not |docs|^2."""
    n_bands = max_hamming + 1
    base, extra = divmod(bits, n_bands)
    sizes = [base + (1 if i < extra else 0) for i in range(n_bands)]
    offsets = [sum(sizes[:i]) for i in range(n_bands)]

    # Persisted: the banded frame feeds BOTH sides of the candidate
    # self-join, so without it the 60-conditional-sum token aggregation
    # behind the fingerprints runs twice per action. Doc-count-sized
    # (2 longs/row) — trivially cacheable at any corpus size.
    fps = tracked_persist(
        simhash_fingerprints(
            docs, bits=bits, token_hash=portable_hash, text_col=text_col, id_col=id_col
        )
    )
    band_cols = [
        F.shiftright(F.col("simhash"), offsets[i])
        .bitwiseAND(F.lit((1 << sizes[i]) - 1))
        .alias(f"b{i}")
        for i in range(n_bands)
    ]
    # NOTE: stays a SELF-JOIN on purpose. The pigeonhole bands are only
    # ~bits/(max_hamming+1) ≈ 6-7 bits wide → ≤128 distinct buckets per
    # band, so in_bucket_pairs would collect huge member arrays and expand
    # each bucket's d²/2 pairs inside ONE task (measured 2-3× SLOWER at
    # sf0.1 than this join, which spreads the same pair volume across the
    # shuffle). in_bucket_pairs wins only when buckets are fine-grained;
    # see its docstring.
    banded = fps.select(
        "doc_id",
        "simhash",
        F.posexplode(F.array(*band_cols)).alias("band", "band_bits"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_bits") == F.col("b.band_bits"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def incremental_dedup(
    base: DataFrame, incr: DataFrame, *, k: int = 3, threshold: float = 0.8,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Dedup an INCREMENT against an existing corpus without re-self-joining
    the base — the production shape for a continuously-growing training
    corpus: the expensive pair join is idx_all ⋈ idx_incr, so its cost
    scales with the increment's shingle collisions, never |base|².

    A new doc is dropped when an EARLIER doc (smaller id, in base or
    increment) is byte-identical (sha2 tier) or >= threshold shingle-Jaccard
    similar (inverted-index tier, exact |A∩B| arithmetic — same semantics
    as ngram_jaccard_pairs restricted to pairs whose LATER side is new).
    Returns the kept increment rows (doc_id only, the survivor set)."""
    all_docs = base.select(F.col(id_col), F.col(text_col)).unionByName(
        incr.select(F.col(id_col), F.col(text_col))
    )
    # exact tier: any earlier doc with identical bytes
    hashes = all_docs.select(
        F.col(id_col).alias("doc_id"), F.sha2(F.col(text_col), 256).alias("h")
    )
    ih = hashes.join(
        incr.select(F.col(id_col).alias("doc_id")), "doc_id"
    )
    earlier_same = (
        ih.alias("i")
        .join(hashes.alias("e"), (F.col("i.h") == F.col("e.h")) & (F.col("e.doc_id") < F.col("i.doc_id")))
        .select(F.col("i.doc_id").alias("doc_id"))
        .distinct()
    )
    # near tier: full index ⋈ increment-only index (the asymmetry is the
    # scale win: base×base is never joined). Same measured dual-path as
    # ngram_jaccard_pairs — on rare-tailed vocabularies the PPJoin
    # prefix cut (lemma 1 holds per pair regardless of which side each
    # doc sits on) bounds the fan-out and candidates verify by exact
    # array intersection; on near-uniform vocabularies the fused
    # join+count IS the floor and prefix verification would only add
    # per-candidate array cost.
    idx_all = tracked_persist(
        shingle_index(all_docs, k=k, text_col=text_col, id_col=id_col, hashed=True)
    )
    n_docs_est = all_docs.count()
    if _prefix_join_wins(idx_all, threshold, n_docs_est):
        t_e6 = int(round(threshold * 1_000_000))
        prefix_all = _prefix_index(idx_all, threshold)
        prefix_incr = prefix_all.join(
            incr.select(F.col(id_col).alias("doc_id")), "doc_id"
        )
        a = prefix_all.select(
            F.col("doc_id").alias("doc_a"), "shingle", F.col("n").alias("n_a")
        )
        b = prefix_incr.select(
            F.col("doc_id").alias("doc_b"), "shingle", F.col("n").alias("n_b")
        )
        cand = (
            a.join(b, "shingle")
            .where(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b", "n_a", "n_b")
            .distinct()
            .where(
                F.least("n_a", "n_b") * 1_000_000
                >= F.lit(t_e6) * F.greatest("n_a", "n_b")
            )
        )
        pairs = _verify_pairs_by_array(
            cand, idx_all, threshold=threshold,
            small_docs=n_docs_est <= _BROADCAST_DOCS_MAX,
        )
    else:
        idx_incr = idx_all.join(
            incr.select(F.col(id_col).alias("doc_id")), "doc_id"
        )
        pairs = _jaccard_scores(
            _fused_intersections(idx_all, idx_incr), idx_all, threshold=threshold
        )
    near_dropped = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    dropped = earlier_same.unionByName(near_dropped).distinct()
    return (
        incr.select(F.col(id_col).alias("doc_id"))
        .join(dropped, "doc_id", "left_anti")
    )
