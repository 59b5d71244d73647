"""Property-based invariants (SURVEY.md §5 item 5) + skew-rewrite
equivalences: randomized small relations via hypothesis, algebraic
identities that must hold for any input."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from solis_solarman_clickhouse_spark.operators.skew import (
    salted_agg,
    salted_broadcast_left,
    top_keys,
)
from solis_solarman_clickhouse_spark.tables import table

from .conftest import SF_DIR

_SLOW = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

rel = st.lists(
    st.tuples(st.integers(0, 5), st.integers(-100, 100)), min_size=0, max_size=30
)


def _df(spark, rows, cols=("k", "v")):
    return spark.createDataFrame(rows or [(0, 0)], list(cols)).limit(
        len(rows)
    )  # limit(0) keeps the schema for empty input


def test_salted_agg_equals_plain(spark):
    ev = table(spark, SF_DIR, "events")
    aggs = {
        "sum_v": ("sum", "value"),
        "n": ("count", "value"),
        "mn": ("min", "value"),
        "mx": ("max", "value"),
    }
    plain = ev.groupBy("user_id").agg(
        F.sum("value").alias("sum_v"),
        F.count("value").alias("n"),
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
    )
    salted = salted_agg(ev, ["user_id"], aggs, n_salts=8)
    # compare on rounded sums (double addition order differs by design)
    norm = lambda df: df.select(
        "user_id", F.round("sum_v", 6).alias("s"), "n", "mn", "mx"
    )
    assert norm(salted).exceptAll(norm(plain)).count() == 0
    assert norm(plain).exceptAll(norm(salted)).count() == 0


def test_salted_broadcast_join_equals_plain(spark):
    orders = table(spark, SF_DIR, "orders")
    cust = table(spark, SF_DIR, "customer")
    plain = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        "o_orderkey", "c_name"
    )
    salted = salted_broadcast_left(
        orders, cust, orders.o_custkey == cust.c_custkey
    ).select("o_orderkey", "c_name")
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_top_keys_shares_sum_below_one(spark):
    ev = table(spark, SF_DIR, "events")
    rows = top_keys(ev, ["event_type"], n=5).collect()
    assert all(0 < r["share"] <= 1 for r in rows)
    assert sum(r["share"] for r in rows) <= 1.000001


@_SLOW
@given(left=rel, right=rel)
def test_semi_join_identity(spark, left, right):
    """left_semi ≡ project(distinct(inner)) on the left's columns."""
    l = _df(spark, left)
    r = _df(spark, right, cols=("k", "w"))
    semi = l.join(r, "k", "left_semi")
    via_inner = l.join(r.select("k").distinct(), "k", "inner")
    assert sorted(map(tuple, semi.collect())) == sorted(map(tuple, via_inner.collect()))


@_SLOW
@given(rows=rel)
def test_running_sum_equals_self_join(spark, rows):
    """Window running-sum ≡ self-join sum over (k, idx<=self)."""
    df = (
        _df(spark, rows)
        .withColumn("idx", F.monotonically_increasing_id())
    ).cache()
    w = W.partitionBy("k").orderBy("idx").rowsBetween(W.unboundedPreceding, W.currentRow)
    winsum = df.withColumn("rs", F.sum("v").over(w)).select("k", "idx", "rs")
    a, b = df.alias("a"), df.alias("b")
    sjsum = (
        a.join(b, (F.col("a.k") == F.col("b.k")) & (F.col("b.idx") <= F.col("a.idx")))
        .groupBy(F.col("a.k").alias("k"), F.col("a.idx").alias("idx"))
        .agg(F.sum("b.v").alias("rs"))
    )
    assert sorted(map(tuple, winsum.collect())) == sorted(map(tuple, sjsum.collect()))


@_SLOW
@given(rows=rel)
def test_rollup_contains_plain_groupby(spark, rows):
    """rollup(k) ⊇ groupBy(k) with identical aggregates."""
    df = _df(spark, rows)
    plain = df.groupBy("k").agg(F.sum("v").alias("s"))
    roll = df.rollup("k").agg(F.sum("v").alias("s")).filter(F.col("k").isNotNull())
    assert plain.exceptAll(roll).count() == 0


def test_simhash_banding_complete_vs_bruteforce(spark):
    """Pigeonhole completeness: the banded simhash_pairs_exact must return
    EXACTLY the pairs a brute-force all-pairs popcount finds at
    max_hamming=8 (banding may only generate false candidates, never miss
    — and verification removes the false ones)."""
    from solis_solarman_clickhouse_spark.operators.dedup import (
        portable_hash,
        simhash_fingerprints,
        simhash_pairs_exact,
    )

    docs = table(spark, SF_DIR, "documents")
    banded = simhash_pairs_exact(docs, max_hamming=8)
    fps = simhash_fingerprints(docs, bits=60, token_hash=portable_hash)
    a, b = fps.alias("a"), fps.alias("b")
    brute = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= 8)
    )
    assert banded.exceptAll(brute).count() == 0
    assert brute.exceptAll(banded).count() == 0


def test_funnel_levels_partition_users(spark):
    """ch_window_funnel invariants: levels are within 0..3 and the level
    histogram partitions the distinct-user universe exactly."""
    from solis_solarman_clickhouse_spark.queries.registry import REGISTRY

    rows = REGISTRY["ch_window_funnel"].fn(spark, SF_DIR).collect()
    levels = {r["funnel_level"] for r in rows}
    assert levels <= {0, 1, 2, 3}
    n_users = table(spark, SF_DIR, "events").select("user_id").distinct().count()
    assert sum(r["n_users"] for r in rows) == n_users


def test_retention_is_monotone(spark):
    """retention(view, click, purchase): AND-ed conditions can only shrink
    the anchor cohort."""
    from solis_solarman_clickhouse_spark.queries.registry import REGISTRY

    r = REGISTRY["ch_retention"].fn(spark, SF_DIR).collect()[0]
    assert r["r_view"] >= r["r_view_click"] >= 0
    assert r["r_view"] >= r["r_view_purchase"] >= 0


def test_connected_components_chain_transitivity(spark):
    """A-B and B-C must land in one component even with no A-C edge; two
    disjoint cliques must stay separate."""
    from solis_solarman_clickhouse_spark.operators.graph import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (20, 21)],
        ["doc_a", "doc_b"],
    )
    got = {
        r["node"]: r["component"] for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_chunk_split_reconstructs_documents(spark):
    """Dropping each chunk's 8-token overlap tail (keeping the first 24
    = stride tokens, and the last chunk whole) must re-concatenate to
    the original text for every document — chunking loses nothing."""
    from solis_solarman_clickhouse_spark.queries.registry import REGISTRY

    chunks = REGISTRY["doc_chunk_split"].fn(spark, SF_DIR)
    docs = table(spark, SF_DIR, "documents").select("doc_id", "text")
    rebuilt = (
        chunks.groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("chunk_id", "chunk_text"))).alias("cs")
        )
        .select(
            "doc_id",
            F.array_join(
                F.transform(
                    "cs",
                    lambda s, i: F.when(
                        i < F.size("cs") - 1,
                        F.array_join(
                            F.slice(F.split(s["chunk_text"], " "), 1, 24), " "
                        ),
                    ).otherwise(s["chunk_text"]),
                ),
                " ",
            ).alias("rebuilt"),
        )
    )
    bad = (
        rebuilt.join(docs, "doc_id")
        .filter(F.col("rebuilt") != F.col("text"))
        .count()
    )
    assert bad == 0


def test_line_dedup_preserves_unique_docs_and_counts(spark):
    """Segment accounting: per-doc segments = ceil(n_tokens/16); a doc
    whose segments are all first occurrences keeps its exact text."""
    from solis_solarman_clickhouse_spark.queries.registry import REGISTRY

    out = REGISTRY["doc_line_dedup"].fn(spark, SF_DIR)
    docs = table(spark, SF_DIR, "documents").select(
        "doc_id", "text", F.size(F.split("text", " ")).alias("n_tokens")
    )
    j = out.join(docs, "doc_id")
    bad_counts = j.filter(
        F.col("n_segments") != F.ceil(F.col("n_tokens") / 16.0)
    ).count()
    assert bad_counts == 0
    intact = j.filter(F.col("n_removed") == 0)
    assert intact.count() > 0
    assert intact.filter(F.col("cleaned_text") != F.col("text")).count() == 0


def test_pagerank_conserves_mass_and_positivity(spark):
    """Bidirectional edges mean no dangling mass: total rank stays within
    integer-floor slippage of the initial 1e12, and every node keeps a
    positive rank ≥ the teleport floor."""
    from solis_solarman_clickhouse_spark.queries.registry import REGISTRY

    r = REGISTRY["graph_pagerank"].fn(spark, SF_DIR)
    row = r.agg(
        F.sum("rank_e12").alias("mass"),
        F.min("rank_e12").alias("mn"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    # integer-floor slippage: the init div loses up to n-1 units and each
    # sweep floors contrib/base/damp once per node — bound it loosely at
    # 100 units/node (1.6e-5 relative at the sf0.001 graph's 160 nodes)
    assert abs(row["mass"] - 1_000_000_000_000) < 100 * row["n"], row
    assert row["mn"] > 0


def test_stochastic_linreg_stays_stable(spark):
    """One SGD epoch at lr=0.05 over normalized inputs must neither
    diverge nor collapse: parameters finite and bounded, the bias pulled
    toward the positive price mean, and with few samples (sf0.001) the
    per-group weights may still straddle zero — so assert stability and
    the bias signal, not a converged slope."""
    import math

    from solis_solarman_clickhouse_spark.queries.registry import REGISTRY

    rows = REGISTRY["ch_stochastic_linreg"].fn(spark, SF_DIR).collect()
    assert len(rows) == 3
    for r in rows:
        assert math.isfinite(r["weight"]) and math.isfinite(r["bias"])
        assert abs(r["weight"]) < 5 and 0.0 < r["bias"] < 5, r


# --- session-4 operator invariants ---------------------------------------


def test_triangle_count_invariants(spark):
    """Per-node triangle participation sums to 3x the global triangle
    count (each triangle has exactly three corners), and the local
    clustering coefficient is a valid [0, 1] ratio at 1e6 scale."""
    from solis_solarman_clickhouse_spark.queries.registry import REGISTRY

    rows = REGISTRY["graph_triangle_count"].fn(spark, SF_DIR).collect()
    assert rows, "fixture graph should contain triangles"
    total_participation = sum(r.n_tri for r in rows)
    assert total_participation % 3 == 0
    for r in rows:
        assert 0 <= r.lcc_e6 <= 1_000_000
        assert r.degree >= 2  # a triangle member has at least two edges


def test_bfs_distance_invariants(spark):
    """BFS distances start at 0 for exactly one source, are bounded by
    the unroll depth, and every distance-d node (d>0) has a neighbor at
    distance d-1 (frontier consistency)."""
    from solis_solarman_clickhouse_spark.queries.graph import _chain_edges
    from solis_solarman_clickhouse_spark.queries.registry import REGISTRY

    dist = {r.node: r.dist for r in REGISTRY["graph_bfs_distance"].fn(spark, SF_DIR).collect()}
    assert list(dist.values()).count(0) == 1
    assert max(dist.values()) <= 4
    edges, _ = _chain_edges(spark, SF_DIR)
    adj = {}
    for r in edges.collect():
        adj.setdefault(r.u, set()).add(r.v)
        adj.setdefault(r.v, set()).add(r.u)
    for node, d in dist.items():
        if d > 0:
            assert any(dist.get(n) == d - 1 for n in adj[node]), (node, d)


def test_band_sweep_nesting(spark):
    """Band configs over one signature set are NESTED: a pair agreeing on
    a 4x4 band agrees on both contained 8x2 bands, and so on — so the
    candidate count must be non-increasing and recall non-increasing as
    rows-per-band grows, with recall 1.0 at 16x1 on the fixtures."""
    from solis_solarman_clickhouse_spark.queries.registry import REGISTRY

    rows = {r.bands: r for r in REGISTRY["doc_minhash_band_sweep"].fn(spark, SF_DIR).collect()}
    assert rows[16].n_candidates >= rows[8].n_candidates >= rows[4].n_candidates
    assert rows[16].recall_e6 >= rows[8].recall_e6 >= rows[4].recall_e6
    assert rows[16].recall_e6 == 1_000_000
    for r in rows.values():
        assert r.n_true_candidates <= r.n_candidates
        assert r.n_true_candidates <= r.n_true_total


def test_count_min_one_sided_error(spark):
    """Count-Min estimates are NEVER below the true count (one-sided
    error by construction: collisions only inflate counters)."""
    from solis_solarman_clickhouse_spark.queries.registry import REGISTRY

    for r in REGISTRY["agg_count_min_sketch"].fn(spark, SF_DIR).collect():
        assert r.cms_estimate >= r.exact_count
        assert r.overestimate >= 0


def test_kalman_variance_converges(spark):
    """The Kalman posterior variance is positive and below the prior 1.0
    after a full 20-sample window: the steady state of
    P = (1-K)(P+Q) with Q=0.04, R=1 is ~0.18, far under the prior."""
    from solis_solarman_clickhouse_spark.queries.registry import REGISTRY

    rows = REGISTRY["ts_kalman_1d"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0.0 < r.variance <= 1.0


def test_kaplan_meier_monotone(spark):
    """Survival curves never increase over time, live in [0, 1], and
    at-risk counts never grow as duration increases."""
    from solis_solarman_clickhouse_spark.queries.registry import REGISTRY

    rows = sorted(
        REGISTRY["ts_survival_kaplan_meier"].fn(spark, SF_DIR).collect(),
        key=lambda r: r.duration_hours,
    )
    assert rows
    last_s, last_n = 1.0 + 1e-9, None
    for r in rows:
        assert 0.0 <= r.survival <= 1.0
        assert r.survival <= last_s + 1e-9
        if last_n is not None:
            assert r.n_at_risk <= last_n
        last_s, last_n = r.survival, r.n_at_risk


def test_transition_matrix_rows_normalize(spark):
    """Each from-state's outgoing probabilities sum to 1e6 within the
    floor-division slack (< n_targets)."""
    from collections import defaultdict

    from solis_solarman_clickhouse_spark.queries.registry import REGISTRY

    rows = REGISTRY["ch_event_transition_matrix"].fn(spark, SF_DIR).collect()
    sums = defaultdict(lambda: [0, 0])
    for r in rows:
        sums[r.efrom][0] += r.p_e6
        sums[r.efrom][1] += 1
    for efrom, (s, k) in sums.items():
        assert 1_000_000 - k <= s <= 1_000_000, (efrom, s, k)


def test_max_coverage_gains_non_increasing(spark):
    """Submodularity: greedy marginal gains never increase across steps,
    and the five picks are distinct."""
    from solis_solarman_clickhouse_spark.queries.registry import REGISTRY

    rows = sorted(
        REGISTRY["doc_max_coverage_selection"].fn(spark, SF_DIR).collect(),
        key=lambda r: r.step,
    )
    assert len(rows) == 5
    assert len({r.doc_id for r in rows}) == 5
    for a, b in zip(rows, rows[1:]):
        assert b.gain <= a.gain


def test_mmr_picks_distinct_and_relevance_first(spark):
    """MMR returns 5 distinct picks per query and step 1 is the plain
    cosine top-1 (no diversity penalty exists yet at step 1)."""
    from collections import defaultdict

    from solis_solarman_clickhouse_spark.queries.registry import REGISTRY

    mmr = REGISTRY["vec_mmr_diversified_topk"].fn(spark, SF_DIR).collect()
    top = {
        r.query_id: r.neighbor_id
        for r in REGISTRY["vec_cosine_topk"].fn(spark, SF_DIR).collect()
        if r.rank == 1
    }
    per_q = defaultdict(list)
    for r in mmr:
        per_q[r.query_id].append(r)
    assert len(per_q) == 10
    for qid, rows in per_q.items():
        assert len(rows) == 5 and len({r.vec_id for r in rows}) == 5
        step1 = next(r for r in rows if r.step == 1)
        assert step1.vec_id == top[qid], (qid, step1.vec_id, top[qid])


@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcdefg"), min_size=1, max_size=12),
        min_size=2,
        max_size=12,
    )
)
@_SLOW
def test_wjaccard_dense_equals_index_on_random_corpora(spark, docs):
    """Random tiny corpora over a 7-token vocabulary: the dense L1
    block-kernel and the inverted-index join must emit identical
    (pair, score) sets — for ANY multiset structure, not just the
    fixture's."""
    from solis_solarman_clickhouse_spark.queries.documents import (
        _wjaccard_dense_pairs,
    )

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    vocab = tf.select("tok").distinct()
    dense = _wjaccard_dense_pairs(tf, vocab, vocab.count(), n_blocks=3)

    tot = tf.groupBy("doc_id").agg(F.sum("f").alias("nf"))
    a = tf.select(F.col("doc_id").alias("doc_a"), "tok", F.col("f").alias("fa"))
    b = tf.select(F.col("doc_id").alias("doc_b"), "tok", F.col("f").alias("fb"))
    inter = (
        a.join(b, "tok")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.least("fa", "fb")).alias("smin"))
    )
    union = F.col("na") + F.col("nb") - F.col("smin")
    index = (
        inter.join(
            tot.select(F.col("doc_id").alias("doc_a"), F.col("nf").alias("na")),
            "doc_a",
        )
        .join(
            tot.select(F.col("doc_id").alias("doc_b"), F.col("nf").alias("nb")),
            "doc_b",
        )
        .where(F.col("smin") * 5 >= union * 4)
        .select(
            "doc_a",
            "doc_b",
            F.expr("(smin * 1000000) div (na + nb - smin)").alias("wjaccard_e6"),
        )
    )
    got = sorted(map(tuple, dense.collect()))
    exp = sorted(map(tuple, index.collect()))
    assert got == exp


def test_wjaccard_prefix_filter_exact_and_bounded(spark):
    """The PPJoin prefix-filtered index path (natural-vocab tier of
    doc_weighted_jaccard_pairs) must (a) equal the naive uncapped token
    self-join EXACTLY — the filter is a candidate bound, never a
    semantics change — and (b) generate far fewer candidate pairs than
    the raw Σdf² join on a stopword-heavy corpus (round-4 verdict,
    'what's wrong' #6: the old index path had no fan-out bound)."""
    import random

    from solis_solarman_clickhouse_spark.queries.documents import (
        _wjaccard_index_pairs,
    )

    random.seed(11)
    stop = ["the", "a", "of", "to", "and", "in", "is", "it"]
    tail = [f"w{i}" for i in range(5000)]
    rows = []
    for i in range(200):
        n = random.randint(20, 60)
        toks = [
            random.choice(stop) if random.random() < 0.4 else random.choice(tail)
            for _ in range(n)
        ]
        rows.append((i, " ".join(toks)))
        if random.random() < 0.3:  # plant near-dups: mutate <= 2 tokens
            t2 = list(toks)
            for _ in range(random.randint(0, 2)):
                t2[random.randrange(len(t2))] = random.choice(tail)
            rows.append((1000 + i, " ".join(t2)))
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    got = _wjaccard_index_pairs(tf)

    tot = tf.groupBy("doc_id").agg(F.sum("f").alias("nf"))
    a = tf.select(F.col("doc_id").alias("doc_a"), "tok", F.col("f").alias("fa"))
    b = tf.select(F.col("doc_id").alias("doc_b"), "tok", F.col("f").alias("fb"))
    inter = (
        a.join(b, "tok")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.least("fa", "fb")).alias("smin"))
    )
    union = F.col("na") + F.col("nb") - F.col("smin")
    naive = (
        inter.join(
            tot.select(F.col("doc_id").alias("doc_a"), F.col("nf").alias("na")),
            "doc_a",
        )
        .join(
            tot.select(F.col("doc_id").alias("doc_b"), F.col("nf").alias("nb")),
            "doc_b",
        )
        .where(F.col("smin") * 5 >= union * 4)
        .select(
            "doc_a",
            "doc_b",
            F.expr("(smin * 1000000) div (na + nb - smin)").alias("wjaccard_e6"),
        )
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, naive.collect()))
    assert got.count() > 0  # planted near-dups must surface

    # fan-out bound: candidate pairs from the prefix join vs raw token join
    from pyspark.sql import Window as W

    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    w_doc = W.partitionBy("doc_id").orderBy("df", "tok")
    prefix = (
        tf.join(dfreq, "tok")
        .withColumn("na", F.sum("f").over(W.partitionBy("doc_id")))
        .withColumn("cumf_prev", F.sum("f").over(w_doc) - F.col("f"))
        .where(F.col("cumf_prev") <= F.expr("na div 5"))
        .select("doc_id", "tok")
    )
    n_prefix_cand = (
        prefix.select(F.col("doc_id").alias("doc_a"), "tok")
        .join(prefix.select(F.col("doc_id").alias("doc_b"), "tok"), "tok")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
        .count()
    )
    n_naive_cand = inter.count()
    assert n_prefix_cand * 10 < n_naive_cand, (
        f"prefix filter not pruning: {n_prefix_cand} vs naive {n_naive_cand}"
    )


def test_kcenter_picks_distinct_and_radii_nonincreasing(spark):
    """Gonzalez greedy k-center invariants: the 8 picks are distinct
    corpus vectors, and the selection distances are non-increasing from
    pick 2 on (each pick covers the previous farthest point, so the
    farthest remaining distance can only shrink)."""
    from solis_solarman_clickhouse_spark.queries import REGISTRY
    from solis_solarman_clickhouse_spark.tables import table

    rows = (
        REGISTRY["vec_coreset_kcenter"]
        .fn(spark, SF_DIR)
        .orderBy("pick_order")
        .collect()
    )
    assert len(rows) == 8
    ids = [r["vec_id"] for r in rows]
    assert len(set(ids)) == 8
    corpus_ids = {
        r["vec_id"] for r in table(spark, SF_DIR, "embeddings").select("vec_id").collect()
    }
    assert set(ids) <= corpus_ids
    d = [r["d2_e8"] for r in rows[1:]]
    assert all(a >= b for a, b in zip(d, d[1:])), d
    assert d[0] > 0  # corpus is not a single point
