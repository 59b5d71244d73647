"""Q-DOC / Q-TXT: training-data text operators over the `documents` table
(SURVEY.md §2-C Q-DOC-1..3 + the north-star text-analysis family).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..caching import tracked_persist
from pyspark.sql import types as T

from ..operators.dedup import (
    MINHASH_AB,
    MINHASH_P,
    _candidate_intersections,
    _with_sizes,
    containment_pairs,
    exact_dedup,
    minhash_candidate_pairs,
    minhash_lsh_pairs,
    minhash_pairs_exact,
    minhash_signatures,
    ngram_jaccard_pairs,
    portable_hash,
    shingle_index,
    simhash_candidate_pairs,
    simhash_fingerprints,
    simhash_pairs_exact,
)
from ..operators.text import (
    BPE_TOKEN_PATTERN,
    STOPWORDS,
    lang_guess,
    quality_features,
)
from ..tables import spread, table
from .registry import query, sql_davg

# The oracle twins of the near-dup pipeline stages: the 3-word shingle
# CTEs (w, sh) that shingle_index(k=3) computes, the portable MinHash
# signature aggregates, MinHash band agreement and the SimHash votes.
_SHINGLE_CTES = """
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             UNNEST(list_transform(generate_series(1, len(ws) - 2),
                                   i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
      FROM w
    )"""


def _minhash_sig_sql(n_hashes: int) -> str:
    """g0..g{n-1} over sh(doc_id, s), as
    minhash_signatures(shingle_hash=portable_hash) computes them."""
    base = f"(('0x' || substr(md5(s), 1, 15))::BIGINT % {MINHASH_P})"
    return ", ".join(
        f"MIN(({a} * {base} + {b}) % {MINHASH_P}) AS g{i}"
        for i, (a, b) in enumerate(MINHASH_AB[:n_hashes])
    )


def _band_eq_sql(band: int, rows: int) -> str:
    """Signatures a and b agree on the whole band — minhash_bands' bucket
    equality."""
    return " AND ".join(f"a.g{band * rows + r} = b.g{band * rows + r}" for r in range(rows))


def _band_conds_sql(n_hashes: int, bands: int) -> str:
    """a and b share at least one of the bands: a candidate pair."""
    rows = n_hashes // bands
    return " OR ".join("(" + _band_eq_sql(b, rows) + ")" for b in range(bands))


def _simhash_votes_sql(bits: int) -> str:
    """tok and votes CTEs: the per-bit vote sums of
    simhash_fingerprints(token_hash=portable_hash)."""
    h = "('0x' || substr(md5(t.tok), 1, 15))::BIGINT"
    votes = ", ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(bits)
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, {h} AS h
      FROM documents, UNNEST(string_split_regex(text, '\\s+')) AS t(tok)
    ),
    votes AS (SELECT doc_id, {votes} FROM tok GROUP BY doc_id)"""


_JACCARD_ORACLE = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
  WHERE len(string_split(text, ' ')) >= 3
),
sh AS (
  SELECT DISTINCT doc_id,
         UNNEST(list_transform(generate_series(1, len(ws) - 2),
                               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
  FROM w
),
sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       ROUND(c * 1.0 / (sa.n + sb.n - c), 4) AS jaccard
FROM inter
JOIN sz sa ON doc_a = sa.doc_id
JOIN sz sb ON doc_b = sb.doc_id
WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8
"""


@query(
    "doc_exact_dedup",
    category="documents",
    oracle="""
    SELECT sha256(text) AS text_sha256, MIN(doc_id) AS keeper_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY sha256(text)
    """,
)
def doc_exact_dedup(spark, sf_dir):
    """Q-DOC-1: exact dedup by sha2(text); keeper = min doc_id."""
    return exact_dedup(table(spark, sf_dir, "documents"))


@query(
    "doc_text_stats",
    category="documents",
    oracle=f"""
    SELECT source, lang, COUNT(*) AS n_docs,
           ROUND({sql_davg("len(string_split(text, ' '))")}, 4) AS avg_tokens,
           ROUND({sql_davg('n_chars')}, 4) AS avg_chars,
           MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
    FROM documents GROUP BY source, lang
    """,
)
def doc_text_stats(spark, sf_dir):
    """Q-DOC-2: token/length distribution per (source, lang)."""
    from .registry import davg, r4

    docs = table(spark, sf_dir, "documents")
    return docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        r4(davg(F.size(F.split("text", " ")))).alias("avg_tokens"),
        r4(davg("n_chars")).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@query("doc_neardup_jaccard", category="documents", oracle=_JACCARD_ORACLE)
def doc_neardup_jaccard(spark, sf_dir):
    """Q-DOC-3 (exact form): 3-word-shingle Jaccard pairs >= 0.8 via the
    shingle inverted index — exact ground truth for near-dup detection."""
    return ngram_jaccard_pairs(table(spark, sf_dir, "documents"), k=3, threshold=0.8)


@query("doc_neardup_jaccard_capped", category="documents", oracle=_JACCARD_ORACLE)
def doc_neardup_jaccard_capped(spark, sf_dir):
    """Q-DOC-3 with the hot-shingle frequency cap (max_df_frac=0.01):
    shingles in >1% of docs are pruned from candidate generation (the d²
    join-blowup guard for boilerplate at 100 TB), then exact Jaccard is
    recomputed on the uncapped index for surviving pairs. Shares
    doc_neardup_jaccard's oracle — the cap must NOT change results on the
    fixture (it drops 29 shingles at sf0.01 yet yields identical pairs),
    which is exactly the invariant this row checks."""
    return ngram_jaccard_pairs(
        table(spark, sf_dir, "documents"), k=3, threshold=0.8, max_df_frac=0.01
    )


@query("doc_neardup_minhash", category="documents", check="TOL")
def doc_neardup_minhash(spark, sf_dir):
    """Q-DOC-3 (scale path): MinHash-LSH banding candidates + exact-Jaccard
    verification — the sublinear 100 TB near-dup strategy. Precision 1.0 by
    construction (verified), recall ≈98.5% at j=0.8 with 32 hashes × 8
    bands; no oracle entry (LSH bucketing isn't ANSI-SQL), equivalence to
    doc_neardup_jaccard is asserted in tests/test_operators.py."""
    return minhash_lsh_pairs(
        table(spark, sf_dir, "documents"), n_hashes=32, bands=8, k=3, threshold=0.8
    )


def _minhash_md5_oracle(n_hashes: int = 16, bands: int = 8) -> str:
    return f"""{_SHINGLE_CTES},
    sig AS (SELECT doc_id, {_minhash_sig_sql(n_hashes)} FROM sh GROUP BY doc_id),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE {_band_conds_sql(n_hashes, bands)}
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS cnt
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND a.s = b.s
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(cnt * 1.0 / (sa.n + sb.n - cnt), 4) AS jaccard
    FROM inter
    JOIN sz sa ON doc_a = sa.doc_id
    JOIN sz sb ON doc_b = sb.doc_id
    WHERE cnt * 5 >= (sa.n + sb.n - cnt) * 4
    """


@query(
    "doc_neardup_minhash_exact",
    category="documents",
    oracle=_minhash_md5_oracle(),
)
def doc_neardup_minhash_exact(spark, sf_dir):
    """MinHash-LSH near-dup, EXACT-oracle variant: engine-portable
    md5-derived hash family (16 hashes, 8 bands x 2 rows), banded
    candidate join, exact-Jaccard verification with the 0.8 threshold as
    integer cross-multiplication — every stage reproducible in ANSI SQL,
    so the full LSH pipeline (not just the verifier) is hash-checked
    against DuckDB. Spark runs the sublinear banded plan; the oracle
    brute-forces band agreement over all pairs (feasible only at fixture
    scale)."""
    return minhash_pairs_exact(
        table(spark, sf_dir, "documents"), n_hashes=16, bands=8, k=3
    )


def _minhash_recall_oracle(n_hashes: int = 16, bands: int = 8) -> str:
    """EXACT oracle for MinHash-LSH recall: DuckDB recomputes BOTH the
    exact-Jaccard ground truth AND the full banded-LSH path (portable md5
    hash family), then measures recall — the number itself is
    hash-compared, like vec_ann_recall_lsh's plane-literal twin."""
    return f"""{_SHINGLE_CTES},
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT doc_a, doc_b
      FROM inter JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
      WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8
    ),
    sig AS (SELECT doc_id, {_minhash_sig_sql(n_hashes)} FROM sh GROUP BY doc_id),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE {_band_conds_sql(n_hashes, bands)}
    ),
    lsh AS (
      SELECT i.doc_a, i.doc_b
      FROM inter i JOIN cand USING (doc_a, doc_b)
      JOIN sz sa ON i.doc_a = sa.doc_id JOIN sz sb ON i.doc_b = sb.doc_id
      WHERE i.c * 5 >= (sa.n + sb.n - i.c) * 4
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_truth,
           CAST(COUNT(l.doc_a) AS BIGINT) AS n_hit,
           ROUND(COUNT(l.doc_a)::DOUBLE / COUNT(*), 4) AS recall
    FROM truth t LEFT JOIN lsh l ON t.doc_a = l.doc_a AND t.doc_b = l.doc_b
    """


@query(
    "doc_neardup_minhash_recall",
    category="documents",
    oracle=_minhash_recall_oracle(),
)
def doc_neardup_minhash_recall(spark, sf_dir):
    """Quantified recall of the MinHash-LSH scale path vs exact-Jaccard
    ground truth, as an EXACT-oracle NUMBER: DuckDB recomputes both
    pipelines (portable md5 family) and must land on the identical recall.
    Expected ~1.0 at j>=0.8 with 16 hashes x 8 bands x 2 rows (per-band
    collision p = j^2 = 0.64, miss chance (1-0.64)^8 ~ 0.03%); the
    xxhash64 production variant's recall >=0.9 is separately asserted in
    tests/test_operators.py::test_minhash_lsh_recall."""
    docs = table(spark, sf_dir, "documents")
    truth = ngram_jaccard_pairs(docs, k=3, threshold=0.8).select("doc_a", "doc_b")
    approx = (
        minhash_pairs_exact(docs, n_hashes=16, bands=8, k=3)
        .select("doc_a", "doc_b", F.lit(1).alias("hit"))
    )
    return truth.join(approx, ["doc_a", "doc_b"], "left").agg(
        F.count(F.lit(1)).alias("n_truth"),
        F.count("hit").alias("n_hit"),
        F.round(F.count("hit") / F.count(F.lit(1)), 4).alias("recall"),
    )


_INCR_SPLIT = 400  # doc_id < 400 = existing corpus, >= 400 = new increment

_INCR_DEDUP_ORACLE = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
  WHERE len(string_split(text, ' ')) >= 3
),
sh AS (
  SELECT DISTINCT doc_id,
         UNNEST(list_transform(generate_series(1, len(ws) - 2),
                               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
  FROM w
),
sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  WHERE b.doc_id >= {_INCR_SPLIT}
  GROUP BY 1, 2
),
near_dropped AS (
  SELECT DISTINCT doc_b AS doc_id
  FROM inter JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
  WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8
),
exact_dropped AS (
  SELECT DISTINCT i.doc_id
  FROM documents i JOIN documents e
    ON i.text = e.text AND e.doc_id < i.doc_id
  WHERE i.doc_id >= {_INCR_SPLIT}
)
SELECT doc_id FROM documents
WHERE doc_id >= {_INCR_SPLIT}
  AND doc_id NOT IN (SELECT doc_id FROM near_dropped)
  AND doc_id NOT IN (SELECT doc_id FROM exact_dropped)
"""


@query("doc_incremental_dedup", category="documents", oracle=_INCR_DEDUP_ORACLE)
def doc_incremental_dedup(spark, sf_dir):
    """Incremental dedup — the production shape for a continuously-growing
    corpus: the new batch (doc_id >= 400) dedups against the existing
    corpus WITHOUT re-self-joining the base. The pair join is
    idx_all ⋈ idx_increment, so cost scales with the increment's shingle
    collisions, never |base|²; semantics (exact sha2 tier + >=0.8
    shingle-Jaccard tier, earlier-id wins) match running the full-corpus
    dedup and keeping the increment's survivors, which is what the oracle
    computes."""
    from ..operators.dedup import incremental_dedup

    docs = table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") < _INCR_SPLIT)
    incr = docs.filter(F.col("doc_id") >= _INCR_SPLIT)
    return incremental_dedup(base, incr, k=3, threshold=0.8)


@query("doc_neardup_simhash", category="documents", check="SMOKE")
def doc_neardup_simhash(spark, sf_dir):
    """SimHash near-dup: 64-bit fingerprints from per-token hash bit votes,
    16-bit-band candidate generation, popcount Hamming verification."""
    return simhash_candidate_pairs(table(spark, sf_dir, "documents"), max_hamming=8)


def _simhash_md5_oracle(bits: int = 60, max_hamming: int = 8) -> str:
    fp = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN (1::BIGINT << {b}) ELSE 0 END)" for b in range(bits)
    )
    return f"""{_simhash_votes_sql(bits)},
    fp AS (SELECT doc_id, {fp} AS simhash FROM votes)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    """


@query(
    "doc_neardup_simhash_exact",
    category="documents",
    oracle=_simhash_md5_oracle(),
)
def doc_neardup_simhash_exact(spark, sf_dir):
    """SimHash near-dup, EXACT-oracle variant: 60-bit fingerprints from an
    engine-portable md5-derived token hash, candidates from
    (max_hamming+1)=9 pigeonhole bit-bands (complete for Hamming <= 8 by
    construction), popcount verification. The oracle brute-forces all
    pairs — correct at 500 docs; the Spark side is the banded sublinear
    plan that survives 100 TB."""
    return simhash_pairs_exact(table(spark, sf_dir, "documents"), max_hamming=8)


_LANGID_SCORE = (
    "len(list_filter(string_split(text, ' '), x -> list_contains([{words}], x)))"
)


def _langid_oracle() -> str:
    scores = {
        lg: _LANGID_SCORE.format(words=", ".join(f"'{w}'" for w in STOPWORDS[lg]))
        for lg in sorted(STOPWORDS)
    }
    return f"""
    WITH s AS (
      SELECT doc_id, lang AS actual_lang,
             {scores['de']} AS s_de, {scores['en']} AS s_en,
             {scores['es']} AS s_es, {scores['fr']} AS s_fr
      FROM documents
    )
    SELECT doc_id, actual_lang,
           CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
                WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
                WHEN s_es >= s_fr THEN 'es'
                ELSE 'fr' END AS predicted_lang
    FROM s
    """


@query("doc_langid", category="documents", oracle=_langid_oracle())
def doc_langid(spark, sf_dir):
    """Language-ID heuristic: stopword-list overlap argmax (ties →
    alphabetically-first language). Single scan, no shuffle."""
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.col("lang").alias("actual_lang"),
        lang_guess(F.col("text")).alias("predicted_lang"),
    )


@query(
    "doc_quality_score",
    category="documents",
    oracle="""
    SELECT doc_id,
           LENGTH(text) AS n_chars,
           LEN(string_split(text, ' ')) AS n_tokens,
           ROUND((LENGTH(text) - (LEN(string_split(text, ' ')) - 1)) * 1.0
                 / LEN(string_split(text, ' ')), 4) AS avg_token_len,
           ROUND(LENGTH(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) * 1.0
                 / LENGTH(text), 4) AS punct_ratio,
           ROUND(len(list_filter(string_split(text, ' '),
                 x -> list_contains(['the','a','of','and','to','in','is','that','it','for'], x)))
                 * 1.0 / LEN(string_split(text, ' ')), 4) AS stopword_ratio_en
    FROM documents
    """,
)
def doc_quality_score(spark, sf_dir):
    """Quality-scoring features: length, token stats, punctuation ratio,
    English stopword ratio — the standard pre-training quality filters."""
    docs = table(spark, sf_dir, "documents")
    feats = quality_features(F.col("text"))
    return docs.select("doc_id", *[v.alias(k) for k, v in feats.items()])


@query(
    "doc_token_count_bpe",
    category="documents",
    oracle=f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{BPE_TOKEN_PATTERN}')) AS n_bpe_tokens,
           LEN(string_split(text, ' ')) AS n_ws_tokens
    FROM documents
    """,
)
def doc_token_count_bpe(spark, sf_dir):
    """Token counting: whitespace tokens and BPE-ish regex pre-tokens."""
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(BPE_TOKEN_PATTERN), 0)).alias("n_bpe_tokens"),
        F.size(F.split("text", r"\s+")).alias("n_ws_tokens"),
    )


@query(
    "doc_fingerprint",
    category="documents",
    oracle="""
    SELECT doc_id, md5(text) AS fp,
           COUNT(*) OVER (PARTITION BY md5(text)) AS n_same_fp
    FROM documents
    """,
)
def doc_fingerprint(spark, sf_dir):
    """Document fingerprinting via md5 content hash + duplicate-group size."""
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5("text").alias("fp"),
        F.count(F.lit(1)).over(W.partitionBy(F.md5("text"))).alias("n_same_fp"),
    )


@query(
    "doc_train_split",
    category="documents",
    oracle="""
    WITH b AS (
      SELECT doc_id, source,
             ((doc_id * 2654435761) % 4294967296) % 100 AS bucket
      FROM documents
    )
    SELECT CASE WHEN bucket < 90 THEN 'train'
                WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split,
           source, COUNT(*) AS n_docs
    FROM b GROUP BY 1, 2
    """,
)
def doc_train_split(spark, sf_dir):
    """Deterministic train/val/test assignment (90/5/5) by Knuth
    multiplicative hash of doc_id — the split a training-data pipeline
    needs to be stable across reruns and engines (no RNG, no sampling
    nondeterminism). One scan + one partial-final agg; at 100 TB the
    assignment is a pure projection joined to nothing."""
    docs = table(spark, sf_dir, "documents")
    bucket = (F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296) % 100
    split = (
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    )
    return (
        docs.select(split.alias("split"), "source")
        .groupBy("split", "source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query(
    "doc_normalize",
    category="documents",
    oracle="""
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                               ' +', ' ', 'g')) AS norm_text,
           length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                      ' +', ' ', 'g'))) AS norm_len
    FROM documents
    """,
)
def doc_normalize(spark, sf_dir):
    """Text normalization for dedup/quality pipelines: lowercase, strip
    non-alphanumerics, collapse whitespace — pure JVM regexp expressions,
    one scan, no shuffle."""
    docs = table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""), " +", " "
        )
    )
    return docs.select(
        "doc_id", norm.alias("norm_text"), F.length(norm).alias("norm_len")
    )


_EN_WORDS = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
_HITS_EN = (
    f"len(list_filter(string_split(text, ' '), x -> list_contains([{_EN_WORDS}], x)))"
)
_N_TOK = "LEN(string_split(text, ' '))"
_PUNCT = "LENGTH(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))"


def _curation_oracle() -> str:
    scores = {
        lg: _LANGID_SCORE.format(words=", ".join(f"'{w}'" for w in STOPWORDS[lg]))
        for lg in sorted(STOPWORDS)
    }
    en_pred = (
        f"NOT ({scores['de']} >= {scores['en']} AND {scores['de']} >= {scores['es']}"
        f" AND {scores['de']} >= {scores['fr']})"
        f" AND {scores['en']} >= {scores['es']} AND {scores['en']} >= {scores['fr']}"
    )
    return f"""
    WITH d AS (
      SELECT doc_id, text, n_chars,
             ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
      FROM documents
    ),
    f AS (
      SELECT (rn = 1) AS f_keep,
             (rn = 1 AND {en_pred}) AS f_en,
             (rn = 1 AND {en_pred} AND n_chars >= 200
              AND 10 * {_PUNCT} <= 3 * n_chars
              AND 50 * {_HITS_EN} >= {_N_TOK}) AS f_q
      FROM d
    )
    SELECT 'p0_total' AS stage, COUNT(*) AS n_docs FROM f
    UNION ALL SELECT 'p1_dedup', COUNT(*) FILTER (WHERE f_keep) FROM f
    UNION ALL SELECT 'p2_lang_en', COUNT(*) FILTER (WHERE f_en) FROM f
    UNION ALL SELECT 'p3_quality', COUNT(*) FILTER (WHERE f_q) FROM f
    """


@query("doc_corpus_curation", category="documents", oracle=_curation_oracle())
def doc_corpus_curation(spark, sf_dir):
    """Flagship training-data curation funnel in ONE pass: exact-dedup
    (keeper = min doc_id per text) -> language filter (stopword-argmax
    en) -> quality filter (length >= 200, punct ratio <= 0.3, en-stopword
    ratio >= 0.02). Emits per-stage surviving-document counts.

    Ratio thresholds are written as INTEGER cross-multiplications
    (50*hits >= n_tok, 10*punct <= 3*n_chars) so no float rounding can
    flip a boundary doc between engines. Physically: one window shuffle on
    `text` (the dedup), then conditional partial+final counts — the whole
    funnel costs a single pass over the corpus at 100 TB, vs one job per
    stage in a naive pipeline."""
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents")
    rn = F.row_number().over(W.partitionBy("text").orderBy("doc_id"))
    toks = F.split(F.col("text"), r"\s+")
    sw = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    hits_en = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    punct = F.length(F.regexp_replace(F.col("text"), r"[A-Za-z0-9\s]", ""))
    quality = (
        (F.col("n_chars") >= 200)
        & (10 * punct <= 3 * F.col("n_chars"))
        & (50 * hits_en >= F.size(toks))
    )
    f = docs.withColumn("rn", rn).select(
        (F.col("rn") == 1).alias("f_keep"),
        ((F.col("rn") == 1) & (lang_guess(F.col("text")) == "en")).alias("f_en"),
        (
            (F.col("rn") == 1) & (lang_guess(F.col("text")) == "en") & quality
        ).alias("f_q"),
    )
    agg = f.agg(
        F.count(F.lit(1)).alias("p0_total"),
        F.sum(F.col("f_keep").cast("long")).alias("p1_dedup"),
        F.sum(F.col("f_en").cast("long")).alias("p2_lang_en"),
        F.sum(F.col("f_q").cast("long")).alias("p3_quality"),
    )
    return agg.selectExpr(
        "stack(4, 'p0_total', p0_total, 'p1_dedup', p1_dedup, "
        "'p2_lang_en', p2_lang_en, 'p3_quality', p3_quality) AS (stage, n_docs)"
    )


@query(
    "doc_pack_sequences",
    category="documents",
    oracle="""
    WITH t AS (
      SELECT doc_id, source,
             len(string_split_regex(trim(text), '\\s+')) AS n_tok
      FROM documents
    ),
    c AS (
      SELECT doc_id, source, n_tok,
             SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
      FROM t
    )
    SELECT source, CAST((cum - n_tok) // 2048 AS BIGINT) AS seq_id,
           COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
    FROM c GROUP BY 1, 2
    """,
)
def doc_pack_sequences(spark, sf_dir):
    """Sequence packing for training: docs are laid out contiguously per
    source in doc_id order and assigned to the 2048-token sequence where
    they start (cumulative token count // budget) — deterministic,
    engine-independent, one window + one agg; no driver loop, so packing
    scales with the corpus, not the driver."""
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source",
        F.size(F.split(F.trim("text"), r"\s+")).alias("n_tok"),
    )
    w = (
        W.partitionBy("source").orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    c = docs.withColumn("cum", F.sum("n_tok").over(w))
    return (
        c.select(
            "source",
            F.floor((F.col("cum") - F.col("n_tok")) / 2048).alias("seq_id"),
            "n_tok",
        )
        .groupBy("source", "seq_id")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("n_tokens"))
    )


_MIX_RATE_SQL = """CASE (CAST(substr(source, 4) AS INT) % 4)
             WHEN 0 THEN 10000 WHEN 1 THEN 5000 WHEN 2 THEN 2500
             ELSE 1000 END"""


@query(
    "doc_source_mixing",
    category="documents",
    oracle=f"""
    SELECT source, COUNT(*) AS n_total,
           COUNT(CASE WHEN ('0x' || substr(md5('mix:' || doc_id), 1, 15))::BIGINT
                           % 10000 < {_MIX_RATE_SQL}
                      THEN 1 END) AS n_kept
    FROM documents GROUP BY source
    """,
)
def doc_source_mixing(spark, sf_dir):
    """Training-data source mixing: each source is down-sampled at its
    configured weight (here 1.0 / 0.5 / 0.25 / 0.1 by source bucket) with a
    DETERMINISTIC keep decision — portable md5 hash of doc_id against an
    integer threshold per ten-thousand — so reruns, retries, and the DuckDB
    oracle all pick the identical subset (no rand(), which is
    per-task-nondeterministic under retry at scale). One aggregation,
    map-side combinable; the keep predicate is a pure projection."""
    docs = table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("mix:"), F.col("doc_id"))), 1, 15), 16, 10
    ).cast("long")
    src_bucket = F.substring("source", 4, 10).cast("int") % 4
    threshold = (
        F.when(src_bucket == 0, 10000)
        .when(src_bucket == 1, 5000)
        .when(src_bucket == 2, 2500)
        .otherwise(1000)
    )
    kept = (h % 10000) < threshold
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.when(kept, 1)).alias("n_kept"),
    )


@query(
    "doc_shuffle_shards",
    category="documents",
    oracle="""
    SELECT doc_id,
           ('0x' || substr(md5('shuf:' || doc_id), 1, 15))::BIGINT % 16 AS shard,
           ROW_NUMBER() OVER (
             PARTITION BY ('0x' || substr(md5('shuf:' || doc_id), 1, 15))::BIGINT % 16
             ORDER BY md5('shuf:' || doc_id), doc_id
           ) AS pos_in_shard
    FROM documents
    """,
)
def doc_shuffle_shards(spark, sf_dir):
    """Training-data global shuffle, shard-native: docs are assigned to
    shards by portable hash and given a deterministic position within the
    shard (order = md5 hex string, i.e. a pseudo-random but reproducible
    permutation). Global order = (shard, pos_in_shard). This is the shape
    that scales: a single-partition global ROW_NUMBER is a non-starter at
    100 TB, but per-shard windows parallelize across the cluster — exactly
    how training pipelines shard-then-shuffle epochs."""
    docs = table(spark, sf_dir, "documents")
    hstr = F.md5(F.concat(F.lit("shuf:"), F.col("doc_id")))
    hnum = F.conv(F.substring(hstr, 1, 15), 16, 10).cast("long")
    from pyspark.sql import Window as W

    w = W.partitionBy(hnum % 16).orderBy(hstr, "doc_id")
    return docs.select(
        "doc_id",
        (hnum % 16).alias("shard"),
        F.row_number().over(w).alias("pos_in_shard"),
    )


@query(
    "doc_ngram_df_top20",
    category="documents",
    oracle=f"""{_SHINGLE_CTES}
    SELECT s AS ngram, COUNT(*) AS df
    FROM sh GROUP BY s
    ORDER BY df DESC, ngram LIMIT 20
    """,
)
def doc_ngram_df_top20(spark, sf_dir):
    """Corpus n-gram document frequency (contamination / boilerplate
    detection primitive): top-20 3-word shingles by the number of docs
    containing them. Partial counts combine map-side; the final top-20 is
    TakeOrderedAndProject (per-partition heaps, no global sort) — at
    100 TB the shuffle carries only distinct-shingle partial counts."""
    from ..operators.dedup import shingle_index

    idx = shingle_index(table(spark, sf_dir, "documents"), k=3, hashed=False)
    return (
        idx.groupBy(F.col("shingle").alias("ngram"))
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.desc("df"), F.asc("ngram"))
        .limit(20)
    )


@query(
    "doc_repetition_filter",
    category="documents",
    oracle="""
    WITH g AS (
      SELECT doc_id,
             list_transform(
               generate_series(1, len(string_split(text, ' ')) - 1),
               i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
             ) AS grams
      FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ),
    r AS (
      SELECT doc_id, len(grams) AS total,
             len(grams) - len(list_distinct(grams)) AS dup
      FROM g
    )
    SELECT doc_id, ROUND(dup * 1.0 / total, 4) AS rep_ratio
    FROM r WHERE dup * 25 >= total * 2
    """,
)
def doc_repetition_filter(spark, sf_dir):
    """Gopher-style repetition filter: docs whose duplicate-2-gram ratio
    is >= 0.08 (threshold as integer cross-multiplication, dup*25 >=
    total*2 — calibrated to flag the top few percent of the fixture
    corpus, whose ratios top out near 0.13)
    — the standard low-quality/boilerplate signal for pretraining corpora.
    Pure per-row array expressions (split -> 2-gram transform -> distinct
    count), no explode and no shuffle: the filter runs scan-side at
    100 TB and only survivors reach downstream stages."""
    docs = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.concat_ws(
            " ", F.element_at(toks, i.cast("int")), F.element_at(toks, (i + 1).cast("int"))
        ),
    )
    total = F.size(grams)
    dup = total - F.size(F.array_distinct(grams))
    return (
        docs.filter(n >= 2)
        .select(
            "doc_id",
            F.round(dup * F.lit(1.0) / total, 4).alias("rep_ratio"),
            (dup * 25 >= total * 2).alias("_keep"),
        )
        .filter(F.col("_keep"))
        .drop("_keep")
    )


@query(
    "doc_benchmark_decontamination",
    category="documents",
    oracle=f"""{_SHINGLE_CTES},
    bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 100 = 0),
    corpus AS (SELECT doc_id, s FROM sh WHERE doc_id % 100 <> 0),
    hits AS (
      SELECT c.doc_id, COUNT(*) AS n_hit
      FROM corpus c JOIN bench b ON c.s = b.s
      GROUP BY c.doc_id
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM corpus GROUP BY doc_id)
    SELECT sz.doc_id, ROUND(COALESCE(n_hit, 0) * 1.0 / n, 4) AS overlap
    FROM sz LEFT JOIN hits ON sz.doc_id = hits.doc_id
    WHERE COALESCE(n_hit, 0) * 20 >= n
    """,
)
def doc_benchmark_decontamination(spark, sf_dir):
    """Benchmark decontamination — the eval-leak check every pretraining
    pipeline runs: docs sharing >= 5% of their 3-gram shingles with a
    held-out benchmark set (here: doc_id % 100 == 0 as the deterministic
    stand-in) are flagged (threshold calibrated to the synthetic corpus, whose
    overlaps top out near 0.13). The benchmark shingle set is tiny relative to
    the corpus, so Spark broadcasts it and the check is a map-side semi
    probe + one count aggregation — at 100 TB the corpus is never
    shuffled, only scanned. Threshold via integer cross-multiplication."""
    from ..operators.dedup import shingle_index

    docs = table(spark, sf_dir, "documents")
    idx = shingle_index(docs, k=3, hashed=True)
    bench = (
        idx.filter(F.col("doc_id") % 100 == 0).select("shingle").distinct()
    )
    corpus = idx.filter(F.col("doc_id") % 100 != 0)
    hits = (
        corpus.join(F.broadcast(bench), "shingle", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    sz = corpus.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    n_hit = F.coalesce(F.col("n_hit"), F.lit(0))
    return (
        sz.join(hits, "doc_id", "left")
        .filter(n_hit * 20 >= F.col("n"))
        .select("doc_id", F.round(n_hit * 1.0 / F.col("n"), 4).alias("overlap"))
    )


@query(
    "doc_dedup_clusters",
    category="documents",
    oracle="""
    WITH RECURSIVE w AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ),
    sh AS MATERIALIZED (
      SELECT DISTINCT doc_id,
             UNNEST(list_transform(generate_series(1, len(ws) - 2),
                                   i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
      FROM w
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS MATERIALIZED (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM inter
      JOIN sz sa ON doc_a = sa.doc_id
      JOIN sz sb ON doc_b = sb.doc_id
      WHERE c * 5 >= (sa.n + sb.n - c) * 4
    ),
    -- MATERIALIZED matters: each reach iteration re-executes its plan,
    -- and with edges inlined as a view the quadratic shingle self-join
    -- re-runs PER ITERATION (the sf1.0 resource wall: >900 s spilling
    -- inlined vs 94 s materialized, identical rows).
    edges AS MATERIALIZED (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(a, b) AS (
      SELECT u, u FROM edges
      UNION
      SELECT r.a, e.v FROM reach r JOIN edges e ON r.b = e.u
    )
    SELECT a AS doc_id, MIN(b) AS cluster_id,
           CAST(a = MIN(b) AS BOOLEAN) AS is_keeper
    FROM reach GROUP BY a
    """,
)
def doc_dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTERING — pairs are not enough to dedup: A~B and B~C
    must collapse into ONE keeper even when A!~C. Connected components
    over the >= 0.8-Jaccard pair graph via distributed min-label
    propagation (operators/graph.py): keeper = min doc_id per component.
    The oracle computes the same transitive closure with a recursive CTE
    — feasible because near-dup graphs are tiny cliques; the Spark side
    is the iterative-join form that scales to corpus-sized graphs (no
    driver-side union-find, data never collected)."""
    pairs = ngram_jaccard_pairs(table(spark, sf_dir, "documents"), k=3, threshold=0.8)
    from ..operators.graph import connected_components

    cc = connected_components(pairs.select("doc_a", "doc_b"))
    return cc.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("node") == F.col("component")).alias("is_keeper"),
    )


@query(
    "doc_tfidf_topterms",
    category="documents",
    oracle="""
    WITH tok AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS t FROM documents
    ),
    tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM tok GROUP BY doc_id, t),
    df AS (SELECT t, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, t FROM tok) GROUP BY t),
    ranked AS (
      SELECT tf.doc_id, tf.t, tf.tf, df.df,
             ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                                ORDER BY tf.tf DESC, df.df ASC, tf.t ASC) AS rnk
      FROM tf JOIN df ON tf.t = df.t
    )
    SELECT doc_id, rnk, t AS term, tf, df
    FROM ranked WHERE rnk <= 3
    """,
)
def doc_tfidf_topterms(spark, sf_dir):
    """TF-IDF top terms per doc, rank-only formulation: the top-3 terms
    by (tf DESC, df ASC, term) — the exact ordering a tf x log(N/df)
    score induces for fixed N, WITHOUT computing logs (libm last-ulp
    differences between engines would make a float score unverifiable).
    Plan: one explode, tf and df aggregates both keyed on the token so
    the df join reuses the distribution, then a per-doc top-k window.
    At 100 TB the df table is the corpus vocabulary — still millions of
    rows, broadcastable after frequency pruning."""
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents")
    tok = spread(docs, "doc_id").select(
        "doc_id", F.explode(F.split("text", " ")).alias("t")
    )
    tf = tok.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("tf"))
    df = (
        tok.select("doc_id", "t").distinct()
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tf"), F.asc("df"), F.asc("t"))
    return (
        tf.join(df, "t")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "rnk", F.col("t").alias("term"), "tf", "df")
    )


@query(
    "doc_corpus_dedup_materialize",
    category="documents",
    oracle="""
    WITH RECURSIVE exact_k AS (
      SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY sha256(text)
    ),
    w AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ),
    sh AS MATERIALIZED (
      SELECT DISTINCT doc_id,
             UNNEST(list_transform(generate_series(1, len(ws) - 2),
                                   i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
      FROM w
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS MATERIALIZED (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM inter
      JOIN sz sa ON doc_a = sa.doc_id
      JOIN sz sb ON doc_b = sb.doc_id
      WHERE c * 5 >= (sa.n + sb.n - c) * 4
    ),
    -- MATERIALIZED matters: each reach iteration re-executes its plan,
    -- and with edges inlined as a view the quadratic shingle self-join
    -- re-runs PER ITERATION (the sf1.0 resource wall: >900 s spilling
    -- inlined vs 94 s materialized, identical rows).
    edges AS MATERIALIZED (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(a, b) AS (
      SELECT u, u FROM edges
      UNION
      SELECT r.a, e.v FROM reach r JOIN edges e ON r.b = e.u
    ),
    drop_near AS (
      SELECT a AS doc_id FROM reach GROUP BY a HAVING a <> MIN(b)
    )
    SELECT d.doc_id, d.source, d.lang
    FROM documents d
    JOIN exact_k USING (doc_id)
    WHERE d.doc_id NOT IN (SELECT doc_id FROM drop_near)
    """,
)
def doc_corpus_dedup_materialize(spark, sf_dir):
    """The dedup OUTPUT artifact — not pair lists or cluster labels but
    the kept corpus itself: byte-exact duplicates collapse to the min
    doc_id (sha256 groups), then near-dup cluster members lose to their
    component keeper. Composes exact_dedup + connected_components with
    two anti joins; everything upstream is the already-verified operator
    chain, so this is the end-to-end curation path a pipeline actually
    ships. Scale: both anti joins broadcast (keeper and drop lists are
    tiny relative to the corpus)."""
    docs = table(spark, sf_dir, "documents")
    exact_keepers = exact_dedup(docs).select(F.col("keeper_id").alias("doc_id"))
    pairs = ngram_jaccard_pairs(docs, k=3, threshold=0.8)
    from ..operators.graph import connected_components

    cc = connected_components(pairs.select("doc_a", "doc_b"))
    drop_near = cc.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    return (
        docs.join(exact_keepers, "doc_id", "left_semi")
        .join(drop_near, "doc_id", "left_anti")
        .select("doc_id", "source", "lang")
    )


_CONTAINMENT_ORACLE = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
  WHERE len(string_split(text, ' ')) >= 3
),
sh AS (
  SELECT DISTINCT doc_id,
         UNNEST(list_transform(generate_series(1, len(ws) - 2),
                               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
  FROM w
),
sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
dpairs AS (
  SELECT doc_a, doc_b, c FROM inter
  UNION ALL
  SELECT doc_b, doc_a, c FROM inter
)
SELECT dpairs.doc_a AS contained_id, dpairs.doc_b AS container_id,
       ROUND(c * 1.0 / sa.n, 4) AS containment
FROM dpairs JOIN sz sa ON dpairs.doc_a = sa.doc_id
WHERE c * 5 >= sa.n * 4
"""


@query("doc_containment_dedup", category="documents", oracle=_CONTAINMENT_ORACLE)
def doc_containment_dedup(spark, sf_dir):
    """Directed containment C(A→B) = |shingles(A)∩shingles(B)| /
    |shingles(A)| ≥ 0.8 — the asymmetric cousin of Jaccard that catches a
    document QUOTED INSIDE a larger one (Jaccard misses it when sizes
    differ). Routed dual-path (operators/dedup.containment_pairs, the
    ngram_jaccard_pairs discipline): on THIS fixture the shingle dfs are
    near-uniform ~100 (no rare tail), _prefix_join_wins keeps the fused
    self-join+count floor plan (the c>0 pair set is ~dense-quadratic by
    workload construction — 261 M joined rows at 50 k docs); on natural
    Zipfian corpora the asymmetric prefix filter (prefix(A) ⋈ full index,
    lemma-complete because C ≥ t bounds how many of A's shingles can miss
    B) collapses candidates to near-linear — measured in
    bench_records/r7_zipf_scaling.json. Both plans are exact; the
    undirected intersection is computed once and emitted in whichever
    directions clear the integer cross-multiplied threshold."""
    docs = table(spark, sf_dir, "documents")
    return containment_pairs(docs, k=3, threshold=0.8)


@query(
    "doc_pii_scrub",
    category="documents",
    oracle=r"""
    WITH synth AS (
      SELECT doc_id,
             'reach ' || source || '@example.org or admin@' || lang ||
             '.example.com ip 10.' || CAST(doc_id % 256 AS VARCHAR) ||
             '.0.1 tel ' || CAST(100 + doc_id % 900 AS VARCHAR) || '-' ||
             CAST(1000 + doc_id % 9000 AS VARCHAR) || ' ' || text AS raw
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(raw,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
             '\b\d{3}-\d{4}\b', '<PHONE>', 'g') AS scrubbed
    FROM synth
    """,
)
def doc_pii_scrub(spark, sf_dir):
    """PII redaction pass — emails, IPv4 addresses and phone-shaped
    numbers replaced with typed placeholders before a corpus ships to
    training (the fixture text is synthetic words, so the PII is
    deterministically injected from key columns first, making the scrub
    oracle-checkable). Three chained regexp_replace calls, all JVM-side in
    one codegen stage; the patterns stay inside the regex subset Java and
    RE2 interpret identically (explicit classes, bounded repeats, \\b)."""
    docs = table(spark, sf_dir, "documents")
    raw = F.concat(
        F.lit("reach "), F.col("source"), F.lit("@example.org or admin@"),
        F.col("lang"), F.lit(".example.com ip 10."),
        (F.col("doc_id") % 256).cast("string"), F.lit(".0.1 tel "),
        (F.col("doc_id") % 900 + 100).cast("string"), F.lit("-"),
        (F.col("doc_id") % 9000 + 1000).cast("string"), F.lit(" "),
        F.col("text"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                raw, r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"
            ),
            r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
            "<IP>",
        ),
        r"\b\d{3}-\d{4}\b",
        "<PHONE>",
    )
    return docs.select("doc_id", scrubbed.alias("scrubbed"))


@query(
    "doc_unigram_logprob",
    category="documents",
    oracle="""
    WITH tok AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS w
      FROM documents
    ),
    vocab AS (
      SELECT w, COUNT(*) AS c FROM tok GROUP BY w
    ),
    tot AS (SELECT SUM(c) AS n FROM vocab),
    scored AS (
      SELECT t.doc_id, ln(v.c * 1.0 / tot.n) AS lp
      FROM tok t JOIN vocab v ON t.w = v.w CROSS JOIN tot
    )
    SELECT doc_id,
           ROUND(SUM(lp) / COUNT(*), 4) AS avg_logprob,
           COUNT(*) AS n_tokens
    FROM scored GROUP BY doc_id
    """,
)
def doc_unigram_logprob(spark, sf_dir):
    """Unigram language-model scoring — the perplexity-style quality
    filter of a training pipeline (docs whose tokens are corpus-atypical
    score low): train the unigram distribution on the corpus itself in
    one aggregate, broadcast it back onto the token stream, average the
    per-token log-probabilities per document. Probabilities are exact
    count ratios, so ln() sees identical rationals on both engines; the
    per-doc sum is ≤ ~150 terms, far inside the 4-dp rounding. The vocab
    table is |vocab| rows (tiny) — the join back is a broadcast, and the
    token explode never re-shuffles except on doc_id for the final
    mean."""
    docs = table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    vocab = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    tot = vocab.agg(F.sum("c").alias("n"))
    scored = (
        tok.join(F.broadcast(vocab), "w")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", F.log(F.col("c") * 1.0 / F.col("n")).alias("lp"))
    )
    return scored.groupBy("doc_id").agg(
        F.round(F.sum("lp") / F.count(F.lit(1)), 4).alias("avg_logprob"),
        F.count(F.lit(1)).alias("n_tokens"),
    )


@query(
    "doc_zipf_fit",
    category="documents",
    oracle="""
    WITH vocab AS (
      SELECT w, COUNT(*) AS c
      FROM (SELECT UNNEST(string_split(text, ' ')) AS w FROM documents)
      GROUP BY w
    ),
    ranked AS (
      SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS rk
      FROM vocab
    ),
    pts AS (SELECT ln(rk) AS x, ln(c) AS y FROM ranked),
    s AS (
      SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx
      FROM pts
    )
    SELECT n AS vocab_size,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS zipf_slope
    FROM s
    """,
)
def doc_zipf_fit(spark, sf_dir):
    """Zipf-law fit of the corpus vocabulary: OLS slope of ln(freq) vs
    ln(rank) — natural text sits near −1, and a corpus whose slope drifts
    far from it is boilerplate- or spam-heavy (a standard
    corpus-health probe). Ranks are deterministic (count DESC, word);
    both engines evaluate ln() on identical integers, and the normal-
    equation sums run over the same ~1e2-term series, so the 4-dp
    rounding absorbs the double reorder noise. One explode + two
    aggregations; the vocabulary relation is tiny at any corpus scale."""
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    rk = vocab.select(
        "c",
        F.row_number()
        .over(W.orderBy(F.col("c").desc(), F.col("w")))
        .alias("rk"),
    )
    pts = rk.select(F.log(F.col("rk").cast("double")).alias("x"), F.log(F.col("c").cast("double")).alias("y"))
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n, sx, sy, sxy, sxx = (F.col(c) for c in ["n", "sx", "sy", "sxy", "sxx"])
    return s.select(
        n.alias("vocab_size"),
        F.round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4).alias("zipf_slope"),
    )


@query(
    "doc_quality_decile",
    category="documents",
    oracle="""
    SELECT doc_id,
           NTILE(10) OVER (ORDER BY n_chars, doc_id) AS decile
    FROM documents
    """,
)
def doc_quality_decile(spark, sf_dir):
    """Corpus-wide quality bucketing: every document assigned a decile of
    the length distribution via ntile(10) under a deterministic
    (score, pk) total order — the stratification step before per-decile
    sampling rates in a data-mix recipe. A single global sort (ntile
    needs the total order) — at 100 TB this becomes range-partitioned
    percent_rank instead, which the distribution family already
    provides."""
    docs = table(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    w = W.orderBy("n_chars", "doc_id")
    return docs.select("doc_id", F.ntile(10).over(w).alias("decile"))


@query(
    "doc_dedup_keep_longest",
    category="documents",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, n_chars, md5(lower(trim(text))) AS k
      FROM documents
    ),
    rk AS (
      SELECT doc_id, n_chars, k,
             ROW_NUMBER() OVER (PARTITION BY k
                                ORDER BY n_chars DESC, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY k) AS n_copies
      FROM keyed
    )
    SELECT k AS norm_key, doc_id AS keeper_id, n_chars AS keeper_len, n_copies
    FROM rk WHERE rn = 1
    """,
)
def doc_dedup_keep_longest(spark, sf_dir):
    """Quality-aware keeper election: dedup on the NORMALIZED text
    (lower+trim — catches case/whitespace variants exact-hash dedup
    misses) keeping the LONGEST raw document instead of the smallest id —
    the curation policy when near-identical pages differ by truncation.
    max_by over a (length, -id) struct would need a sign trick for the
    tie, so the portable spelling is the ranked window; one shuffle on
    the normalized key."""
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents")
    k = F.md5(F.lower(F.trim(F.col("text"))))
    keyed = docs.select("doc_id", "n_chars", k.alias("k"))
    w = W.partitionBy("k").orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    rk = keyed.select(
        "doc_id",
        "n_chars",
        "k",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("k")).alias("n_copies"),
    )
    return rk.where(F.col("rn") == 1).select(
        F.col("k").alias("norm_key"),
        F.col("doc_id").alias("keeper_id"),
        F.col("n_chars").alias("keeper_len"),
        "n_copies",
    )


@query(
    "doc_vocab_overlap_matrix",
    category="documents",
    oracle="""
    WITH sw AS (
      SELECT DISTINCT source, UNNEST(string_split(text, ' ')) AS w
      FROM documents
    ),
    sz AS (SELECT source, COUNT(*) AS n FROM sw GROUP BY source),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS c
      FROM sw a JOIN sw b ON a.w = b.w AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT src_a, src_b,
           ROUND(c * 1.0 / (sa.n + sb.n - c), 4) AS vocab_jaccard
    FROM inter
    JOIN sz sa ON src_a = sa.source
    JOIN sz sb ON src_b = sb.source
    """,
)
def doc_vocab_overlap_matrix(spark, sf_dir):
    """Source-level vocabulary overlap matrix: Jaccard between each pair
    of sources' distinct token sets — the cross-contamination /
    domain-similarity diagnostic a data-mix designer reads before
    setting sampling weights (two sources with ~1.0 overlap are the same
    domain crawled twice). Same inverted-index shape as document
    near-dup but keyed at source granularity: |sources|² output, the
    token-level join carries only true collisions."""
    docs = table(spark, sf_dir, "documents")
    sw = (
        docs.select("source", F.explode(F.split("text", " ")).alias("w"))
        .distinct()
    )
    sz = sw.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a, b = sw.alias("a"), sw.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.w") == F.col("b.w")) & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sa = sz.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
    sb = sz.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
    jac = F.col("c") / (F.col("n_a") + F.col("n_b") - F.col("c"))
    return (
        inter.join(sa, "src_a")
        .join(sb, "src_b")
        .select("src_a", "src_b", F.round(jac, 4).alias("vocab_jaccard"))
    )


@query(
    "doc_tokens_per_char",
    category="documents",
    oracle=f"""
    WITH t AS (
      SELECT source, n_chars,
             len(regexp_extract_all(text, '{BPE_TOKEN_PATTERN}')) AS n_tok
      FROM documents
    )
    SELECT source,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           ROUND(SUM(n_chars) * 1.0 / SUM(n_tok), 4) AS chars_per_token
    FROM t GROUP BY source
    """,
)
def doc_tokens_per_char(spark, sf_dir):
    """Tokenizer compression ratio per source (chars per BPE-ish
    pre-token) — the metric that decides a source's effective token
    budget and flags sources the tokenizer handles badly (code, non-
    Latin scripts blow up token counts). Both totals are exact integer
    sums; the ratio is one double division of identical integers."""
    docs = table(spark, sf_dir, "documents")
    t = docs.select(
        "source",
        "n_chars",
        F.size(F.regexp_extract_all("text", F.lit(BPE_TOKEN_PATTERN), 0)).alias(
            "n_tok"
        ),
    )
    return t.groupBy("source").agg(
        F.sum("n_chars").alias("total_chars"),
        F.sum("n_tok").alias("total_tokens"),
        F.round(
            F.sum("n_chars") * 1.0 / F.sum("n_tok"), 4
        ).alias("chars_per_token"),
    )


@query(
    "doc_winnowing_fingerprint",
    category="documents",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    kgrams AS (
      SELECT doc_id, g.pos,
             ('0x' || substr(md5(array_to_string(
                 list_slice(t, g.pos + 1, g.pos + 4), ' ')), 1, 15))::BIGINT
               AS h,
             len(t) - 4 + 1 AS m
      FROM toks, LATERAL (
        SELECT UNNEST(generate_series(0, len(t) - 4)) AS pos
      ) g
      WHERE len(t) >= 4
    ),
    winmin AS (
      SELECT doc_id, pos, m,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel
      FROM kgrams
    ),
    fps AS (
      SELECT DISTINCT doc_id, sel FROM winmin WHERE pos <= m - 4
    )
    SELECT doc_id, COUNT(*) AS n_fp,
           MIN(sel) AS fp_min, MAX(sel) AS fp_max,
           bit_xor(sel) AS fp_xor
    FROM fps GROUP BY doc_id
    """,
)
def doc_winnowing_fingerprint(spark, sf_dir):
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    algorithm): hash every 4-token shingle with the engine-portable
    md5-prefix hash, slide a window of 4 consecutive shingle hashes, and
    keep the minimum hash of each window — the guarantee is that any match
    of ≥ w+k-1 tokens between two documents shares at least one selected
    fingerprint, at a fraction ~2/(w+1) of all shingles. The fingerprint
    set is summarized per doc as (count, min, max, xor) so the oracle
    compares a compact exact signature rather than a giant array — note
    the xor fold is a weaker checksum than a sum (a value appearing an
    even number of times cancels), partially mitigated by the retained
    n_fp/min/max components. Scan-side
    generate + one bounded window per doc; at 100 TB this is
    embarrassingly parallel per document (no cross-doc shuffle until the
    optional candidate join)."""
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t")).where(
        F.size("t") >= 4
    )
    kg = toks.select(
        "doc_id",
        (F.size("t") - 3).alias("m"),
        F.posexplode(F.sequence(F.lit(0), F.size("t") - 4)).alias("_i", "pos"),
        F.col("t"),
    ).select(
        "doc_id",
        "m",
        "pos",
        F.conv(
            F.substring(
                F.md5(F.concat_ws(" ", F.slice("t", F.col("pos") + 1, 4))), 1, 15
            ),
            16,
            10,
        )
        .cast("long")
        .alias("h"),
    )
    wmin = W.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 3)
    sel = kg.select(
        "doc_id", "pos", "m", F.min("h").over(wmin).alias("sel")
    ).where(F.col("pos") <= F.col("m") - 4)
    fps = sel.select("doc_id", "sel").distinct()
    return fps.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fp"),
        F.min("sel").alias("fp_min"),
        F.max("sel").alias("fp_max"),
        # xor-fold checksum of the fingerprint set: order-independent,
        # never overflows int64 (a DECIMAL sum widens to HUGEINT on the
        # oracle side, which the driver's pandas path reads as float64)
        F.expr("bit_xor(sel)").alias("fp_xor"),
    )


@query(
    "doc_bm25_search",
    category="documents",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    dl AS (SELECT doc_id, len(t) AS dl FROM toks),
    corpus AS (
      SELECT COUNT(*) AS n, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl
    ),
    tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf
      FROM (SELECT doc_id, UNNEST(t) AS tok FROM toks)
      WHERE tok IN ('table', 'query', 'spark') GROUP BY 1, 2
    ),
    df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
    sc AS (
      SELECT tf.doc_id,
             SUM(ln((n - df + 0.5) / (df + 0.5))
                 * (tf * 2.2)
                 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl))) AS score
      FROM tf JOIN df USING (tok) JOIN dl USING (doc_id) CROSS JOIN corpus
      GROUP BY 1
    )
    SELECT doc_id, ROUND(score, 4) AS score
    FROM sc ORDER BY score DESC, doc_id LIMIT 10
    """,
)
def doc_bm25_search(spark, sf_dir):
    """BM25 full-text ranking (k1=1.2, b=0.75) of the corpus against a
    3-term query — the lexical-retrieval side of a training-data /search
    stack next to the vector top-k. Classic Robertson idf
    ln((N-df+0.5)/(df+0.5)) with document-length normalization against
    the corpus mean. Term frequencies, document frequencies, and lengths
    are all exact integers; the float score is one identically-spelled
    dataflow on both engines. Plan shape: tokenize-explode → filtered tf
    aggregate (the term filter prunes the explode to |Q| terms),
    broadcast df + corpus stats back, TakeOrderedAndProject top-10 — at
    100 TB the only shuffle is the (doc, term) partial count."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    dl = toks.select("doc_id", F.size("t").alias("dl"))
    corpus = dl.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        toks.select("doc_id", F.explode("t").alias("tok"))
        .where(F.col("tok").isin("table", "query", "spark"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    j = (
        tf.join(F.broadcast(df), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
    )
    idf = F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    den = F.col("tf") + 1.2 * (
        1 - 0.75 + 0.75 * F.col("dl") / F.col("avgdl")
    )
    sc = j.groupBy("doc_id").agg(
        F.sum(idf * (F.col("tf") * 2.2) / den).alias("score")
    )
    return (
        sc.select("doc_id", F.round("score", 4).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
    )


_DUP_SPAN_ORACLE = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
base AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM toks),
g AS (
  SELECT doc_id, pos - 1 AS pos,
         substr(md5(array_to_string(list_slice(t, pos, pos + 7), ' ')), 1, 16) AS h
  FROM toks, LATERAL (SELECT UNNEST(generate_series(1, len(t) - 7)) AS pos) s
  WHERE len(t) >= 8
),
dupg AS (SELECT h FROM g GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
cov AS (
  SELECT DISTINCT g.doc_id, u.tok
  FROM g JOIN dupg USING (h),
       LATERAL (SELECT UNNEST(generate_series(g.pos, g.pos + 7)) AS tok) u
),
ncov AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_covered FROM cov GROUP BY doc_id)
SELECT b.doc_id, b.n_tokens,
       COALESCE(n.n_covered, 0) AS n_covered,
       ROUND(COALESCE(n.n_covered, 0) * 1.0 / b.n_tokens, 4) AS dup_coverage,
       COALESCE(n.n_covered, 0) * 2 <= b.n_tokens AS keep
FROM base b LEFT JOIN ncov n USING (doc_id)
"""


@query("doc_dup_span_coverage", category="documents", oracle=_DUP_SPAN_ORACLE)
def doc_dup_span_coverage(spark, sf_dir):
    """Duplicated-span coverage filter — the n-gram-granular stand-in for
    suffix-array substring dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): a token position is
    'duplicated' when some 8-gram window containing it also appears in
    ANOTHER document; docs whose duplicated coverage exceeds 50% are
    dropped. Unlike whole-doc Jaccard this catches boilerplate spans
    pasted into otherwise-unique documents.

    Scale shape: one explode to 8-gram rows carrying (doc_id, pos,
    16-hex-char md5 of the gram) — never the gram text; document
    frequency is one groupBy on that fixed-width key (map-side
    combinable); covered positions re-explode ONLY grams that proved
    duplicated (bounded 8x on the duplicated subset, not the corpus).
    The keep verdict is integer arithmetic (2*covered <= tokens), no
    float compare. md5 is the portable-oracle stand-in for xxhash64 —
    the one-line swap for production. Reference delegates all analytics
    to ClickHouse (solarman.py:192-225); this family is the engine's
    training-data surface beyond that."""
    return _span_cov_frame(table(spark, sf_dir, "documents")).select(
        "doc_id",
        "n_tokens",
        "n_covered",
        F.round(F.col("n_covered") * 1.0 / F.col("n_tokens"), 4).alias("dup_coverage"),
        (F.col("n_covered") * 2 <= F.col("n_tokens")).alias("keep"),
    )


def _span_cov_frame(docs):
    """(doc_id, n_tokens, n_covered) for the duplicated-8-gram coverage of
    whatever corpus slice ``docs`` carries — tier-composable: run it on a
    survivor set and the document frequencies reflect that set only."""
    from ..caching import tracked_persist

    t = F.split("text", " ")
    # spread: the 8-gram slice+hash explode below otherwise runs inside
    # the one-task single-file scan stage (serial); no-op at scale.
    toks = spread(docs, "doc_id").select(
        "doc_id", t.alias("t"), F.size(t).cast("long").alias("n_tokens")
    )
    grams = tracked_persist(
        toks.where(F.col("n_tokens") >= 8)
        .select(
            "doc_id",
            # The gram hash never leaves this frame — it only groups equal
            # 8-grams — so any collision-free hash yields the same result;
            # xxhash64 stays in codegen with no digest/hex materialization
            # (the oracle groups on the raw gram string for the same reason).
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), (F.col("n_tokens") - 7).cast("int")),
                    lambda i: F.xxhash64(F.concat_ws(" ", F.slice(F.col("t"), i, 8))),
                )
            ).alias("pos", "h"),
        )
        # persisted: the gram index feeds BOTH the document-frequency
        # aggregate and the covered-position join — without it the
        # tokenize+slice+hash explode runs twice per action (the
        # ngram_jaccard_pairs persist discipline; at 100 TB this is the
        # standard DISK-spillable materialization of a fixed-width index,
        # 16 B/gram, never the gram text)
    )
    dupg = (
        grams.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("df"))
        .where(F.col("df") >= 2)
        .select("h")
    )
    cov = (
        grams.join(dupg, "h")
        .select("doc_id", F.explode(F.sequence(F.col("pos"), F.col("pos") + 7)).alias("tok"))
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_covered"))
    )
    return (
        toks.select("doc_id", "n_tokens")
        .join(cov, "doc_id", "left")
        .select(
            "doc_id", "n_tokens", F.coalesce("n_covered", F.lit(0)).alias("n_covered")
        )
    )


def _qcls_weights(n: int = 64, seed: int = 1337) -> list[float]:
    """Deterministic stand-in weight vector for the hashed linear
    classifier: w_j in [-0.5, 0.5), reproducible from the Knuth
    multiplicative constant — in production these come from a trained
    fasttext/logreg quality model; literalizing them keeps the entire
    scoring path oracle-replayable."""
    return [
        (((j + seed) * 2654435761) % 1000) / 1000.0 - 0.5 for j in range(n)
    ]


def _quality_classifier_oracle() -> str:
    w = _qcls_weights()
    wlit = "[" + ", ".join(repr(x) for x in w) + "]::DOUBLE[]"
    return f"""
    WITH toks AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ),
    feat AS (
      SELECT doc_id, n_tokens,
             ('0x' || substr(md5(tok), 1, 15))::BIGINT % 64 AS j,
             COUNT(*) AS cnt
      FROM toks GROUP BY doc_id, n_tokens, j
    ),
    folded AS (
      SELECT doc_id,
             list_reduce(
               list_prepend(0.0,
                 list_transform(list(j * 1000000 + cnt ORDER BY j),
                                p -> (p % 1000000) * 1.0 / MAX(n_tokens)
                                     * ({wlit})[(p // 1000000) + 1])),
               (a, b) -> a + b) AS logit
      FROM feat GROUP BY doc_id
    )
    SELECT doc_id,
           ROUND(1.0 / (1.0 + exp(-ROUND(logit, 8))), 4) AS quality_prob,
           ROUND(logit, 8) >= 0.0 AS keep
    FROM folded
    """


@query(
    "doc_quality_classifier",
    category="documents",
    oracle=_quality_classifier_oracle(),
)
def doc_quality_classifier(spark, sf_dir):
    """Model-based quality filter (the DCLM / FineWeb-Edu tier): a hashed
    bag-of-words linear classifier — token → 64-bucket portable md5 hash,
    tf = count/n_tokens, logit = Σ tf_j·w_j, P(keep) = σ(logit) — i.e.
    fasttext-without-the-training, with the trained weights literalized
    (swap _qcls_weights for real coefficients and nothing else changes).
    Feature counts are exact integers from one token explode + groupBy;
    the dot product folds the doc's PRESENT buckets in ascending-j order
    on both engines (features packed as j·1e6+cnt so the sorted fold and
    the weight lookup decode the same integer), the logit is quantized to
    8 dp before the sigmoid so a 1-ulp libm exp() divergence can't move
    the 4-dp output, and the keep cut compares the quantized logit to
    zero. Per-doc state is O(64); everything map-side-combines."""
    q = F.col("q8_logit")
    return _quality_logit_frame(table(spark, sf_dir, "documents")).select(
        "doc_id",
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-q)), 4).alias("quality_prob"),
        (q >= 0.0).alias("keep"),
    )


def _quality_logit_frame(docs):
    """(doc_id, q8_logit) — the hashed-linear-classifier logit, quantized
    to 8 dp, for whatever corpus slice ``docs`` carries. Per-doc only, so
    tiers can run it on any survivor subset unchanged."""
    w = _qcls_weights()
    wcol = F.array(*[F.lit(x) for x in w])
    # Split ONCE into a materialized column before the generator: a
    # non-generator expression sharing split(text) with explode(split(text))
    # in one select re-evaluates the split per OUTPUT row (~10x slower at
    # sf0.1, measured); projecting the array first makes Generate consume it.
    # spread: tokenize+hash+partial-agg all land in the SCAN stage, which
    # is one task on the single-file local fixture (measured as a serial
    # ~1.3 s stage inside doc_curation_v3); no-op on multi-file input.
    toks = spread(docs, "doc_id").select(
        "doc_id", F.split("text", " ").alias("t")
    ).select(
        "doc_id",
        F.size("t").alias("n_tokens"),
        F.explode("t").alias("tok"),
    )
    # Two-level aggregation: count per (doc, token) FIRST (map-side combine
    # collapses the token explosion before any hashing), then md5-bucket the
    # far smaller distinct-(doc, token) stream. The md5+conv runs once per
    # distinct token per doc instead of once per token instance — at corpus
    # scale that's the difference between |tokens| and |doc·vocab| hash
    # evaluations, with no broadcast assumption on the vocabulary.
    per_tok = toks.groupBy("doc_id", "n_tokens", "tok").agg(
        F.count(F.lit(1)).alias("tf")
    )
    feat = per_tok.groupBy(
        "doc_id",
        "n_tokens",
        (F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long") % 64).alias("j"),
    ).agg(F.sum("tf").alias("cnt"))
    packed = feat.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(F.col("j") * 1000000 + F.col("cnt"))).alias("ps"),
        F.max("n_tokens").alias("n_tokens"),
    )
    logit = F.aggregate(
        F.transform(
            "ps",
            lambda p: (p % 1000000) * F.lit(1.0)
            / F.col("n_tokens")
            * F.element_at(wcol, (F.floor(p / 1000000) + 1).cast("int")),
        ),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    return packed.select("doc_id", F.round(logit, 8).alias("q8_logit"))


def _curation_v3_oracle() -> str:
    from ..operators.similarity import lsh_multitable_planes

    w = _qcls_weights()
    wlit = "[" + ", ".join(repr(x) for x in w) + "]::DOUBLE[]"
    rows = []
    for t, planes in enumerate(lsh_multitable_planes(4, 3, 64, 7)):
        for p in range(3):
            vals = ", ".join(repr(float(x)) for x in planes[p])
            rows.append(f"({t}, {p}, [{vals}]::DOUBLE[])")
    plane_values = ",\n".join(rows)
    return f"""
WITH sha AS (SELECT doc_id, sha256(text) AS dg FROM documents),
keepA AS (
  SELECT s.doc_id FROM sha s
  JOIN (SELECT dg, MIN(doc_id) AS keeper FROM sha GROUP BY dg) k
    ON s.dg = k.dg AND s.doc_id = k.keeper
),
a AS (SELECT d.* FROM documents d JOIN keepA USING (doc_id)),
toksS AS (SELECT doc_id, string_split(text, ' ') AS t FROM a),
baseS AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM toksS),
g AS (
  SELECT doc_id, pos - 1 AS pos,
         substr(md5(array_to_string(list_slice(t, pos, pos + 7), ' ')), 1, 16) AS h
  FROM toksS, LATERAL (SELECT UNNEST(generate_series(1, len(t) - 7)) AS pos) s
  WHERE len(t) >= 8
),
dupg AS (SELECT h FROM g GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
cov AS (
  SELECT DISTINCT g.doc_id, u.tok
  FROM g JOIN dupg USING (h),
       LATERAL (SELECT UNNEST(generate_series(g.pos, g.pos + 7)) AS tok) u
),
ncov AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_covered FROM cov GROUP BY doc_id),
keepB AS (
  SELECT b.doc_id FROM baseS b LEFT JOIN ncov n USING (doc_id)
  WHERE COALESCE(n.n_covered, 0) * 2 <= b.n_tokens
),
b AS (SELECT a.* FROM a JOIN keepB USING (doc_id)),
toksQ AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok,
         len(string_split(text, ' ')) AS n_tokens
  FROM b
),
feat AS (
  SELECT doc_id, n_tokens,
         ('0x' || substr(md5(tok), 1, 15))::BIGINT % 64 AS j,
         COUNT(*) AS cnt
  FROM toksQ GROUP BY doc_id, n_tokens, j
),
folded AS (
  SELECT doc_id,
         list_reduce(
           list_prepend(0.0,
             list_transform(list(j * 1000000 + cnt ORDER BY j),
                            p -> (p % 1000000) * 1.0 / MAX(n_tokens)
                                 * ({wlit})[(p // 1000000) + 1])),
           (x, y) -> x + y) AS logit
  FROM feat GROUP BY doc_id
),
keepC AS (SELECT doc_id FROM folded WHERE ROUND(logit, 8) >= 0.0),
c AS (SELECT b.* FROM b JOIN keepC USING (doc_id)),
planes(tbl, pid, plane) AS (VALUES
{plane_values}
),
embc AS (
  SELECT e.vec_id, e.embedding::DOUBLE[] AS ev
  FROM embeddings e JOIN c ON e.vec_id = c.doc_id
),
buckets AS (
  SELECT vec_id,
         (tbl * 8)
           + SUM(CASE WHEN list_dot_product(ev, plane) > 0 THEN 1 << pid ELSE 0 END) AS bucket
  FROM embc CROSS JOIN planes
  GROUP BY vec_id, tbl
),
cand AS (
  SELECT DISTINCT lo.vec_id AS vec_a, hi.vec_id AS vec_b
  FROM buckets lo JOIN buckets hi USING (bucket)
  WHERE lo.vec_id < hi.vec_id
),
dropD AS (
  SELECT DISTINCT cn.vec_b AS doc_id
  FROM cand cn
  JOIN embc ea ON ea.vec_id = cn.vec_a
  JOIN embc eb ON eb.vec_id = cn.vec_b
  WHERE ROUND(list_dot_product(ea.ev, eb.ev)
        / (sqrt(list_dot_product(ea.ev, ea.ev)) * sqrt(list_dot_product(eb.ev, eb.ev))), 8)
        >= 0.45
)
SELECT d.doc_id,
       CASE WHEN ka.doc_id IS NULL THEN 'exact'
            WHEN kb.doc_id IS NULL THEN 'span'
            WHEN kc.doc_id IS NULL THEN 'quality'
            WHEN dd.doc_id IS NOT NULL THEN 'semantic'
            ELSE 'kept' END AS stage
FROM documents d
LEFT JOIN keepA ka USING (doc_id)
LEFT JOIN keepB kb USING (doc_id)
LEFT JOIN keepC kc USING (doc_id)
LEFT JOIN dropD dd USING (doc_id)
"""


@query("doc_curation_v3", python_boundary=True, category="documents", oracle=_curation_v3_oracle())
def doc_curation_v3(spark, sf_dir):
    """The modern curation funnel as ONE declarative plan — each doc exits
    with the stage that dropped it: 'exact' (sha2 min-id dedup) → 'span'
    (duplicated-8-gram coverage > 50%, recomputed on exact survivors) →
    'quality' (hashed linear classifier logit < 0) → 'semantic' (lower-id
    LSH-bucketed embedding neighbor at cosine >= 0.45 among quality
    survivors; docs without an embedding pass through) → 'kept'. Tier
    thresholds and constants are IDENTICAL to the standalone queries
    (doc_exact_dedup / doc_dup_span_coverage / doc_quality_classifier /
    vec_semdedup), so this query proves the tiers compose lazily into a
    single Catalyst DAG — no materialization barriers between stages, and
    Catalyst pushes each tier's column needs down independently. The
    oracle replays all four tiers including the plane constants.

    Cost note: a fully lazy composition re-expands the shared upstream
    lineage at every verdict join (sha×4, span×3, classifier×2 —
    ReuseExchange doesn't span those branches; measured ~10-16 s at
    sf0.1 vs ~4 s for the tiers summed). This implementation instead
    materializes each tier's SURVIVOR ID LIST — the smallest possible
    cut of the DAG, one bigint per surviving doc — via persist + count
    (localCheckpoint carries ~1.6 s of fixed RDD-materialization
    overhead per call at this scale; persist costs ~0.1 s), exactly the
    production pattern at 100 TB: each tier's heavy compute runs once,
    and survivor ids are orders of magnitude smaller than the docs
    themselves. The downstream tiers (C and D) are derived purely from
    the cached id frames, so the plan of the RETURNED DataFrame contains
    ZERO re-scans of the documents table (tests/test_plans.py pins
    this). Measured ~1.9 s at sf0.1 after the change (from 6.3 s), same
    result hash."""
    from ..operators.similarity import semdedup_bucketed

    docs = table(spark, sf_dir, "documents")
    sha = docs.select("doc_id", F.sha2("text", 256).alias("dg"))
    keeper = sha.groupBy("dg").agg(F.min("doc_id").alias("keeper"))
    keep_a_lazy = (
        sha.join(keeper, "dg")
        .filter(F.col("doc_id") == F.col("keeper"))
        .select("doc_id")
    )
    # The quality logit is a per-doc pure function (hashed bag-of-words dot
    # product), so its value does not depend on which tier set it is
    # evaluated over — compute it for ALL docs alongside the sha keeper
    # flag and materialize both in ONE job (3 narrow columns per doc).
    quality_all = (
        _quality_logit_frame(docs)
        .select("doc_id", (F.col("q8_logit") >= 0.0).alias("_q"))
    )
    flags = (
        docs.select("doc_id")
        .join(keep_a_lazy.withColumn("_a", F.lit(1)), "doc_id", "left")
        .join(quality_all, "doc_id", "left")
        .transform(tracked_persist)
    )
    flags.count()  # barrier: run each tier's heavy compute exactly once
    keep_a = flags.filter(F.col("_a").isNotNull()).select("doc_id")
    a = docs.join(keep_a, "doc_id")
    covb = _span_cov_frame(a)
    keep_b = (
        covb.filter(F.col("n_covered") * 2 <= F.col("n_tokens"))
        .select("doc_id")
        .transform(tracked_persist)
    )
    keep_b.count()
    # Tier-D input: ids surviving A∩B∩C — derived from the CACHED frames
    # only, so the semantic tier (and the whole returned plan) never
    # rescans the documents table.
    c_ids = (
        flags.filter(F.col("_a").isNotNull() & F.col("_q"))
        .join(keep_b, "doc_id")
        .select("doc_id")
    )
    emb = table(spark, sf_dir, "embeddings")
    embc = emb.join(c_ids.select(F.col("doc_id").alias("vec_id")), "vec_id")
    drop_d = (
        semdedup_bucketed(embc, tau=0.45, n_tables=4, n_planes=3, dim=64, seed=7)
        .filter(~F.col("is_kept"))
        .select(F.col("vec_id").alias("doc_id"), F.lit(1).alias("_d"))
    )
    verdict = (
        flags
        .join(keep_b.withColumn("_b", F.lit(1)), "doc_id", "left")
        .join(drop_d, "doc_id", "left")
    )
    stage = (
        F.when(F.col("_a").isNull(), F.lit("exact"))
        .when(F.col("_b").isNull(), F.lit("span"))
        .when(~F.coalesce(F.col("_q"), F.lit(False)), F.lit("quality"))
        .when(F.col("_d").isNotNull(), F.lit("semantic"))
        .otherwise(F.lit("kept"))
    )
    return verdict.select("doc_id", stage.alias("stage"))


@query(
    "doc_curation_funnel_report", python_boundary=True,
    category="documents",
    oracle=(
        "SELECT stage, COUNT(*) AS n_docs,\n"
        "       CAST(COUNT(*) * 1000000 // SUM(COUNT(*)) OVER ()"
        " AS BIGINT) AS share_e6\n"
        "FROM (\n" + _curation_v3_oracle() + "\n) v GROUP BY stage"
    ),
)
def doc_curation_funnel_report(spark, sf_dir):
    """The curation funnel as the REPORT a pipeline owner actually reads:
    per-stage document counts and the survivor fraction in exact ppm —
    derived from the same doc_curation_v3 plan (one extra 5-row
    aggregation over its verdict output), so the report is guaranteed
    consistent with the per-doc verdicts the funnel emits."""
    from pyspark.sql import Window as W

    v = doc_curation_v3(spark, sf_dir)
    # exact ppm denominator folded into the aggregation as an unbounded
    # window over the 5-row stage counts (same shape as the oracle's
    # SUM(COUNT(*)) OVER ()) — no extra driver-side count() action
    return (
        v.groupBy("stage")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            "stage",
            "n_docs",
            F.expr("n_docs * 1000000")
            .cast("long")
            .alias("_num"),
            F.sum("n_docs").over(W.partitionBy()).alias("_tot"),
        )
        .select(
            "stage",
            "n_docs",
            F.expr("_num DIV _tot").alias("share_e6"),
        )
    )


@query(
    "doc_chunk_split",
    category="documents",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t,
             len(string_split(text, ' ')) AS n
      FROM documents
    ),
    starts AS (
      SELECT doc_id, t, n, UNNEST(generate_series(0, n - 1, 24)) AS st
      FROM toks
    )
    SELECT doc_id,
           st // 24 AS chunk_id,
           st AS chunk_start,
           len(list_slice(t, st + 1, st + 32)) AS n_chunk_tokens,
           array_to_string(list_slice(t, st + 1, st + 32), ' ') AS chunk_text
    FROM starts
    """,
)
def doc_chunk_split(spark, sf_dir):
    """Fixed-size token chunking with overlap — the context-window prep
    step of every RAG / pre-training pipeline (chunk_size=32 tokens,
    overlap=8, i.e. stride 24): each document explodes into chunks
    starting at 0, 24, 48, ... while the start is inside the document,
    each chunk carrying up to 32 whitespace tokens. Pure JVM exprs:
    split → sequence(0, n-1, 24) → explode → slice → array_join, all
    inside whole-stage codegen, zero shuffles — at 100 TB this is a
    map-only pass whose output is the training corpus itself, so the
    plan (scan → project → generate) is exactly what a 1000-executor
    run wants: no exchange, pushdown-friendly, linear in input bytes.
    Deterministic string arithmetic on both engines (no floats)."""
    docs = table(spark, sf_dir, "documents")
    d = (
        docs.select("doc_id", F.split("text", " ").alias("t"))
        .withColumn("n", F.size("t"))
        .withColumn(
            "st",
            F.explode(F.sequence(F.lit(0), F.col("n") - F.lit(1), F.lit(24))),
        )
    )
    chunk = F.slice(F.col("t"), F.col("st") + F.lit(1), F.lit(32))
    return d.select(
        "doc_id",
        (F.col("st") / 24).cast("long").alias("chunk_id"),
        F.col("st").alias("chunk_start"),
        F.size(chunk).alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def _importance_resample_oracle() -> str:
    w = _qcls_weights()
    wlit = "[" + ", ".join(repr(x) for x in w) + "]::DOUBLE[]"
    return f"""
    WITH toks AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ),
    feat AS (
      SELECT doc_id, n_tokens,
             ('0x' || substr(md5(tok), 1, 15))::BIGINT % 64 AS j,
             COUNT(*) AS cnt
      FROM toks GROUP BY doc_id, n_tokens, j
    ),
    folded AS (
      SELECT doc_id,
             list_reduce(
               list_prepend(0.0,
                 list_transform(list(j * 1000000 + cnt ORDER BY j),
                                p -> (p % 1000000) * 1.0 / MAX(n_tokens)
                                     * ({wlit})[(p // 1000000) + 1])),
               (a, b) -> a + b) AS logit
      FROM feat GROUP BY doc_id
    ),
    scored AS (
      SELECT doc_id,
             CAST(ROUND(1000000.0 / (1.0 + exp(-ROUND(logit, 8)))) AS BIGINT)
               AS t6,
             ((doc_id * 2654435761) % 4294967296) % 1000000 AS u6
      FROM folded
    )
    SELECT d.source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN s.u6 < s.t6 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           ROUND(CAST(SUM(s.t6) AS DOUBLE) / COUNT(*) / 1000000.0, 4)
             AS avg_keep_prob
    FROM documents d JOIN scored s ON d.doc_id = s.doc_id
    GROUP BY d.source
    """


@query(
    "doc_importance_resample",
    category="documents",
    oracle=_importance_resample_oracle(),
)
def doc_importance_resample(spark, sf_dir):
    """Model-based importance resampling (the DCLM / quality-weighted
    sampling tier): instead of a hard keep cut, each document survives
    with probability σ(quality logit) — high-quality docs are kept
    nearly always, low-quality docs are down-sampled rather than purged,
    preserving distributional diversity. The Bernoulli draw is
    DETERMINISTIC: the keep probability quantizes to an integer
    threshold t6 = round(1e6·σ(q8_logit)) and compares against the
    per-doc Knuth-hash uniform u6 ∈ [0, 1e6) — stable across engines,
    reruns, and partitionings, and immune to 1-ulp libm exp()
    divergence everywhere except a ~1e-10-measure boundary set. The
    logit reuses _quality_logit_frame (one token explode + groupBy, all
    map-side-combinable); the report aggregates per source with the
    mean keep-probability derived from the exact BIGINT t6 sum.
    At 100 TB this is the classifier scan + one filter — no extra
    shuffle over the quality tier it extends."""
    docs = table(spark, sf_dir, "documents")
    scored = _quality_logit_frame(docs).select(
        "doc_id",
        F.round(F.lit(1000000.0) / (F.lit(1.0) + F.exp(-F.col("q8_logit"))))
        .cast("long")
        .alias("t6"),
        (((F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)) % 1000000)
        .alias("u6"),
    )
    return (
        docs.select("doc_id", "source")
        .join(scored, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("u6") < F.col("t6"), 1).otherwise(0)).alias("n_kept"),
            F.round(F.sum("t6").cast("double") / F.count(F.lit(1)) / 1000000.0, 4)
              .alias("avg_keep_prob"),
        )
    )


@query(
    "doc_line_dedup",
    category="documents",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t,
             len(string_split(text, ' ')) AS n
      FROM documents
    ),
    segs AS (
      SELECT doc_id, st // 16 AS seg_idx,
             array_to_string(list_slice(t, st + 1, st + 16), ' ') AS seg
      FROM (SELECT doc_id, t, UNNEST(generate_series(0, n - 1, 16)) AS st
            FROM toks)
    ),
    keeper AS (
      SELECT seg, MIN(doc_id * 1000000 + seg_idx) AS first_key
      FROM segs GROUP BY seg
    ),
    marked AS (
      SELECT s.doc_id, s.seg_idx, s.seg,
             (s.doc_id * 1000000 + s.seg_idx) = k.first_key AS keep
      FROM segs s JOIN keeper k ON s.seg = k.seg
    )
    SELECT doc_id,
           COUNT(*) AS n_segments,
           CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
           COALESCE(
             array_to_string(list(seg ORDER BY seg_idx) FILTER (WHERE keep), ' '),
             '') AS cleaned_text
    FROM marked GROUP BY doc_id
    """,
)
def doc_line_dedup(spark, sf_dir):
    """Corpus-wide segment-level exact dedup with text REASSEMBLY — the
    C4 / Dolma 'duplicate paragraph removal' tier, at 16-token segment
    granularity (the fixture text has no line breaks; swap the splitter
    for split(text, '\\n') on real corpora and nothing else changes):
    every segment that appeared earlier ANYWHERE in the corpus (first
    occurrence = lowest (doc_id, seg_idx), encoded as one comparable
    BIGINT) is dropped, and each document's surviving segments
    reassemble in position order. Differs from doc_dup_span_coverage
    (which SCORES docs by duplicated-8-gram coverage and drops whole
    docs) — this tier EDITS documents, the other filters them. One
    explode + one groupBy on segment text + one per-doc regroup: two
    shuffles total, both on keys that scale with corpus size, no
    all-pairs anything. At 100 TB the segment-hash groupBy is the same
    shape as doc_exact_dedup's — hash-partitioned exact aggregation."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t")).withColumn(
        "n", F.size("t")
    )
    segs = (
        toks.withColumn(
            "st", F.explode(F.sequence(F.lit(0), F.col("n") - F.lit(1), F.lit(16)))
        )
        .select(
            "doc_id",
            (F.col("st") / 16).cast("long").alias("seg_idx"),
            F.array_join(F.slice(F.col("t"), F.col("st") + F.lit(1), F.lit(16)), " ")
            .alias("seg"),
        )
    )
    keeper = segs.groupBy("seg").agg(
        F.min(F.col("doc_id") * 1000000 + F.col("seg_idx")).alias("first_key")
    )
    marked = segs.join(keeper, "seg").withColumn(
        "keep", (F.col("doc_id") * 1000000 + F.col("seg_idx")) == F.col("first_key")
    )
    kept_sorted = F.transform(
        F.array_sort(
            F.collect_list(
                F.when(F.col("keep"), F.struct("seg_idx", "seg")).otherwise(None)
            )
        ),
        lambda s: s["seg"],
    )
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(F.when(F.col("keep"), 0).otherwise(1)).alias("n_removed"),
        F.array_join(kept_sorted, " ").alias("cleaned_text"),
    )


@query(
    "doc_bigram_lm_perplexity",
    category="documents",
    oracle="""
    WITH arr AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    toks AS (
      SELECT doc_id, t[i] AS tok, i AS pos
      FROM (SELECT doc_id, t, UNNEST(generate_series(1, len(t))) AS i FROM arr)
    ),
    big AS (
      SELECT a.doc_id, a.tok AS w1, b.tok AS w2
      FROM toks a JOIN toks b
        ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    ),
    c2 AS (SELECT w1, w2, COUNT(*) AS n2 FROM big GROUP BY w1, w2),
    c1 AS (SELECT tok AS w1, COUNT(*) AS n1 FROM toks GROUP BY tok),
    v AS (SELECT COUNT(DISTINCT tok) AS vocab FROM toks),
    scored AS (
      SELECT g.doc_id,
             CAST(ROUND(ln((c2.n2 + 1.0) / (c1.n1 + v.vocab)) * 100000000)
                  AS BIGINT) AS lp8
      FROM big g
      JOIN c2 ON g.w1 = c2.w1 AND g.w2 = c2.w2
      JOIN c1 ON g.w1 = c1.w1
      CROSS JOIN v
    )
    SELECT doc_id, COUNT(*) AS n_bigrams,
           CAST((2 * SUM(-lp8) * 10000 + COUNT(*) * 100000000)
                // (2 * (COUNT(*) * 100000000)) AS DOUBLE) / 10000.0
             AS avg_nll
    FROM scored GROUP BY doc_id
    """,
)
def doc_bigram_lm_perplexity(spark, sf_dir):
    """Bigram language-model perplexity filter — the KenLM-style quality
    tier above doc_unigram_logprob: the corpus trains its own add-one-
    smoothed bigram model (P(w2|w1) = (c(w1,w2)+1)/(c(w1)+V)) and every
    document is scored by its average negative log-likelihood; high
    avg_nll = improbable word sequences = boilerplate/garbled text. The
    cross-engine discipline: each bigram's log-prob quantizes to an
    exact BIGINT at 1e8 scale (so per-doc summation is integer — ORDER-
    FREE, where summing quantized doubles would still be order-
    sensitive), and the 4-dp mean emits via integer half-away division
    (positive numerators, so div ≡ //). Plan: one posexplode, bigrams
    from a lag window over the SAME doc_id partitioning, two count
    joins (c1/c2 shuffle on token keys — corpus-sized, hash-partitioned,
    the doc_ngram_df shape) and one broadcast scalar V. All counts are
    map-side-combinable; nothing collects."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    from pyspark.sql import Window as W

    wdoc = W.partitionBy("doc_id").orderBy("pos")
    big = (
        toks.select(
            "doc_id", F.col("tok").alias("w1"),
            F.lead("tok").over(wdoc).alias("w2"),
        )
        .where(F.col("w2").isNotNull())
    )
    c2 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n2"))
    c1 = toks.groupBy(F.col("tok").alias("w1")).agg(F.count(F.lit(1)).alias("n1"))
    v = toks.agg(F.countDistinct("tok").alias("vocab"))
    scored = (
        big.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            F.round(
                F.log((F.col("n2") + 1.0) / (F.col("n1") + F.col("vocab")))
                * 100000000
            )
            .cast("long")
            .alias("lp8"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        (
            F.expr(
                "(2 * sum(-lp8) * 10000 + count(1) * 100000000)"
                " div (2 * (count(1) * 100000000))"
            ).cast("double")
            / 10000.0
        ).alias("avg_nll"),
    )


def _bpe_oracle(k_rounds: int = 6, carry_w: bool = False,
                body_only: bool = False) -> str:
    wcol = "w, " if carry_w else ""
    body = f"""
    WITH wf AS (
      SELECT tok AS w, COUNT(*) AS f
      FROM (SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY tok
    ),
    w0 AS (
      SELECT {wcol}f, array_to_string(string_split(w, ''), ' ') AS seg FROM wf
    )"""
    for k in range(1, k_rounds + 1):
        body += f""",
    p{k} AS (
      SELECT t[i] AS a, t[i + 1] AS b, SUM(f) AS cnt
      FROM (SELECT f, string_split(seg, ' ') AS t,
                   UNNEST(generate_series(1, len(string_split(seg, ' ')) - 1)) AS i
            FROM w{k - 1})
      GROUP BY a, b
    ),
    b{k} AS (SELECT a, b, cnt FROM p{k} ORDER BY cnt DESC, a, b LIMIT 1),
    w{k} AS (
      SELECT {wcol}f,
             list_reduce(
               list_prepend('', string_split(seg, ' ')),
               (acc, x) -> CASE
                 WHEN acc = '' THEN x
                 WHEN (acc = b{k}.a OR ends_with(acc, ' ' || b{k}.a))
                      AND x = b{k}.b
                   THEN substr(acc, 1, len(acc) - len(b{k}.a))
                        || b{k}.a || b{k}.b
                 ELSE acc || ' ' || x END) AS seg
      FROM w{k - 1} CROSS JOIN b{k}
    )"""
    if body_only:
        return body
    selects = [
        f"""
    SELECT {k} AS round, a AS tok_a, b AS tok_b,
           CAST(cnt AS BIGINT) AS pair_count,
           (SELECT CAST(SUM(f * len(string_split(seg, ' '))) AS BIGINT)
            FROM w{k}) AS corpus_tokens_after
    FROM b{k}"""
        for k in range(1, k_rounds + 1)
    ]
    return body + "\nUNION ALL".join(selects)


def _bpe_train_frames(spark, sf_dir, k_rounds: int = 6):
    """Shared BPE training loop: returns (per-round rule frames, final
    word table carrying (w, f, seg)) so train and encode replay the
    identical merges. See doc_bpe_train for the algorithm notes.

    Loop discipline (optimization round 9): this loop stays outside
    caching.fixpoint because the returned per-round rule frames read
    every round's checkpoint lazily, so no round can be released
    in-loop; the per-round word tables are TRACKED checkpoints the
    harness releases after the result is consumed. The loop runs under
    pinned_shuffle sized from the vocabulary (one cheap count
    over the already-materialized checkpoint) with AQE off: six rounds
    of fixed tiny plans paid per-stage re-optimization latency for
    nothing — the pair groupBy key is (token, token), no join to skew."""
    from ..caching import tracked_checkpoint
    from ..session import loop_partitions, pinned_shuffle

    docs = table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
        .select("w", "f", F.array_join(F.split("w", ""), " ").alias("seg"))
        .transform(tracked_checkpoint)
    )
    n_loop = loop_partitions(spark, words.count(), row_bytes=64)
    with pinned_shuffle(spark, n_loop, aqe=False):
        return _bpe_rounds(spark, words, k_rounds)


def _bpe_rounds(spark, words, k_rounds):
    from ..caching import tracked_checkpoint

    rounds = []
    for k in range(1, k_rounds + 1):
        t = F.split("seg", " ")
        pairs = (
            words.select("f", t.alias("t"), F.size(t).alias("n"))
            .select(
                "f",
                F.explode(F.sequence(F.lit(1), F.col("n"))).alias("i"),
                "t", "n",
            )
            .where(F.col("i") < F.col("n"))
            .select(
                "f",
                F.element_at("t", F.col("i")).alias("a"),
                F.element_at("t", F.col("i") + 1).alias("b"),
            )
            .groupBy("a", "b")
            .agg(F.sum("f").alias("cnt"))
        )
        # The winning pair is ONE deterministic row (total order cnt
        # DESC, a, b) — collect it and fold with LITERALS (the k-center
        # driver-held-state contract). The earlier lazy best + broadcast
        # crossJoin re-executed the heavy pair-count pass a second time
        # when the returned per-round rule frame was consumed; now each
        # round pays exactly one pairs pass (this collect) and the rule
        # frames are literal projections over a cheap checkpoint scan.
        top = pairs.orderBy(
            F.col("cnt").desc(), F.col("a").asc(), F.col("b").asc()
        ).limit(1).collect()[0]
        tok_a, tok_b, cnt = top["a"], top["b"], int(top["cnt"])
        la, lb = F.lit(tok_a), F.lit(tok_b)
        merged = words.select(
            "w",
            "f",
            F.aggregate(
                F.split("seg", " "),
                F.lit(""),
                lambda acc, x: (
                    F.when(acc == "", x)
                    .when(
                        (
                            (acc == la)
                            | acc.endswith(F.concat(F.lit(" "), la))
                        )
                        & (x == lb),
                        F.concat(
                            acc.substr(
                                F.lit(1), F.length(acc) - F.length(la)
                            ),
                            la,
                            lb,
                        ),
                    )
                    .otherwise(F.concat(acc, F.lit(" "), x))
                ),
            ).alias("seg"),
        ).transform(tracked_checkpoint)
        after = merged.agg(
            F.sum(F.col("f") * F.size(F.split("seg", " ")))
            .cast("long")
            .alias("corpus_tokens_after")
        )
        rounds.append(
            after.select(
                F.lit(k).alias("round"),
                la.alias("tok_a"),
                lb.alias("tok_b"),
                F.lit(cnt).cast("long").alias("pair_count"),
                "corpus_tokens_after",
            )
        )
        words = merged
    return rounds, words


@query("doc_bpe_train", category="documents", oracle=_bpe_oracle())
def doc_bpe_train(spark, sf_dir):
    """BPE tokenizer TRAINING as a declarative plan (Sennrich et al.
    2016 — the algorithm behind GPT/Llama vocabularies): 6 merge rounds
    over the corpus's word-frequency table, each round (1) counting
    adjacent-token pairs weighted by word frequency, (2) picking the
    most frequent pair (ties → lexicographic, so the learned vocabulary
    is engine-independent), (3) applying the merge greedily
    left-to-right inside every word via a sequential left fold whose
    accumulator is the space-joined token string (F.aggregate ≡ DuckDB
    list_reduce; the fold's boundary test `acc ends_with ' '||a` makes
    the merge non-overlapping, matching reference BPE). Each round's
    word table is a few thousand rows post-groupBy, checkpointed so the
    per-round lineage stays flat; the heavy work — the token-pair count
    — is one explode + hash aggregate per round over the WORD table,
    not the corpus, which is exactly why BPE training scales: 100 TB of
    text folds to a vocabulary-sized frequency table in one pass and
    the merge loop never touches raw text again. Emits one row per
    round (merge rule, its count, corpus token count after) — the
    oracle replays all 6 rounds including tie-breaks. (Reference BPE
    adds an end-of-word sentinel; elided here, same algebra.)"""
    rounds, _ = _bpe_train_frames(spark, sf_dir)
    out = rounds[0]
    for r in rounds[1:]:
        out = out.unionByName(r)
    return out


_BPE_ENCODE_TAIL = """,
    docw AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(len(w)) AS BIGINT) AS n_chars,
           CAST(SUM(len(string_split(w6.seg, ' '))) AS BIGINT) AS n_bpe_tokens
    FROM docw JOIN w6 USING (w)
    GROUP BY doc_id
"""


@query(
    "doc_bpe_encode",
    category="documents",
    oracle=_bpe_oracle(carry_w=True, body_only=True) + _BPE_ENCODE_TAIL,
)
def doc_bpe_encode(spark, sf_dir):
    """BPE ENCODING with the vocabulary doc_bpe_train just learned — the
    train→apply round trip of a real tokenizer pipeline: every document
    is re-tokenized through the 6 learned merges and reports its word /
    character / BPE-token counts (the compression the merges bought).
    Key scale property: encoding joins the corpus's words against the
    DISTINCT-WORD table (vocabulary-sized, broadcastable) — the merges
    are never re-applied per occurrence, so 100 TB of text encodes via
    one explode + one hash join however long the merge list grows. The
    oracle replays the full training chain WITH the word column carried
    through, then the same join — train and encode provably share one
    vocabulary. All-integer outputs."""
    _, words = _bpe_train_frames(spark, sf_dir)
    docs = table(spark, sf_dir, "documents")
    docw = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    )
    enc = docw.join(
        F.broadcast(words.select("w", F.size(F.split("seg", " ")).alias("ntok"))),
        "w",
    )
    return enc.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.length("w")).cast("long").alias("n_chars"),
        F.sum("ntok").cast("long").alias("n_bpe_tokens"),
    )


_DSIR_ORACLE = """
WITH tok AS (
  SELECT doc_id, ('0x' || substr(md5(UNNEST(string_split(text, ' '))), 1, 15))::BIGINT
                 % 256 AS b
  FROM documents
),
tgt AS (
  SELECT t.b, COUNT(*) AS c FROM tok t
  JOIN documents d ON d.doc_id = t.doc_id AND d.source = 'src0'
  GROUP BY t.b
),
raw AS (SELECT b, COUNT(*) AS c FROM tok GROUP BY b),
tots AS (
  SELECT (SELECT SUM(c) FROM tgt) AS nt, (SELECT SUM(c) FROM raw) AS nr
),
lr AS (
  SELECT r.b,
         CAST(ROUND(ln(((COALESCE(t.c, 0) + 1.0) * (tots.nr + 256))
                       / ((r.c + 1.0) * (tots.nt + 256))) * 100000000) AS BIGINT)
           AS lr8
  FROM raw r LEFT JOIN tgt t ON t.b = r.b CROSS JOIN tots
)
SELECT tok.doc_id, COUNT(*) AS n_tokens,
       CAST(SUM(lr.lr8) AS BIGINT) AS dsir_e8,
       CASE WHEN SUM(lr.lr8) > 0 THEN 1 ELSE 0 END AS selected
FROM tok JOIN lr ON lr.b = tok.b
GROUP BY tok.doc_id
"""


@query("doc_dsir_selection", category="documents", oracle=_DSIR_ORACLE)
def doc_dsir_selection(spark, sf_dir):
    """DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    arXiv:2302.03169): rank raw-corpus documents by how target-like they
    are under hashed n-gram importance weights. The target here is the
    'src0' slice (stand-in for "high-quality domain"); features are
    unigrams hashed into 256 buckets with the portable md5 hash (the
    doc_neardup_minhash_exact family), and each doc's importance weight
    is sum_tokens log(p_target(b)/p_raw(b)) with add-one smoothing. The
    per-BUCKET log-ratio is computed once over the 256-row bucket table
    and quantized to a 1e8-scaled BIGINT there — so the per-doc score is
    an ORDER-FREE integer sum (the doc_bigram_lm_perplexity discipline:
    libm's last-ulp never reaches a multi-term double sum), and
    selection is the integer cut dsir_e8 > 0. Plan shape: one token
    explode feeds both the 256-row stats (two tiny aggregates broadcast
    back) and the per-doc scoring join — at 100 TB the stats pass is a
    map-side-combinable count and the scoring join is a broadcast hash
    join on a 256-row table; nothing ever shuffles except the final
    per-doc groupBy."""
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        "source",
        F.explode(F.split("text", " ")).alias("w"),
    ).select(
        "doc_id",
        "source",
        (
            F.conv(F.substring(F.md5("w"), 1, 15), 16, 10).cast("long") % 256
        ).alias("b"),
    )
    tgt = tok.where(F.col("source") == "src0").groupBy("b").agg(
        F.count(F.lit(1)).alias("tc")
    )
    raw = tok.groupBy("b").agg(F.count(F.lit(1)).alias("rc"))
    tots = raw.join(tgt, "b", "left").agg(
        F.sum("tc").alias("nt"), F.sum("rc").alias("nr")
    )
    lr = (
        raw.join(tgt, "b", "left")
        .crossJoin(F.broadcast(tots))
        .select(
            "b",
            F.round(
                F.log(
                    ((F.coalesce(F.col("tc"), F.lit(0)) + 1.0) * (F.col("nr") + 256))
                    / ((F.col("rc") + 1.0) * (F.col("nt") + 256))
                )
                * 100000000,
                0,
            )
            .cast("long")
            .alias("lr8"),
        )
    )
    return (
        tok.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lr8").alias("dsir_e8"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "dsir_e8",
            F.when(F.col("dsir_e8") > 0, 1).otherwise(0).alias("selected"),
        )
    )


def _band_sweep_oracle(n_hashes: int = 16) -> str:
    # A pair is a candidate iff ANY band matches in full — the OR of
    # per-band equality conjunctions. Expressing that OR directly as a
    # join predicate forces a nested-loop over ALL doc pairs (N²·bands
    # comparisons — the sf1.0 resource wall); the union-of-equality-
    # joins form below is the same set by definition, and every branch
    # is a hashable multi-key equi-join whose volume is the actual LSH
    # bucket-collision volume (exactly the work the Spark side does).
    cand_sql = []
    cfg_sql = []
    for bands in (16, 8, 4):
        rows = n_hashes // bands
        per_band = "\n        UNION ALL ".join(
            "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM sig a JOIN sig b ON "
            + _band_eq_sql(b, rows)
            + " AND a.doc_id < b.doc_id"
            for b in range(bands)
        )
        cand_sql.append(f"""
    cand{bands} AS MATERIALIZED (
      SELECT DISTINCT doc_a, doc_b FROM (
        {per_band}
      )
    )""")
        cfg_sql.append(f"""
    SELECT {bands} AS bands, {rows} AS rows_per_band,
           (SELECT COUNT(*) FROM cand{bands}) AS n_candidates,
           (SELECT COUNT(*) FROM cand{bands} c
            JOIN truth t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)
             AS n_true_candidates,
           (SELECT COUNT(*) FROM truth) AS n_true_total
        """)
    cands = ",".join(cand_sql)
    union = "\nUNION ALL\n".join(cfg_sql)
    return f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ),
    sh AS MATERIALIZED (
      SELECT DISTINCT doc_id,
             UNNEST(list_transform(generate_series(1, len(ws) - 2),
                                   i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
      FROM w
    ),
    sig AS MATERIALIZED (SELECT doc_id, {_minhash_sig_sql(n_hashes)} FROM sh GROUP BY doc_id),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter0 AS MATERIALIZED (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS cnt
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id AND a.s = b.s
      GROUP BY 1, 2
    ),
    truth AS MATERIALIZED (
      SELECT i.doc_a, i.doc_b
      FROM inter0 i
      JOIN sz sa ON i.doc_a = sa.doc_id
      JOIN sz sb ON i.doc_b = sb.doc_id
      WHERE i.cnt * 5 >= (sa.n + sb.n - i.cnt) * 4
    ),
    {cands},
    cfg AS (
{union}
    )
    SELECT bands, rows_per_band, n_candidates, n_true_candidates, n_true_total,
           CASE WHEN n_true_total = 0 THEN 1000000
                ELSE (n_true_candidates * 1000000) // n_true_total END AS recall_e6,
           CASE WHEN n_candidates = 0 THEN 1000000
                ELSE (n_true_candidates * 1000000) // n_candidates END AS precision_e6
    FROM cfg
    """


@query("doc_minhash_band_sweep", category="documents", oracle=_band_sweep_oracle())
def doc_minhash_band_sweep(spark, sf_dir):
    """MinHash-LSH band-configuration sweep — the tuning table every
    near-dup deployment needs before committing a (bands x rows) choice
    at 100 TB: from ONE set of 16 portable md5 signatures, band them
    three ways (16x1, 8x2, 4x4) and price each config's candidate count
    vs its recall of the exact-Jaccard >= 0.8 ground truth. More rows
    per band = sharper S-curve = fewer false candidates but lower
    recall; the sweep makes the tradeoff a measured number (integer
    1e6-scale recall/precision — no float ratios) instead of folklore.
    The signature table is computed ONCE (persisted — 16 ints/doc) and
    each config re-bands it with a cheap in-bucket pair expansion;
    ground truth reuses the inverted-index exact-Jaccard join (never
    all-pairs on the Spark side — pairs must share a shingle to score).
    The DuckDB oracle replays signatures, all three bandings, and the
    truth set from the same constants, so every count in the table is
    hash-compared."""
    docs = table(spark, sf_dir, "documents")
    sigs = minhash_signatures(
        docs, n_hashes=16, k=3, shingle_hash=portable_hash
    ).transform(tracked_persist)
    truth = (
        ngram_jaccard_pairs(docs, k=3, threshold=0.8)
        .select("doc_a", "doc_b")
        .transform(tracked_persist)
    )
    n_true = truth.agg(F.count(F.lit(1)).alias("n_true_total"))
    out = None
    for bands in (16, 8, 4):
        cand = minhash_candidate_pairs(sigs, bands)
        # candidate count + true-candidate count in ONE pass over the
        # candidate set: the earlier count + left-semi-count pair
        # re-expanded the banded pair generation twice per config (truth
        # pairs are unique, so count(hit) over a left join == the semi
        # count). One traversal, same numbers.
        hits = cand.join(
            truth.withColumn("_hit", F.lit(1)), ["doc_a", "doc_b"], "left"
        )
        row = (
            hits.agg(
                F.count(F.lit(1)).alias("n_candidates"),
                F.count("_hit").alias("n_true_candidates"),
            )
            .crossJoin(n_true)
            .select(
                F.lit(bands).alias("bands"),
                F.lit(16 // bands).alias("rows_per_band"),
                "n_candidates",
                "n_true_candidates",
                "n_true_total",
                F.expr(
                    "CASE WHEN n_true_total = 0 THEN 1000000"
                    " ELSE (n_true_candidates * 1000000) div n_true_total END"
                ).alias("recall_e6"),
                F.expr(
                    "CASE WHEN n_candidates = 0 THEN 1000000"
                    " ELSE (n_true_candidates * 1000000) div n_candidates END"
                ).alias("precision_e6"),
            )
        )
        out = row if out is None else out.unionAll(row)
    return out


@query(
    "doc_kneser_ney_perplexity",
    category="documents",
    oracle="""
    WITH arr AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    toks AS (
      SELECT doc_id, t[i] AS tok, i AS pos
      FROM (SELECT doc_id, t, UNNEST(generate_series(1, len(t))) AS i FROM arr)
    ),
    big AS (
      SELECT a.doc_id, a.tok AS w1, b.tok AS w2
      FROM toks a JOIN toks b
        ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    ),
    c2 AS (SELECT w1, w2, COUNT(*) AS n2 FROM big GROUP BY w1, w2),
    ctx AS (SELECT w1, SUM(n2) AS cv, COUNT(*) AS nfollow FROM c2 GROUP BY w1),
    prec AS (SELECT w2, COUNT(*) AS nprec FROM c2 GROUP BY w2),
    nb AS (SELECT COUNT(*) AS nbig FROM c2),
    scored AS (
      SELECT g.doc_id,
             CAST(ROUND(ln(
               GREATEST(c2.n2 - 0.75, 0.0) / ctx.cv
               + (0.75 * ctx.nfollow / ctx.cv)
                 * (prec.nprec * 1.0 / nb.nbig)) * 100000000) AS BIGINT) AS lp8
      FROM big g
      JOIN c2 ON g.w1 = c2.w1 AND g.w2 = c2.w2
      JOIN ctx ON g.w1 = ctx.w1
      JOIN prec ON g.w2 = prec.w2
      CROSS JOIN nb
    )
    SELECT doc_id, COUNT(*) AS n_bigrams,
           CAST((2 * SUM(-lp8) * 10000 + COUNT(*) * 100000000)
                // (2 * (COUNT(*) * 100000000)) AS DOUBLE) / 10000.0
             AS avg_nll
    FROM scored GROUP BY doc_id
    """,
)
def doc_kneser_ney_perplexity(spark, sf_dir):
    """Interpolated Kneser–Ney bigram perplexity (Kneser & Ney 1995;
    the smoothing KenLM actually ships, one tier above
    doc_bigram_lm_perplexity's add-one): P(w|v) = max(c(vw)−0.75, 0)/c(v)
    + 0.75·N₁₊(v·)/c(v) · N₁₊(·w)/N₁₊(··). The signature KN idea is the
    CONTINUATION probability — a word's back-off mass depends on how
    many distinct contexts it follows, not its raw frequency, which is
    what stops high-count-but-context-bound words (the "Francisco"
    problem) from dominating back-off. All four statistics (bigram
    counts, context totals, distinct-successor and distinct-predecessor
    counts, total distinct bigrams) are map-side-combinable aggregates
    over the SAME bigram table; the per-bigram log-prob quantizes to a
    1e8 BIGINT so per-doc sums stay order-free integers, and the 4-dp
    mean emits via integer half-away division — the
    doc_bigram_lm_perplexity discipline verbatim. Discount 0.75 keeps
    every probability strictly positive (the continuation term never
    vanishes), so ln() is total."""
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    wdoc = W.partitionBy("doc_id").orderBy("pos")
    big = toks.select(
        "doc_id",
        F.col("tok").alias("w1"),
        F.lead("tok").over(wdoc).alias("w2"),
    ).where(F.col("w2").isNotNull())
    c2 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n2"))
    ctx = c2.groupBy("w1").agg(
        F.sum("n2").alias("cv"), F.count(F.lit(1)).alias("nfollow")
    )
    prec = c2.groupBy("w2").agg(F.count(F.lit(1)).alias("nprec"))
    nb = c2.agg(F.count(F.lit(1)).alias("nbig"))
    scored = (
        big.join(c2, ["w1", "w2"])
        .join(ctx, "w1")
        .join(prec, "w2")
        .crossJoin(F.broadcast(nb))
        .select(
            "doc_id",
            F.round(
                F.log(
                    F.greatest(F.col("n2") - 0.75, F.lit(0.0)) / F.col("cv")
                    + (F.lit(0.75) * F.col("nfollow") / F.col("cv"))
                    * (F.col("nprec") * F.lit(1.0) / F.col("nbig"))
                )
                * 100000000
            )
            .cast("long")
            .alias("lp8"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        (
            F.expr(
                "(2 * sum(-lp8) * 10000 + count(1) * 100000000)"
                " div (2 * (count(1) * 100000000))"
            ).cast("double")
            / 10000.0
        ).alias("avg_nll"),
    )


@query(
    "doc_naive_bayes_langid",
    category="documents",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang,
             ('0x' || substr(md5(UNNEST(string_split(text, ' '))), 1, 15))::BIGINT
               % 512 AS b
      FROM documents
    ),
    priors AS (
      SELECT lang, COUNT(*) AS nd FROM documents GROUP BY lang
    ),
    nd_tot AS (SELECT COUNT(*) AS n FROM documents),
    lk AS (
      SELECT lang, b, COUNT(*) AS c FROM tok GROUP BY lang, b
    ),
    lt AS (SELECT lang, SUM(c) AS nt FROM lk GROUP BY lang),
    grid AS (
      SELECT p.lang, g.b,
             CAST(ROUND(ln((COALESCE(lk.c, 0) + 1.0) / (lt.nt + 512))
                        * 100000000) AS BIGINT) AS llk8
      FROM priors p
      CROSS JOIN (SELECT UNNEST(generate_series(0, 511)) AS b) g
      JOIN lt ON lt.lang = p.lang
      LEFT JOIN lk ON lk.lang = p.lang AND lk.b = g.b
    ),
    scores AS (
      SELECT t.doc_id, g.lang,
             CAST(ROUND(ln(p.nd * 1.0 / nd_tot.n) * 100000000) AS BIGINT)
               + SUM(g.llk8) AS score8
      FROM tok t
      JOIN grid g ON g.b = t.b
      JOIN priors p ON p.lang = g.lang
      CROSS JOIN nd_tot
      GROUP BY t.doc_id, g.lang, p.nd, nd_tot.n
    ),
    ranked AS (
      SELECT doc_id, lang AS predicted, score8,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score8 DESC, lang) AS rn
      FROM scores
    )
    SELECT r.doc_id, r.predicted, d.lang AS actual,
           CASE WHEN r.predicted = d.lang THEN 1 ELSE 0 END AS correct
    FROM ranked r JOIN documents d ON d.doc_id = r.doc_id
    WHERE r.rn = 1
    """,
)
def doc_naive_bayes_langid(spark, sf_dir):
    """Corpus-TRAINED multinomial Naive Bayes language classifier — the
    in-database-ML step past doc_quality_classifier's literal weights
    and doc_langid's hand heuristic: class priors and per-class hashed-
    unigram likelihoods (512 md5 buckets, add-one smoothing) are learned
    from the corpus itself in two map-side-combinable aggregates, then
    every document is scored argmax_c [ln P(c) + Σ ln P(b|c)]. The whole
    model is a 5-class × 512-bucket grid (measured 0.39 resubstitution
    accuracy on the synthetic corpus — above the 0.2 uniform baseline,
    honest for word-salad text whose lang labels carry weak vocabulary
    signal) — broadcast-sized at ANY corpus
    scale (the parametric-model-as-small-table shape that makes
    train-then-apply a two-pass dataflow at 100 TB). Determinism: every
    log quantizes to a 1e8 BIGINT at the 2048-cell grid, per-doc scores
    are order-free integer sums, argmax ties break lexicographically.
    Output includes the self-classification accuracy flag per doc
    (train-set accuracy — honest about being resubstitution, the
    pipeline's smoke signal for label/feature drift)."""
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("w")
    ).select(
        "doc_id",
        "lang",
        (
            F.conv(F.substring(F.md5("w"), 1, 15), 16, 10).cast("long") % 512
        ).alias("b"),
    )
    priors = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("nd"))
    nd_tot = docs.agg(F.count(F.lit(1)).alias("n"))
    lk = tok.groupBy("lang", "b").agg(F.count(F.lit(1)).alias("c"))
    lt = lk.groupBy("lang").agg(F.sum("c").alias("nt"))
    grid = (
        priors.crossJoin(
            spark.range(512).select(F.col("id").cast("long").alias("b"))
        )
        .join(lt, "lang")
        .join(lk, ["lang", "b"], "left")
        .select(
            "lang",
            "b",
            F.round(
                F.log((F.coalesce(F.col("c"), F.lit(0)) + 1.0) / (F.col("nt") + 512))
                * 100000000
            )
            .cast("long")
            .alias("llk8"),
        )
    )
    prior8 = (
        priors.crossJoin(F.broadcast(nd_tot))
        .select(
            "lang",
            F.round(F.log(F.col("nd") * 1.0 / F.col("n")) * 100000000)
            .cast("long")
            .alias("lp8"),
        )
    )
    scores = (
        tok.select("doc_id", "b")
        .join(F.broadcast(grid), "b")
        .groupBy("doc_id", "lang")
        .agg(F.sum("llk8").alias("sll8"))
        .join(F.broadcast(prior8), "lang")
        .select("doc_id", "lang", (F.col("lp8") + F.col("sll8")).alias("score8"))
    )
    from pyspark.sql import Window as W

    ranked = scores.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("doc_id").orderBy(F.col("score8").desc(), F.col("lang"))
        ),
    ).where(F.col("rn") == 1)
    return (
        ranked.join(docs.select("doc_id", F.col("lang").alias("actual")), "doc_id")
        .select(
            "doc_id",
            F.col("lang").alias("predicted"),
            "actual",
            F.when(F.col("lang") == F.col("actual"), 1).otherwise(0).alias("correct"),
        )
    )


@query(
    "doc_char_entropy",
    category="documents",
    oracle="""
    WITH ch AS (
      SELECT doc_id, UNNEST(string_split(text, '')) AS c FROM documents
    ),
    cc AS (SELECT doc_id, c, COUNT(*) AS k FROM ch GROUP BY doc_id, c),
    n AS (SELECT doc_id, SUM(k) AS nt FROM cc GROUP BY doc_id),
    terms AS (
      SELECT cc.doc_id,
             CAST(ROUND(cc.k * ln(n.nt * 1.0 / cc.k) * 100000000) AS BIGINT)
               AS t8,
             n.nt
      FROM cc JOIN n ON n.doc_id = cc.doc_id
    )
    SELECT doc_id,
           CAST((2 * SUM(t8) * 10000 + nt * 100000000)
                // (2 * (nt * 100000000)) AS DOUBLE) / 10000.0 AS entropy,
           CASE WHEN (2 * SUM(t8) * 10000 + nt * 100000000)
                     // (2 * (nt * 100000000)) < 20000 THEN 0 ELSE 1 END
             AS keep
    FROM terms GROUP BY doc_id, nt
    """,
)
def doc_char_entropy(spark, sf_dir):
    """Per-document CHARACTER-level Shannon entropy — the gibberish /
    binary-junk filter every crawl-curation pipeline runs before the
    expensive tiers (encoding glitches and base64 blobs sit far from
    natural text's ~2.5-4 bits): H = Σ (k_i/n)·ln(n/k_i) over the doc's
    character distribution. Per-character-class terms k·ln(n/k) quantize
    to 1e8 BIGINTs (exact-integer ln arguments, the ch_entropy log
    discipline), the per-doc sum is order-free integer arithmetic, the
    4-dp mean emits via integer half-away division, and the keep flag
    cuts at 2.0 nats as pure integer comparison. One char explode + two
    doc-key aggregates; the explode multiplies rows ~150× but carries
    8-byte (doc_id, char) pairs and combines map-side — the
    doc_text_stats scan shape, linear at any corpus size."""
    docs = table(spark, sf_dir, "documents")
    ch = docs.select(
        "doc_id", F.explode(F.split("text", "")).alias("c")
    ).where(F.col("c") != "")
    cc = ch.groupBy("doc_id", "c").agg(F.count(F.lit(1)).alias("k"))
    n = cc.groupBy("doc_id").agg(F.sum("k").alias("nt"))
    terms = cc.join(n, "doc_id").select(
        "doc_id",
        "nt",
        F.round(F.col("k") * F.log(F.col("nt") * 1.0 / F.col("k")) * 100000000)
        .cast("long")
        .alias("t8"),
    )
    h = F.expr("(2 * sum(t8) * 10000 + nt * 100000000) div (2 * (nt * 100000000))")
    return terms.groupBy("doc_id", "nt").agg(
        (h.cast("double") / 10000.0).alias("entropy"),
        F.when(h < 20000, 0).otherwise(1).alias("keep"),
    ).drop("nt")


def _wjaccard_dense_oracle(max_vocab: int = 48) -> str:
    """Dense-vector oracle for doc_weighted_jaccard_pairs — the DuckDB
    twin of the Spark side's own bounded-vocab dense path.

    Two earlier shapes failed at sf1.0 on this box: the single
    inverted-index join + pair GROUP BY hash-aggregates a Σdf² ≈ 26 B
    row stream (spilled past the ~80 GB disk), and a length-banded
    UNION of per-band aggregates STILL spilled — DuckDB v1.0.0's
    out-of-core grouped aggregate writes its unaggregated input to
    temp, and the temp file grows across union children (measured
    ~300 MB/s until disk death, with per-child hash tables as small as
    4 M groups). The cure is the same one the Spark plan uses: the
    fixture's TOKEN vocabulary is bounded (~31 types at every SF), so
    each doc pivots to a FIXED-WIDTH dense tf vector over the sorted
    global vocabulary, unrolled to {max_vocab} scalar columns
    (list-entry interpretation, not arithmetic, is DuckDB's wall —
    the vec_dedup_clusters retirement trick), and
    Σmin = Σ_i LEAST(a.f_i, b.f_i) is a pure scalar expression over a
    length-ratio-banded pair join. NO pair GROUP BY exists, so there
    is nothing to spill: the length filter keeps ~10% of the N²/2
    pairs and each evaluates ~{max_vocab} LEASTs in a streamed
    projection.

    A width canary errors out (rather than silently undercounting)
    if the vocabulary ever exceeds the unroll width; natural corpora
    never run this oracle — the Spark side's prefix-filtered index
    path covers them, measured in bench_records."""
    leasts = " + ".join(
        f"LEAST(a.f{i}, b.f{i})" for i in range(1, max_vocab + 1)
    )
    fcols = ",\n             ".join(
        f"COALESCE(v[{i}], 0) AS f{i}" for i in range(1, max_vocab + 1)
    )
    return f"""
    WITH tf AS MATERIALIZED (
      SELECT doc_id, tok, COUNT(*) AS f
      FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY doc_id, tok
    ),
    tot AS MATERIALIZED (SELECT doc_id, SUM(f) AS nf FROM tf GROUP BY doc_id),
    toks AS MATERIALIZED (SELECT DISTINCT tok FROM tf),
    guard AS (
      SELECT CASE WHEN COUNT(*) <= {max_vocab} THEN 1
                  ELSE CAST(error('wjaccard dense oracle: vocab > {max_vocab}') AS INT)
             END AS ok
      FROM toks
    ),
    grid AS (
      SELECT t.doc_id, k.tok FROM tot t CROSS JOIN toks k
    ),
    dv0 AS (
      SELECT g.doc_id, list(COALESCE(tf.f, 0) ORDER BY g.tok) AS v
      FROM grid g LEFT JOIN tf ON tf.doc_id = g.doc_id AND tf.tok = g.tok
      GROUP BY g.doc_id
    ),
    dv AS MATERIALIZED (
      SELECT dv0.doc_id, tot.nf,
             {fcols}
      FROM dv0 JOIN tot ON tot.doc_id = dv0.doc_id
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             ({leasts}) AS smin,
             a.nf AS nf_a, b.nf AS nf_b
      FROM dv a JOIN dv b
        ON a.doc_id < b.doc_id
       AND a.nf * 5 >= b.nf * 4
       AND b.nf * 5 >= a.nf * 4
    )
    SELECT doc_a, doc_b,
           CAST((smin * 1000000)
             // (nf_a + nf_b - smin) AS BIGINT) AS wjaccard_e6
    FROM pairs CROSS JOIN guard
    WHERE smin * 5 >= (nf_a + nf_b - smin) * 4 AND guard.ok = 1
    """


@query(
    "doc_weighted_jaccard_pairs", python_boundary=True,
    category="documents",
    oracle=_wjaccard_dense_oracle(),
)
def doc_weighted_jaccard_pairs(spark, sf_dir):
    """WEIGHTED (multiset) Jaccard near-dup pairs — the
    repetition-robust tier the set-based doc_neardup_jaccard lacks: with
    term FREQUENCIES, J_w = Σ min(tf_a,tf_b) / Σ max(tf_a,tf_b), a doc
    that repeats one paragraph five times no longer looks 80% similar to
    every doc sharing that paragraph once (set semantics collapse
    repeats; multiset semantics count them). Identity Σmax = |A|+|B|−Σmin
    keeps the denominator join-free beyond the two doc-total lookups.
    Same inverted-index discipline as the whole dedup family: candidate
    pairs exist only where a token collides, the tf table is one
    map-side-combinable count, and the ≥0.8 cut is integer
    cross-multiplication with a 1e6-scale integer score — no float
    ratios anywhere, EXACT on both engines.

    TWO physical paths, chosen by measured vocabulary size (one tiny
    count job; the cut is a plan-shape decision, like AQE's join pick):

    - |vocab| > 4096 (natural text): a PPJoin-style prefix-filtered
      inverted-index join (Xiao et al. 2008, lemma 1, lifted to
      multisets by treating each occurrence as a distinct element
      under the global (df, tok, copy) order): tokens are globally
      ordered rarest-first, each doc indexes only its prefix — the
      rarest ⌊na/5⌋+1 occurrences — and two docs can reach J_w ≥ 0.8
      only if their prefixes share a token. EXACT (no df-cap
      semantics change: candidates are verified against the FULL tf
      profiles) and fan-out-bounded: stopwords fall outside every
      prefix except in docs that are mostly stopwords, so the Σdf²
      blowup of the raw token join never materializes.
    - |vocab| ≤ 4096 (bounded/degenerate vocabularies — THIS fixture's
      31 words, where every token is maximally hot and the index join
      measured Σdf² ≈ 4.5e8 rows, ~2 min at sf0.1): pivot each doc to a
      dense integer tf VECTOR and compute Σmin via the L1 identity
      Σmin = (Σa + Σb − ‖a−b‖₁)/2 with a chunked numpy kernel. Pairs
      are partitioned block-nested-loop style: docs hash into B blocks,
      each doc's vector is shipped once per block-pair it participates
      in (B copies), and each of the B(B+1)/2 (bi ≤ bj) groups scores
      its cross-block pairs independently — all-pairs work distributed
      across workers with per-worker memory bounded at 2·|block|·V
      ints, no driver-side matrix. All arithmetic stays int64, so the
      dense path is bit-identical to the index path and the oracle.
      Measured: ~2 min → ~3 s at sf0.1."""
    docs = table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    vocab = tf.select("tok").distinct()
    n_vocab = vocab.count()  # one scalar job to pick the physical path
    if n_vocab <= 4096:
        return _wjaccard_dense_pairs(tf, vocab, n_vocab)
    return _wjaccard_index_pairs(tf)


def _wjaccard_index_pairs(tf):
    """Prefix-filtered inverted-index path of doc_weighted_jaccard_pairs
    (see its docstring). Candidate generation: PPJoin lemma 1 — under a
    GLOBAL token order, two bags with overlap ≥ α must share an element
    within their (size − α + 1)-prefixes. With J_w ≥ 4/5 the minimum
    overlap against any feasible partner is ⌈0.8·na⌉, so doc a's prefix
    is its rarest ⌊na/5⌋+1 occurrences in (df, tok) order. Verification
    then scores candidates against the FULL tf profiles, so the filter
    is exact, not approximate. At 100 TB: the prefix index is ~20% of
    the token index, carries the RARE end of the vocabulary (a stopword
    enters a prefix only when a doc is ≥80% stopwords), and the heavy
    Σdf² self-join of the raw tf table never runs."""
    from pyspark.sql import Window as W

    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    w_doc = W.partitionBy("doc_id").orderBy("df", "tok")
    annotated = (
        tf.join(dfreq, "tok")
        .withColumn("na", F.sum("f").over(W.partitionBy("doc_id")))
        .withColumn("cumf_prev", F.sum("f").over(w_doc) - F.col("f"))
    )
    # token is in the prefix iff occurrences before it (global rare-first
    # order) number < ⌊na/5⌋ + 1
    prefix = annotated.where(
        F.col("cumf_prev") <= F.expr("na div 5")
    ).select("doc_id", "tok")
    cand = (
        prefix.select(F.col("doc_id").alias("doc_a"), "tok")
        .join(prefix.select(F.col("doc_id").alias("doc_b"), "tok"), "tok")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    a = tf.select(F.col("doc_id").alias("doc_a"), "tok", F.col("f").alias("fa"))
    b = tf.select(F.col("doc_id").alias("doc_b"), "tok", F.col("f").alias("fb"))
    inter = (
        cand.join(a, "doc_a")
        .join(b, ["doc_b", "tok"])
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.least("fa", "fb")).alias("smin"))
    )
    tot = tf.groupBy("doc_id").agg(F.sum("f").alias("nf"))
    ta = tot.select(F.col("doc_id").alias("doc_a"), F.col("nf").alias("na"))
    tb = tot.select(F.col("doc_id").alias("doc_b"), F.col("nf").alias("nb"))
    union = F.col("na") + F.col("nb") - F.col("smin")
    return (
        inter.join(ta, "doc_a")
        .join(tb, "doc_b")
        .where(F.col("smin") * 5 >= union * 4)
        .select(
            "doc_a",
            "doc_b",
            F.expr("(smin * 1000000) div (na + nb - smin)").alias("wjaccard_e6"),
        )
    )


def _wjaccard_dense_pairs(tf, vocab, n_vocab: int, n_blocks: int = 16):
    """Dense bounded-vocab path of doc_weighted_jaccard_pairs (see its
    docstring): block-nested-loop all-pairs over per-doc integer tf
    vectors, Σmin via the exact L1 identity, ≥0.8 cut and the 1e6 score
    in int64 — bit-identical to the inverted-index path.

    LENGTH-BLOCKED: wjaccard ≥ 0.8 forces 5·min(na,nb) ≥ 4·max(na,nb)
    (Σmin ≤ min and 9·Σmin ≥ 4(na+nb) together), so docs are blocked by
    TOTAL-TOKEN-COUNT ntile instead of doc_id%N and any block pair whose
    [min_na, max_na] ranges cannot satisfy the 1.25× ratio is skipped
    before a byte ships — the qualifying-pair set is untouched (the cut
    is implied by the threshold), the all-pairs work drops to the
    near-diagonal band. Measured at sf1.0 (50 k docs, lengths 10-100):
    136 block pairs → ~40 compatible, ~3.5× less kernel compute."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window as W

    tok_ids = vocab.select(
        "tok", (F.row_number().over(W.orderBy("tok")) - 1).alias("tok_id")
    )
    # block ids from a SLIM (doc_id, na) frame: the ntile quantile sort is
    # a single-partition window, so it must never carry the tfs payload —
    # the 2-column frame sorts in milliseconds and broadcast-joins back.
    from ..caching import tracked_persist

    slim = (
        tf.groupBy("doc_id")
        .agg(F.sum("f").alias("na"))
        .withColumn(
            "blk",
            (F.ntile(n_blocks).over(W.orderBy("na", "doc_id")) - 1).cast("int"),
        )
        .transform(tracked_persist)  # read by rng collect AND the join back
    )
    rng = {
        int(r["blk"]): (int(r["lo"]), int(r["hi"]))
        for r in slim.groupBy("blk")
        .agg(F.min("na").alias("lo"), F.max("na").alias("hi"))
        .collect()
    }
    per_doc = (
        tf.join(F.broadcast(tok_ids), "tok")
        .groupBy("doc_id")
        .agg(
            F.collect_list(F.struct("tok_id", "f")).alias("tfs"),
            F.sum("f").alias("na"),
        )
        .join(F.broadcast(slim.select("doc_id", "blk")), "doc_id")
    )
    pairs_of_blocks = [
        (bi, bj)
        for bi in range(n_blocks)
        for bj in range(bi, n_blocks)
        if bi in rng
        and bj in rng
        # ratio-compatible: some a in bi, b in bj with 5*min >= 4*max
        and 5 * rng[bi][1] >= 4 * rng[bj][0]
        and 5 * rng[bj][1] >= 4 * rng[bi][0]
    ]
    # ship each doc once per block-pair it participates in
    routes = F.array(
        *[
            F.when(
                (F.col("blk") == bi) | (F.col("blk") == bj),
                F.lit(bi * n_blocks + bj),
            )
            for bi, bj in pairs_of_blocks
        ]
    )
    routed = per_doc.select(
        "doc_id",
        "blk",
        "na",
        "tfs",
        F.explode(F.array_compact(routes)).alias("grp"),
    )

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        grp = int(pdf["grp"].iloc[0])
        bi, bj = grp // n_blocks, grp % n_blocks
        m = np.zeros((len(pdf), n_vocab), dtype=np.int64)
        for r, tfs in enumerate(pdf["tfs"]):
            for e in tfs:
                m[r, e["tok_id"]] = e["f"]
        ids = pdf["doc_id"].to_numpy()
        na = pdf["na"].to_numpy()
        blk = pdf["blk"].to_numpy()
        ai = np.nonzero(blk == bi)[0]
        bjx = np.nonzero(blk == bj)[0]
        out_a, out_b, out_j = [], [], []
        # Σmin per pair accumulated DIM-BY-DIM over 2-D temporaries
        # (guide §1.2 per-task work): the earlier 3-D
        # |ac|×|bjx|×V abs-diff materialized a 64 MB int64 tensor per
        # step and was memory-bandwidth-bound (~17 s stage at sf0.1);
        # per-dim np.minimum outer ops touch V small 2-D arrays with
        # cache-resident operands. Same exact int64 Σmin (computed
        # directly instead of via the L1 identity), bit-identical output.
        chunk = max(1, 64_000_000 // (max(len(bjx), 1) * 8))
        mb = m[bjx]
        for c0 in range(0, len(ai), chunk):
            ac = ai[c0 : c0 + chunk]
            ma = m[ac]
            smin = np.zeros((len(ac), len(bjx)), dtype=np.int64)
            for dcol in range(n_vocab):
                smin += np.minimum(ma[:, dcol][:, None], mb[:, dcol][None, :])
            union = na[ac][:, None] + na[bjx][None, :] - smin
            hit = smin * 5 >= union * 4
            if bi == bj:
                # same block: the cross product sees each unordered pair
                # twice — keep the a<b orientation only
                hit &= ids[ac][:, None] < ids[bjx][None, :]
            ii, jj = np.nonzero(hit)
            ida, idb = ids[ac][ii], ids[bjx][jj]
            # cross-block pairs arrive in block order, not id order
            out_a.append(np.minimum(ida, idb))
            out_b.append(np.maximum(ida, idb))
            out_j.append(smin[ii, jj] * 1_000_000 // union[ii, jj])
        empty = np.array([], dtype=np.int64)
        return pd.DataFrame(
            {
                "doc_a": np.concatenate(out_a) if out_a else empty,
                "doc_b": np.concatenate(out_b) if out_b else empty,
                "wjaccard_e6": np.concatenate(out_j) if out_j else empty,
            }
        )

    # explicit hash-partition by grp at the block-pair count: the kernel
    # stage's input is small in BYTES but heavy in COMPUTE (2-3 s per
    # block pair), and AQE's size-based coalescing was measured merging
    # it to ~1 task (54 pairs × 2.5 s serialized = 2 min; spread = ~8 s).
    # A user repartition is not coalescible, and its HashPartitioning
    # satisfies the groupBy's required distribution — no extra exchange.
    routed = routed.repartition(max(len(pairs_of_blocks), 1), "grp")
    return routed.groupBy("grp").applyInPandas(
        score, "doc_a long, doc_b long, wjaccard_e6 long"
    )


def _minhash_est_err_oracle(n_hashes: int = 16, bands: int = 8) -> str:
    matches = " + ".join(
        f"CASE WHEN a.g{i} = b.g{i} THEN 1 ELSE 0 END" for i in range(n_hashes)
    )
    return f"""{_SHINGLE_CTES},
    sig AS (SELECT doc_id, {_minhash_sig_sql(n_hashes)} FROM sh GROUP BY doc_id),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(({matches}) * 1000000 // {n_hashes} AS BIGINT) AS est_e6
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE {_band_conds_sql(n_hashes, bands)}
    ),
    inter AS (
      SELECT c.doc_a, c.doc_b, c.est_e6, COUNT(*) AS cnt
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND a.s = b.s
      GROUP BY 1, 2, 3
    )
    SELECT i.doc_a, i.doc_b, i.est_e6,
           i.cnt * 1000000 // (sa.n + sb.n - i.cnt) AS exact_e6,
           i.est_e6 - i.cnt * 1000000 // (sa.n + sb.n - i.cnt) AS err_e6
    FROM inter i
    JOIN sz sa ON sa.doc_id = i.doc_a
    JOIN sz sb ON sb.doc_id = i.doc_b
    """


@query(
    "doc_minhash_estimate_error",
    category="documents",
    oracle=_minhash_est_err_oracle(),
)
def doc_minhash_estimate_error(spark, sf_dir):
    """The MinHash ESTIMATOR priced, not just its candidate recall: for
    every banded candidate pair, the signature-agreement estimate
    (matching components / 16, the unbiased Jaccard estimator) side by
    side with the true Jaccard and the signed error — the table that
    tells a deployment whether 16 hashes suffice for its threshold or
    the verify stage must stay (at n=16 the estimator's stderr is
    ~sqrt(J(1-J)/16) ≈ 0.1: visible in this table, and the reason
    every production pipeline re-verifies exactly — the repo's
    minhash_pairs_exact does). All-integer output (1e6 scale, integer
    floor div); candidates from the same 8×2 banding as
    doc_neardup_minhash_exact; both engines replay signatures,
    banding, agreement counts, and exact intersections bit-for-bit."""
    docs = table(spark, sf_dir, "documents")
    sigs = minhash_signatures(
        docs, n_hashes=16, k=3, shingle_hash=portable_hash
    ).transform(tracked_persist)
    cand = minhash_candidate_pairs(sigs, 8)
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"), *[F.col(f"g{i}").alias(f"a{i}") for i in range(16)]
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"), *[F.col(f"g{i}").alias(f"b{i}") for i in range(16)]
    )
    est = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.expr(
                "("
                + " + ".join(
                    f"CASE WHEN a{i} = b{i} THEN 1 ELSE 0 END" for i in range(16)
                )
                + ") * 1000000 div 16"
            ).alias("est_e6"),
        )
    )
    idx = shingle_index(docs, k=3, hashed=True)
    exact_e6 = "n_inter * 1000000 div (n_a + n_b - n_inter)"
    return _with_sizes(_candidate_intersections(est, idx), idx).select(
        "doc_a",
        "doc_b",
        "est_e6",
        F.expr(exact_e6).alias("exact_e6"),
        F.expr(f"est_e6 - {exact_e6}").alias("err_e6"),
    )


@query(
    "doc_ngram_novelty",
    category="documents",
    oracle=f"""{_SHINGLE_CTES},
    df AS (SELECT s, COUNT(*) AS d FROM sh GROUP BY s)
    SELECT sh.doc_id,
           COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN df.d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           CAST(SUM(CASE WHEN df.d = 1 THEN 1 ELSE 0 END) * 1000000 // COUNT(*)
             AS BIGINT) AS novelty_e6
    FROM sh JOIN df ON df.s = sh.s
    GROUP BY sh.doc_id
    """,
)
def doc_ngram_novelty(spark, sf_dir):
    """Per-document n-gram NOVELTY — the fraction of a doc's distinct
    3-gram shingles that appear NOWHERE else in the corpus: the
    memorization/duplication diagnostic from the other direction than
    the dedup family (dedup asks "who shares my content"; novelty asks
    "how much of me is mine alone" — low-novelty docs are stitched
    from corpus boilerplate even when no single pair crosses a
    near-dup threshold, and a training-data audit tracks the corpus
    novelty distribution across curation rounds). Shingle document
    frequencies are one map-side-combinable count over the same
    inverted index every dedup tier uses; the per-doc score is an
    integer 1e6 ratio of exact counts. Two shuffles (shingle df,
    doc_id regroup) — linear at any corpus size."""
    docs = table(spark, sf_dir, "documents")
    from ..operators.dedup import shingle_index

    sh = shingle_index(docs, k=3, hashed=False)
    df = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("d"))
    return (
        sh.join(df, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("d") == 1, 1).otherwise(0)).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.expr("n_novel * 1000000 div n_shingles").alias("novelty_e6"),
        )
    )


def _max_cov_oracle(k: int = 5) -> str:
    """Greedy max-coverage replay: pick_j = doc covering the most
    corpus shingles not covered by pick_1..j-1 (ties -> lower doc_id).

    sh/cov_j are MATERIALIZED: inlined as views, every pick_j CTE
    re-explodes the whole corpus into trigram strings for its gain scan
    AND once more per cov_j reference (~2k re-explosions across the
    5-step chain was the sf1.0 resource wall)."""
    parts = ["""
w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
  WHERE len(string_split(text, ' ')) >= 3
),
sh AS MATERIALIZED (
  SELECT DISTINCT doc_id,
         UNNEST(list_transform(generate_series(1, len(ws) - 2),
                               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
  FROM w
),
pick1 AS (
  SELECT doc_id, 1 AS step, gain FROM (
    SELECT doc_id, COUNT(*) AS gain,
           ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, doc_id) AS rn
    FROM sh GROUP BY doc_id) WHERE rn = 1
)"""]
    for j in range(2, k + 1):
        picked_union = " UNION ALL ".join(
            f"SELECT doc_id FROM pick{i}" for i in range(1, j)
        )
        parts.append(f"""
cov{j} AS MATERIALIZED (
  SELECT DISTINCT s FROM sh
  WHERE doc_id IN ({picked_union})
),
pick{j} AS (
  SELECT doc_id, {j} AS step, gain FROM (
    SELECT t.doc_id, COUNT(*) AS gain,
           ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, t.doc_id) AS rn
    FROM sh t
    WHERE t.doc_id NOT IN ({picked_union})
      AND NOT EXISTS (SELECT 1 FROM cov{j} c WHERE c.s = t.s)
    GROUP BY t.doc_id) WHERE rn = 1
)""")
    union = " UNION ALL ".join(
        f"SELECT step, doc_id, gain FROM pick{i}" for i in range(1, k + 1)
    )
    return "WITH " + ",".join(parts) + f"\n{union}"


@query("doc_max_coverage_selection", category="documents", oracle=_max_cov_oracle())
def doc_max_coverage_selection(spark, sf_dir):
    """Submodular MAX-COVERAGE corpus selection (the facility-location
    greedy of DsDm/Dolma-style data curation, and the (1−1/e)-optimal
    classic): pick 5 documents that together cover the most distinct
    corpus 3-gram shingles — the "smallest set that represents the
    corpus" primitive behind budgeted fine-tuning-set selection and
    eval-set construction, where MMR-style pairwise diversity
    (vec_mmr_diversified_topk) under-covers because it never reasons
    about what's already covered. Greedy is a FIXED 5-round unroll:
    each round anti-joins the covered-shingle set (left_anti on the
    growing picked union), counts each remaining doc's MARGINAL gain,
    and takes rank-1 with lowest-id ties. The covered set is carried as
    a DataFrame, not a collected literal — at 100 TB it is a bloom-or-
    exact semi-join side exactly like doc_benchmark_decontamination's
    broadcast shingle set. Oracle replays all five rounds via chained
    CTEs; counts are integers throughout."""
    from pyspark.sql import Window as W
    from ..operators.dedup import shingle_index

    sh = shingle_index(table(spark, sf_dir, "documents"), k=3, hashed=False).transform(tracked_persist)
    picked = None
    covered = None
    out = None
    for j in range(1, 6):
        remaining = sh if picked is None else sh.join(picked, "doc_id", "left_anti")
        uncovered = (
            remaining
            if covered is None
            else remaining.join(covered, "shingle", "left_anti")
        )
        gains = uncovered.groupBy("doc_id").agg(F.count(F.lit(1)).alias("gain"))
        top = (
            gains.withColumn(
                "rn",
                F.row_number().over(W.orderBy(F.col("gain").desc(), F.col("doc_id"))),
            )
            .where(F.col("rn") == 1)
            .select("doc_id", F.lit(j).alias("step"), "gain")
        )
        out = top if out is None else out.unionAll(top)
        newly = sh.join(top.select("doc_id"), "doc_id").select("shingle").distinct()
        covered = newly if covered is None else covered.unionAll(newly).distinct()
        picked = out.select("doc_id")
    return out.select("step", "doc_id", "gain")


@query(
    "doc_class_log_odds_terms",
    category="documents",
    oracle="""
    WITH tok AS (
      SELECT lang, UNNEST(string_split(text, ' ')) AS w FROM documents
    ),
    cw AS (SELECT lang, w, COUNT(*) AS c FROM tok GROUP BY lang, w),
    lt AS (SELECT lang, SUM(c) AS nl FROM cw GROUP BY lang),
    wt AS (SELECT w, SUM(c) AS cw_all FROM cw GROUP BY w),
    tot AS (SELECT SUM(c) AS n FROM cw),
    scored AS (
      SELECT cw.lang, cw.w,
             CAST(ROUND((
               ln((cw.c + 0.01 * wt.cw_all)
                  / (lt.nl + 0.01 * tot.n - cw.c - 0.01 * wt.cw_all))
               - ln((wt.cw_all - cw.c + 0.01 * wt.cw_all)
                    / (tot.n - lt.nl + 0.01 * tot.n
                       - (wt.cw_all - cw.c) - 0.01 * wt.cw_all))
             ) / sqrt(1.0 / (cw.c + 0.01 * wt.cw_all)
                      + 1.0 / (wt.cw_all - cw.c + 0.01 * wt.cw_all))
             * 100000000) AS BIGINT) AS z8
      FROM cw
      JOIN lt ON lt.lang = cw.lang
      JOIN wt ON wt.w = cw.w
      CROSS JOIN tot
    ),
    ranked AS (
      SELECT lang, w, z8,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY z8 DESC, w) AS rn
      FROM scored
    )
    SELECT lang, rn AS rank, w AS term, z8
    FROM ranked WHERE rn <= 5 ORDER BY lang, rn
    """,
)
def doc_class_log_odds_terms(spark, sf_dir):
    """Class-distinguishing terms by log-odds with an informative
    Dirichlet prior (Monroe, Colaresi & Quinn 2008 "Fightin' Words") —
    the text-analytics standard for "which words characterize each
    class", robust where raw tf-idf over-ranks rare noise: each
    (lang, word)'s log-odds-ratio against the rest of the corpus is
    shrunk by a prior proportional to the word's corpus frequency
    (alpha = 0.01·corpus count) and standardized by its estimated
    variance; top-5 z-scored terms per language. All counts are exact
    BIGINTs; the z statistic is computed on identical doubles from
    identical integers and quantized to a 1e8 BIGINT before ranking,
    so the per-class top-5 is integer-deterministic (ties → lexical).
    Three mergeable count aggregates + broadcast joins — the
    doc_naive_bayes_langid dataflow with a different statistic."""
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents")
    tok = docs.select("lang", F.explode(F.split("text", " ")).alias("w"))
    cw = tok.groupBy("lang", "w").agg(F.count(F.lit(1)).alias("c"))
    lt = cw.groupBy("lang").agg(F.sum("c").alias("nl"))
    wt = cw.groupBy("w").agg(F.sum("c").alias("cw_all"))
    tot = cw.agg(F.sum("c").alias("n"))
    a = F.col("c") + 0.01 * F.col("cw_all")
    b = F.col("nl") + 0.01 * F.col("n") - F.col("c") - 0.01 * F.col("cw_all")
    a2 = F.col("cw_all") - F.col("c") + 0.01 * F.col("cw_all")
    b2 = (
        F.col("n")
        - F.col("nl")
        + 0.01 * F.col("n")
        - (F.col("cw_all") - F.col("c"))
        - 0.01 * F.col("cw_all")
    )
    z = (F.log(a / b) - F.log(a2 / b2)) / F.sqrt(1.0 / a + 1.0 / a2)
    scored = (
        cw.join(F.broadcast(lt), "lang")
        .join(wt, "w")
        .crossJoin(F.broadcast(tot))
        .select("lang", "w", F.round(z * 100000000).cast("long").alias("z8"))
    )
    ranked = scored.withColumn(
        "rn", F.row_number().over(W.partitionBy("lang").orderBy(F.col("z8").desc(), "w"))
    )
    return ranked.where(F.col("rn") <= 5).select(
        "lang", F.col("rn").alias("rank"), F.col("w").alias("term"), "z8"
    ).orderBy("lang", "rank")


@query(
    "doc_temperature_mixing",
    category="documents",
    oracle="""
    WITH sc AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
    tot AS (SELECT SUM(n) AS nt FROM sc),
    pw AS (
      SELECT sc.source, sc.n,
             CAST(ROUND(exp(0.7 * ln(sc.n * 1.0 / tot.nt)) * 100000000)
                  AS BIGINT) AS w8
      FROM sc CROSS JOIN tot
    ),
    wt AS (SELECT SUM(w8) AS sw8 FROM pw),
    plan_t AS (
      SELECT pw.source, pw.n,
             CAST(pw.w8 * 1000000 // wt.sw8 AS BIGINT) AS target_share_e6,
             CAST(pw.n * 1000000 // t2.nt AS BIGINT) AS actual_share_e6,
             LEAST(1000000,
                   (pw.w8 * 1000000 // wt.sw8) * 1000000
                     // GREATEST(pw.n * 1000000 // t2.nt, 1)) AS keep_e6
      FROM pw CROSS JOIN wt CROSS JOIN tot t2
    ),
    verdicts AS (
      SELECT d.doc_id, d.source, p.target_share_e6, p.actual_share_e6,
             CASE WHEN ('0x' || substr(md5('temp:' || d.doc_id), 1, 15))::BIGINT
                       % 1000000 < p.keep_e6
                  THEN 1 ELSE 0 END AS kept
      FROM documents d JOIN plan_t p ON p.source = d.source
    )
    SELECT source, target_share_e6, actual_share_e6,
           COUNT(*) AS n_docs, CAST(SUM(kept) AS BIGINT) AS n_kept
    FROM verdicts
    GROUP BY source, target_share_e6, actual_share_e6
    ORDER BY source
    """,
)
def doc_temperature_mixing(spark, sf_dir):
    """TEMPERATURE-based source mixing (T=0.7 — the multilingual /
    multi-source rebalancing standard from mT5/XLM-R: sampling shares
    ∝ p^T upweight small sources so the head never drowns the tail,
    without the uniform-mixing overcorrection): per-source target
    shares come from the T-powered distribution with exp/ln quantized
    to a 1e8 BIGINT per SOURCE (the 5-row stats table — libm touches 5
    numbers, never documents), per-doc keep decisions are the portable
    md5 hash against an integer 1e6 threshold = min(1, target/actual)
    (downsampling-only: a keep probability can't exceed 1; the
    upsampled complement is a repeat-factor the reader applies),
    and the report shows target vs actual vs achieved per source.
    One stats aggregate + one broadcast join — the doc_source_mixing /
    doc_importance_resample deterministic-Bernoulli discipline with
    the temperature exponent on top."""
    docs = table(spark, sf_dir, "documents")
    sc = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    tot = sc.agg(F.sum("n").alias("nt"))
    pw = sc.crossJoin(F.broadcast(tot)).select(
        "source",
        "n",
        "nt",
        F.round(F.exp(0.7 * F.log(F.col("n") * 1.0 / F.col("nt"))) * 100000000)
        .cast("long")
        .alias("w8"),
    )
    wt = pw.agg(F.sum("w8").alias("sw8"))
    plan = (
        pw.crossJoin(F.broadcast(wt))
        .select(
            "source",
            "n",
            F.expr("w8 * 1000000 div sw8").alias("target_share_e6"),
            F.expr("n * 1000000 div nt").alias("actual_share_e6"),
        )
        .select(
            "source",
            "target_share_e6",
            "actual_share_e6",
            F.least(
                F.lit(1000000),
                F.expr(
                    "target_share_e6 * 1000000"
                    " div greatest(actual_share_e6, 1)"
                ),
            ).alias("keep_e6"),
        )
    )
    verdicts = docs.join(F.broadcast(plan), "source").select(
        "source",
        "target_share_e6",
        "actual_share_e6",
        F.when(
            F.conv(
                F.substring(F.md5(F.concat(F.lit("temp:"), F.col("doc_id"))), 1, 15),
                16,
                10,
            ).cast("long")
            % 1000000
            < F.col("keep_e6"),
            1,
        )
        .otherwise(0)
        .alias("kept"),
    )
    return (
        verdicts.groupBy("source", "target_share_e6", "actual_share_e6")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("kept").alias("n_kept"))
        .orderBy("source")
    )


@query(
    "doc_heaps_law_fit",
    category="documents",
    oracle="""
    WITH tok AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents
    ),
    mx AS (SELECT MAX(doc_id) + 1 AS nd FROM documents),
    firsts AS (SELECT w, MIN(doc_id) AS fd FROM tok GROUP BY w),
    grid AS (
      SELECT (g.k * mx.nd) // 10 AS cut FROM
        (SELECT UNNEST(generate_series(1, 10)) AS k) g CROSS JOIN mx
    ),
    pts AS (
      SELECT grid.cut,
             (SELECT COUNT(*) FROM tok WHERE tok.doc_id < grid.cut) AS t_tokens,
             (SELECT COUNT(*) FROM firsts WHERE firsts.fd < grid.cut) AS v_vocab
      FROM grid
    ),
    q AS (
      SELECT CAST(ROUND(ln(t_tokens) * 100000000) AS BIGINT) AS x8,
             CAST(ROUND(ln(v_vocab) * 100000000) AS BIGINT) AS y8
      FROM pts WHERE t_tokens > 0 AND v_vocab > 0
    ),
    m AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(x8 AS DECIMAL(38,0))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y8 AS DECIMAL(38,0))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x8 * y8 AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(x8 * x8 AS DECIMAL(38,0))) AS DOUBLE) AS sxx
      FROM q
    )
    SELECT n AS n_points,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS heaps_beta,
           ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
                 / n / 100000000.0, 4) AS heaps_ln_k
    FROM m
    """,
)
def doc_heaps_law_fit(spark, sf_dir):
    """Heaps'-law fit — vocabulary GROWTH against corpus size (V = K·Tᵝ,
    the companion power law to doc_zipf_fit's rank-frequency view, and
    the capacity planner's question: how big does the vocab/embedding
    table get at 100× the corpus?): cumulative token and distinct-vocab
    counts at ten doc-id cutoffs (vocab via the first-occurrence
    decomposition — a token exists at cutoff c iff its MIN doc_id < c,
    so no per-cutoff distinct pass), then OLS on the ln-ln points. The
    10 (ln T, ln V) points quantize to 1e8 BIGINTs BEFORE the moment
    sums (which accumulate in DECIMAL(38,0) — x8·y8 ≈ 1.3e18 would
    overflow a BIGINT sum), so the fitted β and ln K are bit-equal
    doubles. Natural text sits near β≈0.5; the synthetic 31-word salad
    saturates (β→0 at the tail), which the fit duly reports."""
    docs = table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    mx = docs.agg((F.max("doc_id") + 1).alias("nd"))
    firsts = tok.groupBy("w").agg(F.min("doc_id").alias("fd"))
    grid = (
        spark.range(1, 11)
        .crossJoin(F.broadcast(mx))
        .select(F.expr("(id * nd) div 10").alias("cut"))
    )
    t_pts = (
        tok.crossJoin(F.broadcast(grid))
        .where(F.col("doc_id") < F.col("cut"))
        .groupBy("cut")
        .agg(F.count(F.lit(1)).alias("t_tokens"))
    )
    v_pts = (
        firsts.crossJoin(F.broadcast(grid))
        .where(F.col("fd") < F.col("cut"))
        .groupBy("cut")
        .agg(F.count(F.lit(1)).alias("v_vocab"))
    )
    pts = t_pts.join(v_pts, "cut").where(
        (F.col("t_tokens") > 0) & (F.col("v_vocab") > 0)
    )
    q = pts.select(
        F.round(F.log("t_tokens") * 100000000).cast("long").alias("x8"),
        F.round(F.log("v_vocab") * 100000000).cast("long").alias("y8"),
    )
    dec = lambda c: F.sum(c.cast(T.DecimalType(38, 0))).cast("double")
    m = q.agg(
        F.count(F.lit(1)).alias("n"),
        dec(F.col("x8")).alias("sx"),
        dec(F.col("y8")).alias("sy"),
        dec(F.col("x8") * F.col("y8")).alias("sxy"),
        dec(F.col("x8") * F.col("x8")).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return m.select(
        F.col("n").alias("n_points"),
        F.round(slope, 4).alias("heaps_beta"),
        F.round(
            (F.col("sy") - slope * F.col("sx")) / F.col("n") / 100000000.0, 4
        ).alias("heaps_ln_k"),
    )


@query(
    "doc_gopher_rules",
    category="documents",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks, length(text) AS nc
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             -- integer half-away division: dyadic word counts land mean
             -- lengths exactly on .00005 where float ROUND modes diverge
             ((2 * (nc - (len(toks) - 1)) * 10000 + len(toks))
              // (2 * len(toks))) / 10000.0 AS mean_wlen,
             CAST(len(list_intersect(list_distinct(toks),
                                     ['the', 'a', 'of', 'to', 'and'])) AS BIGINT)
               AS n_stop_distinct
      FROM t
    )
    SELECT doc_id, n_words, mean_wlen, n_stop_distinct,
           (n_words BETWEEN 50 AND 100000)
             AND mean_wlen >= 3.0 AND mean_wlen <= 10.0
             AND n_stop_distinct >= 2 AS keep
    FROM m
    """,
)
def doc_gopher_rules(spark, sf_dir):
    """Gopher-style rule-based quality gate (Rae et al. 2021, table A1 —
    the heuristic tier EVERY production LLM corpus runs before any model
    scoring): word-count bounds (50..100k), mean-word-length band
    (3..10), and the stop-word sanity check (>= 2 distinct of a 5-word
    stop list — a document with none is usually a listing, not prose).
    All three signals are pure column arithmetic — mean word length
    comes from (n_chars - (n_words-1)) / n_words because tokens are
    single-space joined, and the stop-word count is array_intersect of
    the distinct token set with a 5-element literal — so the whole gate
    is one scan with zero shuffles and zero explodes: the cheapest
    possible first funnel tier at 100 TB."""
    docs = table(spark, sf_dir, "documents")
    t = F.split("text", " ")
    stops = F.array(*[F.lit(s) for s in ("the", "a", "of", "to", "and")])
    m = docs.select(
        "doc_id",
        F.size(t).cast("long").alias("n_words"),
        # integer half-away division to 4 dp from the exact integer pair
        # (n_chars-(n_words-1), n_words): ROUND(double,4) splits at .00005
        # boundaries dyadic word counts land on exactly (half-up vs
        # half-even across engines). Positive operands, so DIV ≡ //.
        F.expr(
            "((2L * (length(text) - (size(split(text, ' ')) - 1)) * 10000L"
            "  + size(split(text, ' ')))"
            " DIV (2L * size(split(text, ' ')))) / 10000.0D"
        ).alias("mean_wlen"),
        F.size(F.array_intersect(F.array_distinct(t), stops))
        .cast("long")
        .alias("n_stop_distinct"),
    )
    return m.select(
        "doc_id",
        "n_words",
        "mean_wlen",
        "n_stop_distinct",
        (
            F.col("n_words").between(50, 100000)
            & (F.col("mean_wlen") >= 3.0)
            & (F.col("mean_wlen") <= 10.0)
            & (F.col("n_stop_distinct") >= 2)
        ).alias("keep"),
    )


@query(
    "doc_repetition_filters",
    category="documents",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      FROM documents
    ),
    g2 AS (
      SELECT doc_id,
             array_to_string(list_slice(toks, pos, pos + 1), ' ') AS g
      FROM t, LATERAL (SELECT UNNEST(generate_series(1, len(toks) - 1)) AS pos) s
      WHERE len(toks) >= 2
    ),
    c2 AS (SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY doc_id, g),
    top2 AS (SELECT doc_id, MAX(c) AS max_c2 FROM c2 GROUP BY doc_id),
    g3 AS (
      SELECT doc_id,
             array_to_string(list_slice(toks, pos, pos + 2), ' ') AS g
      FROM t, LATERAL (SELECT UNNEST(generate_series(1, len(toks) - 2)) AS pos) s
      WHERE len(toks) >= 3
    ),
    c3 AS (SELECT doc_id, g, COUNT(*) AS c FROM g3 GROUP BY doc_id, g),
    dup3 AS (
      SELECT doc_id, SUM(CASE WHEN c >= 2 THEN c * 3 ELSE 0 END) AS dup_toks
      FROM c3 GROUP BY doc_id
    ),
    m AS (
      SELECT t.doc_id,
             t.n AS n_tokens,
             COALESCE(top2.max_c2, 0) * 2 * 1000000 // t.n AS top2_frac_e6,
             CAST(COALESCE(dup3.dup_toks, 0) * 1000000 // t.n AS BIGINT)
               AS dup3_frac_e6
      FROM t LEFT JOIN top2 ON t.doc_id = top2.doc_id
             LEFT JOIN dup3 ON t.doc_id = dup3.doc_id
    )
    SELECT doc_id, n_tokens, top2_frac_e6, dup3_frac_e6,
           top2_frac_e6 <= 200000 AND dup3_frac_e6 <= 300000 AS keep
    FROM m
    """,
)
def doc_repetition_filters(spark, sf_dir):
    """Gopher repetition filters (Rae et al. 2021 §A1.1): a document is
    degenerate boilerplate when one 2-gram dominates it (top-2-gram token
    fraction > 20%) or when repeated 3-grams cover too much of it
    (tokens inside 3-grams occurring >= 2x in the doc > 30%). Fractions
    are exact scaled integers (x1e6, floor-div) so both engines agree
    bit-for-bit. Plan: the pre-split token array explodes ONCE per gram
    order with the gram built by slice (no re-tokenization), counts
    map-side-combine on (doc_id, gram), and every aggregate is per-doc
    bounded — the same inverted-index shape as the span-coverage tier,
    linear in corpus size at 100 TB."""
    docs = table(spark, sf_dir, "documents")
    # spread + persist: the token-array frame feeds THREE subtrees (the
    # 2-gram pass, the 3-gram pass, and the per-doc size join) — without
    # the persist each re-tokenized the corpus inside the one-task
    # single-file scan (three serial ~1.2 s stages in the event log).
    from ..caching import tracked_persist

    toks = tracked_persist(
        spread(docs, "doc_id")
        .select("doc_id", F.split("text", " ").alias("t"))
        .select("doc_id", "t", F.size("t").cast("long").alias("n"))
    )

    def grams(order: int):
        return (
            toks.where(F.col("n") >= order)
            .select(
                "doc_id",
                "n",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), (F.col("n") - order + 1).cast("int")),
                        lambda i: F.concat_ws(" ", F.slice(F.col("t"), i, order)),
                    )
                ).alias("g"),
            )
            .groupBy("doc_id", "g")
            .agg(F.count(F.lit(1)).alias("c"))
        )

    top2 = grams(2).groupBy("doc_id").agg(F.max("c").alias("max_c2"))
    dup3 = (
        grams(3)
        .groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("c") >= 2, F.col("c") * 3).otherwise(0)).alias(
                "dup_toks"
            )
        )
    )
    m = (
        toks.select("doc_id", "n")
        .join(top2, "doc_id", "left")
        .join(dup3, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n").alias("n_tokens"),
            F.expr("coalesce(max_c2, 0) * 2 * 1000000 DIV n").alias("top2_frac_e6"),
            F.expr("coalesce(dup_toks, 0) * 1000000 DIV n").alias("dup3_frac_e6"),
        )
    )
    return m.select(
        "doc_id",
        "n_tokens",
        "top2_frac_e6",
        "dup3_frac_e6",
        ((F.col("top2_frac_e6") <= 200000) & (F.col("dup3_frac_e6") <= 300000)).alias(
            "keep"
        ),
    )


@query(
    "doc_decontaminate_overlap",
    category="documents",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
             doc_id % 97 = 0 AS is_eval
      FROM documents
    ),
    g AS (
      SELECT doc_id, is_eval,
             array_to_string(list_slice(toks, pos, pos + 7), ' ') AS g
      FROM t, LATERAL (SELECT UNNEST(generate_series(1, len(toks) - 7)) AS pos) s
      WHERE len(toks) >= 8
    ),
    eval_grams AS (SELECT DISTINCT g FROM g WHERE is_eval),
    train_grams AS (SELECT DISTINCT doc_id, g FROM g WHERE NOT is_eval),
    ov AS (
      SELECT tg.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_grams_distinct,
             CAST(SUM(CASE WHEN e.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_overlap
      FROM train_grams tg LEFT JOIN eval_grams e ON tg.g = e.g
      GROUP BY tg.doc_id
    )
    SELECT t.doc_id,
           COALESCE(ov.n_grams_distinct, 0) AS n_grams_distinct,
           COALESCE(ov.n_overlap, 0) AS n_overlap,
           COALESCE(ov.n_overlap, 0) >= 1 AS contaminated
    FROM t LEFT JOIN ov ON t.doc_id = ov.doc_id
    WHERE NOT t.is_eval
    """,
)
def doc_decontaminate_overlap(spark, sf_dir):
    """Benchmark decontamination (GPT-3 appendix C / Lee et al. 2022):
    flag every training document sharing an 8-gram with the evaluation
    set (here: doc_id % 97 == 0 stands in for the benchmark corpus).
    The eval side collapses to a DISTINCT gram-hash set — tiny relative
    to the corpus, broadcast to the probe join, so the corpus-side scan
    is one pass with a map-side semi-probe and NO corpus shuffle on the
    gram stream beyond the per-doc distinct. Gram identity travels as
    xxhash64 (the hash never leaves the query; the oracle joins raw gram
    strings — identical modulo collisions, same argument as the
    span-coverage tier). Output: per train doc, distinct-gram count,
    overlapping-gram count, contaminated flag."""
    docs = table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        (F.col("doc_id") % 97 == 0).alias("is_eval"),
        F.split("text", " ").alias("t"),
    ).select("doc_id", "is_eval", "t", F.size("t").cast("long").alias("n"))
    g = (
        t.where(F.col("n") >= 8)
        .select(
            "doc_id",
            "is_eval",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), (F.col("n") - 7).cast("int")),
                    lambda i: F.xxhash64(F.concat_ws(" ", F.slice(F.col("t"), i, 8))),
                )
            ).alias("g"),
        )
    )
    eval_grams = g.where("is_eval").select("g").distinct()
    train_grams = g.where(~F.col("is_eval")).select("doc_id", "g").distinct()
    ov = (
        train_grams.join(
            F.broadcast(eval_grams.withColumn("_hit", F.lit(1))), "g", "left"
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams_distinct"),
            F.count("_hit").alias("n_overlap"),
        )
    )
    return (
        t.where(~F.col("is_eval"))
        .select("doc_id")
        .join(ov, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams_distinct", F.lit(0)).alias("n_grams_distinct"),
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            (F.coalesce("n_overlap", F.lit(0)) >= 1).alias("contaminated"),
        )
    )


@query(
    "doc_dataset_card",
    category="documents",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang, source, sha256(text) AS dg,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    base AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
             CAST(COUNT(DISTINCT dg) AS BIGINT) AS n_unique_texts,
             CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
      FROM t
    ),
    vocab AS (
      SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS vocab_size
      FROM (SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents)
    ),
    lang_h AS (
      SELECT ROUND(list_reduce(
               list_prepend(0.0,
                 list(-(n * 1.0 / tot) * log2(n * 1.0 / tot) ORDER BY lang)),
               (a, b) -> a + b), 4) AS lang_entropy
      FROM (
        SELECT lang, COUNT(*) AS n, SUM(COUNT(*)) OVER () AS tot
        FROM documents GROUP BY lang
      )
    )
    SELECT b.n_docs, b.total_tokens, v.vocab_size,
           (b.n_docs - b.n_unique_texts) * 1000000 // b.n_docs AS dup_frac_e6,
           b.n_langs, b.n_sources, l.lang_entropy
    FROM base b, vocab v, lang_h l
    """,
)
def doc_dataset_card(spark, sf_dir):
    """The one-row DATASET CARD every released corpus ships (Dolma /
    FineWeb / RedPajama convention): document and token counts,
    vocabulary size, exact-duplicate fraction (sha-distinct vs total, in
    ppm), language/source cardinalities, and the language-distribution
    entropy in bits. Everything is one pass over the corpus plus one
    token explode for the vocabulary count: counts and the dup fraction
    are exact integers; the entropy sums at most |langs| terms, so the
    float fold is over a handful of deterministic doubles (grouped
    counts), not data-order-dependent accumulation. The single cross of
    three 1-row frames is free."""
    docs = table(spark, sf_dir, "documents")
    t = docs.select(
        "lang",
        "source",
        F.sha2("text", 256).alias("dg"),
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    base = t.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.countDistinct("dg").alias("n_unique_texts"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
    )
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .agg(F.countDistinct("tok").alias("vocab_size"))
    )
    from pyspark.sql import Window as W

    lang_counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    p = F.col("n") / F.sum("n").over(W.partitionBy())
    # fold the per-language terms in lang order so the handful of doubles
    # adds identically on both engines (the agg_anova_oneway idiom)
    lang_h = (
        lang_counts.select("lang", (-p * F.log2(p)).alias("term"))
        .agg(
            F.round(
                F.aggregate(
                    F.sort_array(F.collect_list(F.struct("lang", "term"))),
                    F.lit(0.0),
                    lambda acc, x: acc + x["term"],
                ),
                4,
            ).alias("lang_entropy")
        )
    )
    return (
        base.crossJoin(vocab)
        .crossJoin(lang_h)
        .select(
            "n_docs",
            "total_tokens",
            "vocab_size",
            F.expr(
                "(n_docs - n_unique_texts) * 1000000 DIV n_docs"
            ).alias("dup_frac_e6"),
            "n_langs",
            "n_sources",
            "lang_entropy",
        )
    )


@query(
    "doc_ccnet_perplexity_buckets",
    category="documents",
    oracle="""
    WITH tok AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS w
      FROM documents
    ),
    vocab AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
    tot AS (SELECT SUM(c) AS n FROM vocab),
    scored AS (
      SELECT t.doc_id, ln(v.c * 1.0 / tot.n) AS lp
      FROM tok t JOIN vocab v ON t.w = v.w CROSS JOIN tot
    ),
    per_doc AS (
      SELECT doc_id, ROUND(SUM(lp) / COUNT(*), 4) AS avg_lp
      FROM scored GROUP BY doc_id
    ),
    bucketed AS (
      SELECT d.doc_id, d.lang, p.avg_lp,
             NTILE(3) OVER (PARTITION BY d.lang
                            ORDER BY p.avg_lp DESC, d.doc_id) AS t
      FROM documents d JOIN per_doc p ON d.doc_id = p.doc_id
    )
    SELECT doc_id, lang, avg_lp,
           CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                  ELSE 'tail' END AS ppl_bucket
    FROM bucketed
    """,
)
def doc_ccnet_perplexity_buckets(spark, sf_dir):
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): score every
    document with the corpus LM, then split each LANGUAGE into
    head/middle/tail terciles by model fit — the standard curriculum /
    filtering signal (head ≈ wikipedia-like, tail ≈ boilerplate; most
    pipelines train on head+middle and sample tail). Scoring reuses the
    exact doc_unigram_logprob convention (probabilities are exact count
    ratios so ln() sees identical rationals; the 4-dp rounded mean is
    the proven-stable cross-engine value), and the tercile is NTILE(3)
    over (avg_lp DESC, doc_id) — deterministic on both engines given
    equal rounded scores. At 100 TB: one token-explode aggregate for the
    LM (broadcast back), then a per-language window — the per-lang sort
    shards across executors by partition key; nothing is all-pairs."""
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    vocab = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    tot = vocab.agg(F.sum("c").alias("n"))
    per_doc = (
        tok.join(F.broadcast(vocab), "w")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", F.log(F.col("c") * 1.0 / F.col("n")).alias("lp"))
        .groupBy("doc_id")
        .agg(F.round(F.sum("lp") / F.count(F.lit(1)), 4).alias("avg_lp"))
    )
    t = F.ntile(3).over(
        W.partitionBy("lang").orderBy(F.col("avg_lp").desc(), "doc_id")
    )
    return (
        docs.select("doc_id", "lang")
        .join(per_doc, "doc_id")
        .select(
            "doc_id",
            "lang",
            "avg_lp",
            F.when(t == 1, "head").when(t == 2, "middle").otherwise("tail")
            .alias("ppl_bucket"),
        )
    )


@query(
    "doc_dedup_rate_by_source",
    category="documents",
    oracle="""
    WITH h AS (SELECT doc_id, source, md5(text) AS dg FROM documents),
    g AS (SELECT dg, COUNT(*) AS c, MIN(doc_id) AS keeper
          FROM h GROUP BY dg)
    SELECT h.source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN g.c > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_in_dup_cluster,
           CAST(SUM(CASE WHEN h.doc_id <> g.keeper THEN 1 ELSE 0 END)
             AS BIGINT) AS n_removed,
           CAST(SUM(CASE WHEN h.doc_id <> g.keeper THEN 1 ELSE 0 END)
             * 1000000 // COUNT(*) AS BIGINT) AS removed_ppm
    FROM h JOIN g USING (dg)
    GROUP BY h.source
    """,
)
def doc_dedup_rate_by_source(spark, sf_dir):
    """Per-source exact-dedup diagnostics — the report a corpus owner
    reads BEFORE deciding which crawls/feeds to keep: for each source,
    how many docs sit in a duplicate cluster and how many the min-id
    keeper policy removes (exact ppm). A source with a high removal rate
    is re-crawling the same pages; one with high cluster membership but
    low removal is the canonical copy others duplicate. Digest is md5 of
    the raw text (portable on both engines); the keeper rule is the same
    min-doc_id policy as doc_exact_dedup, so this report is consistent
    with the dedup the pipeline actually runs. One digest groupBy + one
    source groupBy — both map-side-combinable hash aggregations, no
    window, scales linearly."""
    docs = table(spark, sf_dir, "documents")
    h = docs.select("doc_id", "source", F.md5("text").alias("dg"))
    g = h.groupBy("dg").agg(
        F.count(F.lit(1)).alias("c"), F.min("doc_id").alias("keeper")
    )
    return (
        h.join(g, "dg")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("c") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_in_dup_cluster"),
            F.sum(F.when(F.col("doc_id") != F.col("keeper"), 1).otherwise(0))
            .cast("long")
            .alias("n_removed"),
        )
        .select(
            "source",
            "n_docs",
            "n_in_dup_cluster",
            "n_removed",
            F.expr("n_removed * 1000000 div n_docs").alias("removed_ppm"),
        )
    )


@query(
    "doc_rouge1_decontam_score", python_boundary=True,
    category="documents",
    oracle="""
    WITH ev AS (
      SELECT doc_id AS eval_id, text FROM documents
      WHERE doc_id % 97 = 0
    ),
    etf AS (
      SELECT eval_id, w, COUNT(*) AS ef
      FROM (SELECT eval_id, UNNEST(string_split(text, ' ')) AS w FROM ev)
      GROUP BY eval_id, w
    ),
    etot AS (SELECT eval_id, SUM(ef) AS ne FROM etf GROUP BY eval_id),
    dtf AS (
      SELECT doc_id, w, COUNT(*) AS df
      FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS w
            FROM documents WHERE doc_id % 97 <> 0)
      GROUP BY doc_id, w
    ),
    ov AS (
      SELECT d.doc_id, e.eval_id, SUM(LEAST(d.df, e.ef)) AS smin
      FROM dtf d JOIN etf e ON d.w = e.w
      GROUP BY d.doc_id, e.eval_id
    ),
    scored AS (
      SELECT o.doc_id, o.eval_id,
             CAST(o.smin * 1000000 // t.ne AS BIGINT) AS rouge1_e6
      FROM ov o JOIN etot t ON t.eval_id = o.eval_id
    ),
    best AS (
      SELECT doc_id, eval_id, rouge1_e6,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY rouge1_e6 DESC, eval_id) AS rn
      FROM scored
    )
    SELECT doc_id, eval_id AS worst_eval_id, rouge1_e6 AS max_rouge1_e6,
           rouge1_e6 >= 500000 AS flagged
    FROM best WHERE rn = 1
    """,
)
def doc_rouge1_decontam_score(spark, sf_dir):
    """ROUGE-1 recall decontamination score — the token-granular
    companion to the 8-gram screens (doc_decontaminate_overlap): for
    every training doc, the maximum unigram recall against any held-out
    eval doc (Σ min(tf_doc, tf_eval) / |eval|, exact 1e6-scale integer),
    flagged at ≥ 0.5. N-gram screens miss paraphrases that shuffle word
    order; unigram recall catches them at the cost of more false
    positives — pipelines run both and review the disagreement. The
    eval set is the deterministic doc_id % 97 == 0 slice (synthetic
    stand-in for a benchmark suite). Physical-path choice, measured
    (the doc_weighted_jaccard_pairs convention): when the EVAL
    vocabulary is bounded (one tiny distinct-count job; ≤ 4096), the
    eval tf table broadcasts as a dense int64 matrix and a mapInPandas
    kernel computes Σ min(tf_doc, tf_eval) for all evals plus the
    per-doc argmax ENTIRELY in-batch — zero shuffle, one output row
    per doc (the sparse token join on the degenerate 31-word fixture
    fans every train token out to every eval doc: ~700 M joined rows,
    79 s at sf1.0, vs ~2 s dense). A natural vocabulary keeps the
    sparse plan: eval tf tiny and BROADCAST, candidates only where a
    token collides, one map-side-combinable sum, per-doc argmax over
    ≤ |eval| rows — never all-pairs against the corpus. Both paths
    are identical exact-integer arithmetic against the same oracle."""
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    etf = (
        ev.select(
            F.col("doc_id").alias("eval_id"),
            F.explode(F.split("text", " ")).alias("w"),
        )
        .groupBy("eval_id", "w")
        .agg(F.count(F.lit(1)).alias("ef"))
    )
    n_vocab = etf.select("w").distinct().count()
    if n_vocab <= 4096:
        return _rouge1_dense(spark, train, etf)
    etot = etf.groupBy("eval_id").agg(F.sum("ef").alias("ne"))
    dtf = (
        train.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    ov = (
        dtf.join(F.broadcast(etf), "w")
        .groupBy("doc_id", "eval_id")
        .agg(F.sum(F.least("df", "ef")).alias("smin"))
    )
    scored = ov.join(F.broadcast(etot), "eval_id").select(
        "doc_id",
        "eval_id",
        F.expr("smin * 1000000 div ne").alias("rouge1_e6"),
    )
    best = scored.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("doc_id").orderBy(
                F.col("rouge1_e6").desc(), F.col("eval_id")
            )
        ),
    ).where(F.col("rn") == 1)
    return best.select(
        "doc_id",
        F.col("eval_id").alias("worst_eval_id"),
        F.col("rouge1_e6").alias("max_rouge1_e6"),
        (F.col("rouge1_e6") >= 500000).alias("flagged"),
    )


def _rouge1_dense(spark, train, etf):
    """Dense bounded-vocab kernel for doc_rouge1_decontam_score: the
    collected eval tf matrix (E×V int64, V ≤ 4096 by the caller's
    measured gate) broadcasts; each Arrow batch of train docs tokenizes
    (same single-space split as F.split(text, ' ') — Python re keeps
    empty fields exactly like Spark/DuckDB), builds its tf matrix with
    np.add.at restricted to the eval vocabulary, takes
    smin = Σ_V min(tf_doc, tf_eval) by chunked broadcasting, floors
    rouge1_e6 = smin·1e6 // ne in int64, masks no-overlap pairs
    (smin = 0 pairs do not exist in the sparse join), and argmaxes per
    doc with first-index-wins ties == (rouge DESC, eval_id ASC) since
    eval columns are sorted by eval_id. Output is one row per
    overlapping doc; nothing pairwise ever shuffles."""
    import re

    import numpy as np
    import pandas as pd

    erows = etf.collect()
    eval_ids = sorted({int(r["eval_id"]) for r in erows})
    vocab = sorted({r["w"] for r in erows})
    vid = {w: i for i, w in enumerate(vocab)}
    eidx = {e: i for i, e in enumerate(eval_ids)}
    emat = np.zeros((len(eval_ids), len(vocab)), dtype=np.int64)
    for r in erows:
        emat[eidx[int(r["eval_id"])], vid[r["w"]]] = int(r["ef"])
    ne = emat.sum(axis=1)  # (E,) — Σ ef == eval token count
    bc = spark.sparkContext.broadcast(
        (np.array(eval_ids, dtype=np.int64), vocab, emat, ne)
    )

    def score(batches):
        eids, voc, em, ne_ = bc.value
        vmap = {w: i for i, w in enumerate(voc)}
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy(dtype=np.int64)
            if len(ids) == 0:
                continue
            tf = np.zeros((len(ids), len(voc)), dtype=np.int64)
            for i, text in enumerate(pdf["text"]):
                for w in re.split(" ", text):
                    j = vmap.get(w)
                    if j is not None:
                        tf[i, j] += 1
            best_r = np.full(len(ids), -1, dtype=np.int64)
            best_e = np.zeros(len(ids), dtype=np.int64)
            # chunk so the (b, E, V) broadcast stays ~256 MB of int64
            step = max(1, (1 << 25) // max(1, em.shape[0] * em.shape[1]))
            for lo in range(0, len(ids), step):
                hi = min(lo + step, len(ids))
                smin = np.minimum(
                    tf[lo:hi, None, :], em[None, :, :]
                ).sum(axis=2)  # (b, E)
                r = np.where(smin > 0, smin * 1000000 // ne_[None, :], -1)
                bi = r.argmax(axis=1)  # first max == lowest eval_id
                best_r[lo:hi] = r[np.arange(hi - lo), bi]
                best_e[lo:hi] = eids[bi]
            keep = best_r >= 0
            yield pd.DataFrame(
                {
                    "doc_id": ids[keep],
                    "worst_eval_id": best_e[keep],
                    "max_rouge1_e6": best_r[keep],
                    "flagged": best_r[keep] >= 500000,
                }
            )

    return spread(train.select("doc_id", "text")).mapInPandas(
        score,
        "doc_id long, worst_eval_id long, max_rouge1_e6 long, flagged boolean",
    )


_FERTILITY_TAIL = """,
    docw AS (
      SELECT d.lang, UNNEST(string_split(d.text, ' ')) AS w FROM documents d
    ),
    per_lang AS (
      SELECT lang,
             CAST(COUNT(*) AS BIGINT) AS n_words,
             CAST(SUM(len(w)) AS BIGINT) AS n_chars,
             CAST(SUM(len(string_split(w6.seg, ' '))) AS BIGINT) AS n_bpe_tokens
      FROM docw JOIN w6 USING (w)
      GROUP BY lang
    )
    SELECT lang, n_words, n_bpe_tokens,
           CAST(n_bpe_tokens * 1000000 // n_words AS BIGINT) AS fertility_e6,
           CAST(n_chars * 1000000 // n_bpe_tokens AS BIGINT)
             AS chars_per_token_e6
    FROM per_lang
"""


@query(
    "doc_tokenizer_fertility_by_lang",
    category="documents",
    oracle=_bpe_oracle(carry_w=True, body_only=True) + _FERTILITY_TAIL,
)
def doc_tokenizer_fertility_by_lang(spark, sf_dir):
    """Tokenizer FERTILITY by language — BPE tokens per word and chars
    per token, per language, under the corpus-trained vocabulary: the
    standard multilingual-fairness audit (a tokenizer trained on an
    English-heavy mix fragments low-resource languages into 2-3x more
    tokens per word, which silently taxes their effective context
    length and training compute — Rust et al. 2021). Reuses the exact
    doc_bpe_train/encode chain: encode joins the corpus's token stream
    against the DISTINCT-WORD segmentation table (vocabulary-sized,
    broadcast), so the per-language rollup is one explode + one
    broadcast join + one partial-aggregated groupBy however large the
    corpus — and the oracle replays the identical training chain, so
    the fertility numbers are provably from the same vocabulary.
    Integer 1e6-scale ratios; no floats."""
    _, words = _bpe_train_frames(spark, sf_dir)
    docs = table(spark, sf_dir, "documents")
    docw = docs.select("lang", F.explode(F.split("text", " ")).alias("w"))
    enc = docw.join(
        F.broadcast(words.select("w", F.size(F.split("seg", " ")).alias("ntok"))),
        "w",
    )
    per_lang = enc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.length("w")).cast("long").alias("n_chars"),
        F.sum("ntok").cast("long").alias("n_bpe_tokens"),
    )
    return per_lang.select(
        "lang",
        "n_words",
        "n_bpe_tokens",
        F.expr("n_bpe_tokens * 1000000 div n_words").alias("fertility_e6"),
        F.expr("n_chars * 1000000 div n_bpe_tokens").alias("chars_per_token_e6"),
    )


@query(
    "doc_split_leakage_report",
    category="documents",
    oracle="""
    WITH w AS (
      SELECT doc_id,
             CASE WHEN ((doc_id * 2654435761) % 4294967296) % 100 < 90
                  THEN 'train'
                  WHEN ((doc_id * 2654435761) % 4294967296) % 100 < 95
                  THEN 'val' ELSE 'test' END AS split,
             string_split(text, ' ') AS ws
      FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ),
    sh AS (
      SELECT DISTINCT doc_id, split,
             UNNEST(list_transform(generate_series(1, len(ws) - 2),
                                   i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
      FROM w
    ),
    train_sh AS (SELECT DISTINCT s FROM sh WHERE split = 'train'),
    ev AS (SELECT doc_id, split, s FROM sh WHERE split <> 'train'),
    hits AS (
      SELECT e.doc_id, COUNT(*) AS n_hit
      FROM ev e JOIN train_sh t ON e.s = t.s
      GROUP BY e.doc_id
    ),
    sz AS (SELECT doc_id, split, COUNT(*) AS n FROM ev GROUP BY doc_id, split),
    verdict AS (
      SELECT sz.split,
             CASE WHEN COALESCE(h.n_hit, 0) * 20 >= sz.n THEN 1 ELSE 0 END AS leaky
      FROM sz LEFT JOIN hits h ON sz.doc_id = h.doc_id
    )
    SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(leaky) AS BIGINT) AS n_leaky,
           CAST(SUM(leaky) * 1000000 // COUNT(*) AS BIGINT) AS leak_ppm
    FROM verdict GROUP BY split ORDER BY split
    """,
)
def doc_split_leakage_report(spark, sf_dir):
    """Cross-split contamination audit — the check that must run after
    doc_train_split and before any eval is trusted: how many val/test
    documents share >= 5% of their 3-gram shingles with the TRAIN split
    (the doc_benchmark_decontamination threshold, calibrated to this
    corpus's planted near-dups). Split assignment is the same Knuth
    multiplicative hash as doc_train_split — a pure projection of
    doc_id, so the split column rides the shingle index for free (no
    join against an assignment table). The train shingle set is
    CORPUS-SIZED (90% of docs), so unlike the benchmark-decontamination
    case it cannot broadcast: the eval->train membership probe is a
    left-semi SHUFFLE join on the 8-byte hashed shingle key — the
    eval side is 10% of the index and only (shingle) keys travel; at
    100 TB you'd front it with a bloom filter built from the eval
    side's ~10x-smaller key set (the join_bloom_prefilter pattern) so
    train partitions drop non-candidate keys scan-side. Verdicts
    aggregate to a 2-row report (docs, leaky docs, ppm) with integer
    cross-multiplication for the threshold and flooring ppm division —
    EXACT on both engines."""
    from ..operators.dedup import shingle_index

    docs = table(spark, sf_dir, "documents")
    idx = shingle_index(docs, k=3, hashed=True)
    bucket = (F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296) % 100
    split = (
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    )
    idx = idx.withColumn("split", split)
    train_sh = idx.filter(F.col("split") == "train").select("shingle").distinct()
    ev = idx.filter(F.col("split") != "train").transform(tracked_persist)
    hits = (
        ev.join(train_sh, "shingle", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    sz = ev.groupBy("doc_id", "split").agg(F.count(F.lit(1)).alias("n"))
    leaky = F.when(
        F.coalesce(F.col("n_hit"), F.lit(0)) * 20 >= F.col("n"), 1
    ).otherwise(0)
    return (
        sz.join(hits, "doc_id", "left")
        .select("split", leaky.alias("leaky"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("leaky").alias("n_leaky"),
            F.expr("SUM(leaky) * 1000000 DIV COUNT(*)").alias("leak_ppm"),
        )
        .orderBy("split")
    )


@query(
    "doc_lexical_diversity",
    category="documents",
    oracle="""
    WITH w AS (
      SELECT doc_id, source, UNNEST(string_split(text, ' ')) AS word
      FROM documents
    ),
    cnt AS (
      SELECT doc_id, source, word, COUNT(*) AS k
      FROM w GROUP BY doc_id, source, word
    ),
    per_doc AS (
      SELECT doc_id, source,
             CAST(SUM(k) AS BIGINT) AS n_words,
             CAST(COUNT(*) AS BIGINT) AS n_types,
             CAST(SUM(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
      FROM cnt GROUP BY doc_id, source
    ),
    scored AS (
      SELECT source,
             n_types * 1000000 // n_words AS ttr_e6,
             n_hapax * 1000000 // n_words AS hapax_e6
      FROM per_doc WHERE n_words > 0
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ttr_e6) // COUNT(*) AS BIGINT) AS mean_ttr_e6,
           CAST(SUM(hapax_e6) // COUNT(*) AS BIGINT) AS mean_hapax_e6
    FROM scored GROUP BY source ORDER BY source
    """,
)
def doc_lexical_diversity(spark, sf_dir):
    """Lexical diversity per source: mean type-token ratio and mean
    hapax-legomenon share — the vocabulary-richness screen that
    separates template/boilerplate-heavy crawls (low TTR, few hapaxes)
    from natural prose, complementing doc_zipf_fit's corpus-level slope
    with per-document signals. One explode to (doc, word) term counts
    (the split is projected to a column before exploding — the
    split-before-explode discipline), one per-doc rollup, then a
    sources-sized mean. INTEGER-EXACT end to end: per-doc ratios floor
    to 1e6 scale (n_types·1e6 // n_words), the per-source mean is a
    flooring integer division of exact sums — no float ever, both
    engines agree bit-for-bit. At 100 TB the (doc, word) count is the
    only corpus-sized shuffle and it combines map-side; everything
    after is docs-sized then sources-sized."""
    docs = table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", "source", F.split(F.col("text"), " ").alias("ws")
    ).select("doc_id", "source", F.explode("ws").alias("word"))
    cnt = words.groupBy("doc_id", "source", "word").agg(F.count(F.lit(1)).alias("k"))
    per_doc = cnt.groupBy("doc_id", "source").agg(
        F.sum("k").alias("n_words"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.when(F.col("k") == 1, 1).otherwise(0)).alias("n_hapax"),
    )
    scored = per_doc.where(F.col("n_words") > 0).select(
        "source",
        F.expr("n_types * 1000000 DIV n_words").alias("ttr_e6"),
        F.expr("n_hapax * 1000000 DIV n_words").alias("hapax_e6"),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr("SUM(ttr_e6) DIV COUNT(*)").alias("mean_ttr_e6"),
            F.expr("SUM(hapax_e6) DIV COUNT(*)").alias("mean_hapax_e6"),
        )
        .orderBy("source")
    )


@query(
    "doc_ngram_entropy_rate",
    category="documents",
    oracle="""
    WITH w AS (
      SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents
    ),
    uni AS (
      SELECT source, UNNEST(ws) AS w1 FROM w
    ),
    ucnt AS (SELECT source, w1, COUNT(*) AS k FROM uni GROUP BY source, w1),
    h1 AS (
      SELECT source, CAST(SUM(k) AS BIGINT) AS t,
             CAST(SUM(CAST(floor(k * log2(CAST(k AS DOUBLE)) * 1000000)
                           AS BIGINT)) AS BIGINT) AS s
      FROM ucnt GROUP BY source
    ),
    bi AS (
      SELECT source,
             UNNEST(list_transform(generate_series(1, len(ws) - 1),
                                   i -> ws[i] || ' ' || ws[i+1])) AS b
      FROM w WHERE len(ws) >= 2
    ),
    bcnt AS (SELECT source, b, COUNT(*) AS k FROM bi GROUP BY source, b),
    h2 AS (
      SELECT source, CAST(SUM(k) AS BIGINT) AS t,
             CAST(SUM(CAST(floor(k * log2(CAST(k AS DOUBLE)) * 1000000)
                           AS BIGINT)) AS BIGINT) AS s
      FROM bcnt GROUP BY source
    ),
    e AS (
      SELECT h1.source,
             CAST(floor(log2(CAST(h1.t AS DOUBLE)) * 1000000) AS BIGINT)
               - h1.s // h1.t AS hu,
             CAST(floor(log2(CAST(h2.t AS DOUBLE)) * 1000000) AS BIGINT)
               - h2.s // h2.t AS hb
      FROM h1 JOIN h2 ON h2.source = h1.source
    )
    SELECT source, hu AS h_unigram_e6, hb AS h_bigram_e6,
           hb - hu AS h_cond_e6
    FROM e ORDER BY source
    """,
)
def doc_ngram_entropy_rate(spark, sf_dir):
    """Per-source n-gram entropy rate: unigram entropy H(W), bigram
    entropy H(W1,W2), and the conditional entropy rate H(W2|W1) =
    H(bigram) - H(unigram) - the information-theoretic redundancy
    screen (template-heavy or looped text shows a collapsed conditional
    rate long before dedup finds the cliques; natural prose sits near
    the language's ~6-8 bits/word). DETERMINISM: a float
    SUM(p*log2 p) over a vocabulary-sized term set is summation-ORDER
    dependent (the hazard ch_entropy escapes only because its per-user
    sums have <= 6 terms), so the estimator is quantized BEFORE the
    big sum: H = log2 T - (1/T)*SUM k*log2 k is computed as
    floor(log2(T)*1e6) - (SUM floor(k*log2(k)*1e6)) // T - each term
    is one deterministic IEEE scalar, the corpus-sized SUM is exact
    BIGINT (order-free), and the division floors. Quantization bias is
    < vocab/T micro-bits - a defined, engine-identical estimator.
    Counts come from two map-side-combinable shuffles (per-source
    unigram and bigram tallies; split projected before explode);
    output is sources-sized integers."""
    docs = table(spark, sf_dir, "documents")
    w = docs.select("source", F.split(F.col("text"), " ").alias("ws"))
    uni = w.select("source", F.explode("ws").alias("w1"))
    term = F.floor(
        F.col("k") * F.log2(F.col("k").cast("double")) * 1000000
    ).cast("bigint")
    ucnt = uni.groupBy("source", "w1").agg(F.count(F.lit(1)).alias("k"))
    h1 = ucnt.groupBy("source").agg(
        F.sum("k").alias("t"), F.sum(term).alias("s")
    )
    bi = (
        w.where(F.size("ws") >= 2)
        .select(
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ws) - 1),"
                    " i -> concat(ws[i-1], ' ', ws[i]))"
                )
            ).alias("b"),
        )
    )
    bcnt = bi.groupBy("source", "b").agg(F.count(F.lit(1)).alias("k"))
    h2 = bcnt.groupBy("source").agg(
        F.sum("k").alias("t"), F.sum(term).alias("s")
    )
    ent = lambda t, s: (
        F.floor(F.log2(F.col(t).cast("double")) * 1000000).cast("bigint")
        - F.expr(f"{s} DIV {t}")
    )
    e = h1.join(
        h2.withColumnRenamed("t", "t2").withColumnRenamed("s", "s2"), "source"
    ).select(
        "source",
        ent("t", "s").alias("h_unigram_e6"),
        ent("t2", "s2").alias("h_bigram_e6"),
    )
    return e.select(
        "source", "h_unigram_e6", "h_bigram_e6",
        (F.col("h_bigram_e6") - F.col("h_unigram_e6")).alias("h_cond_e6"),
    ).orderBy("source")


def _langid_kappa_oracle() -> str:
    """Compose the two existing langid oracles as subqueries and compute
    Cohen's kappa from exact integer counts: kappa = (agree·n − Σ_l
    na_l·nb_l) / (n² − Σ_l na_l·nb_l)."""
    from .registry import REGISTRY

    heur = REGISTRY["doc_langid"].oracle
    nb = REGISTRY["doc_naive_bayes_langid"].oracle
    return f"""
    WITH h AS (SELECT doc_id, predicted_lang AS pa FROM ({heur})),
    nbp AS (SELECT doc_id, predicted AS pb FROM ({nb})),
    j AS (SELECT h.doc_id, h.pa, nbp.pb FROM h JOIN nbp ON nbp.doc_id = h.doc_id),
    marg AS (
      SELECT CAST(SUM(na * nb) AS HUGEINT) AS smp FROM (
        SELECT COALESCE(a.l, b.l) AS l, COALESCE(na, 0) AS na, COALESCE(nb, 0) AS nb
        FROM (SELECT pa AS l, COUNT(*) AS na FROM j GROUP BY pa) a
        FULL JOIN (SELECT pb AS l, COUNT(*) AS nb FROM j GROUP BY pb) b
          ON b.l = a.l)
    ),
    m AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(CASE WHEN pa = pb THEN 1 ELSE 0 END) AS HUGEINT) AS agree
      FROM j
    )
    SELECT CAST(n AS BIGINT) AS n_docs, CAST(agree AS BIGINT) AS n_agree,
           CAST(smp AS BIGINT) AS sum_marginal_prod,
           CASE WHEN n * n - smp = 0 THEN NULL
                WHEN agree * n - smp < 0
                THEN -CAST((2 * (smp - agree * n) * 10000 + (n * n - smp))
                           // (2 * (n * n - smp)) AS BIGINT) / 10000.0 + 0.0
                ELSE CAST((2 * (agree * n - smp) * 10000 + (n * n - smp))
                          // (2 * (n * n - smp)) AS BIGINT) / 10000.0 + 0.0 END
             AS kappa
    FROM m, marg
    """


@query(
    "doc_langid_agreement_kappa",
    category="documents",
    oracle=_langid_kappa_oracle(),
)
def doc_langid_agreement_kappa(spark, sf_dir):
    """Cohen's kappa between the repo's two language-ID classifiers
    (the stopword heuristic doc_langid vs the trained naive-Bayes
    doc_naive_bayes_langid) — the inter-annotator-agreement number a
    curation pipeline reads before trusting EITHER labeler on
    unlabeled data (high kappa ⇒ the cheap heuristic can gate the
    expensive model; low kappa ⇒ neither is trustworthy alone). The
    two verdict frames come from the SAME registry implementations
    (the funnel-report composition pattern), joined on doc_id;
    kappa = (p_o − p_e)/(1 − p_e) reduces over exact integer counts to
    (agree·n − Σ_l na_l·nb_l)/(n² − Σ_l na_l·nb_l) — computed with the
    assortativity idiom: DECIMAL(38,0) operands (HUGEINT twin), 4-dp
    half-away integer division, sign split out so Spark DIV ≡
    DuckDB //. Marginal products come from two 4-row frames; the join
    is doc-keyed and both sides derive from single scans."""
    from .registry import REGISTRY

    h = (
        REGISTRY["doc_langid"]
        .fn(spark, sf_dir)
        .select("doc_id", F.col("predicted_lang").alias("pa"))
    )
    nb = (
        REGISTRY["doc_naive_bayes_langid"]
        .fn(spark, sf_dir)
        .select("doc_id", F.col("predicted").alias("pb"))
    )
    j = h.join(nb, "doc_id").transform(tracked_persist)
    na = j.groupBy(F.col("pa").alias("l")).agg(F.count(F.lit(1)).alias("na"))
    nbm = j.groupBy(F.col("pb").alias("l")).agg(F.count(F.lit(1)).alias("nb"))
    marg = (
        na.join(nbm, "l", "full")
        .select(
            (
                F.coalesce(F.col("na"), F.lit(0))
                * F.coalesce(F.col("nb"), F.lit(0))
            ).alias("p")
        )
        .agg(F.sum("p").cast("decimal(38,0)").alias("smp"))
    )
    m = j.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(F.when(F.col("pa") == F.col("pb"), 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("agree"),
    )
    return m.crossJoin(F.broadcast(marg)).select(
        F.col("n").cast("bigint").alias("n_docs"),
        F.col("agree").cast("bigint").alias("n_agree"),
        F.col("smp").cast("bigint").alias("sum_marginal_prod"),
        F.expr(
            "CASE WHEN n * n - smp = 0 THEN NULL"
            " WHEN agree * n - smp < 0"
            " THEN -CAST((2 * (smp - agree * n) * 10000 + (n * n - smp))"
            "       DIV (2 * (n * n - smp)) AS BIGINT) / 10000.0D + 0.0D"
            " ELSE CAST((2 * (agree * n - smp) * 10000 + (n * n - smp))"
            "      DIV (2 * (n * n - smp)) AS BIGINT) / 10000.0D + 0.0D END"
        ).alias("kappa"),
    )


@query(
    "doc_feature_hash_collisions",
    category="documents",
    oracle="""
    WITH vocab AS (
      SELECT DISTINCT UNNEST(string_split(text, ' ')) AS w FROM documents
    ),
    h AS (
      SELECT w, ('0x' || substr(md5(w), 1, 15))::BIGINT AS hv FROM vocab
    ),
    per_b AS (
      SELECT b.bits,
             COUNT(*) AS n_tokens,
             COUNT(DISTINCT hv % (1 << b.bits)) AS n_buckets_used
      FROM h CROSS JOIN (SELECT UNNEST([8, 10, 12]) AS bits) b
      GROUP BY b.bits
    )
    SELECT bits, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_buckets_used AS BIGINT) AS n_buckets_used,
           CAST((n_tokens - n_buckets_used) * 1000000 // n_tokens AS BIGINT)
             AS collision_ppm
    FROM per_b ORDER BY bits
    """,
)
def doc_feature_hash_collisions(spark, sf_dir):
    """Hashing-trick collision audit: before committing to a 2^b-bucket
    hashed feature space (the doc_naive_bayes_langid / fasttext-style
    featurization), measure how much of the vocabulary actually
    collides at b ∈ {8, 10, 12} bits — n_tokens − buckets_used is the
    birthday-paradox loss the model silently eats. The hash is the
    repo's PORTABLE md5-prefix integer (identical on both engines —
    the NB-langid idiom), bucketed by power-of-two modulus; the vocab
    is one distinct pass, the three widths fan out over a broadcast
    3-row grid, and the per-width bucket count is a COUNT DISTINCT
    Spark plans as two-phase Expand (map-side dedup before the
    exchange). Output: 3 rows of exact integers with flooring ppm. At
    100 TB the vocab distinct is the only corpus-scale shuffle —
    dictionary-sized output."""
    docs = table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("w")).distinct()
    )
    h = vocab.select(
        F.conv(F.substring(F.md5("w"), 1, 15), 16, 10).cast("bigint").alias("hv")
    )
    bits = spark.range(0).sparkSession.createDataFrame(
        [(8,), (10,), (12,)], "bits int"
    )
    per_b = (
        h.crossJoin(F.broadcast(bits))
        .groupBy("bits")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count_distinct(
                F.expr("hv % shiftleft(1L, CAST(bits AS INT))")
            ).alias("n_buckets_used"),
        )
    )
    return per_b.select(
        "bits", "n_tokens", "n_buckets_used",
        F.expr(
            "(n_tokens - n_buckets_used) * 1000000 DIV n_tokens"
        ).alias("collision_ppm"),
    ).orderBy("bits")


def _calibration_oracle() -> str:
    from .registry import REGISTRY

    clf = REGISTRY["doc_quality_classifier"].oracle
    gop = REGISTRY["doc_gopher_rules"].oracle
    return f"""
    WITH clf AS (SELECT doc_id, quality_prob FROM ({clf})),
    gop AS (SELECT doc_id, keep FROM ({gop})),
    j AS (
      SELECT LEAST(CAST(floor(clf.quality_prob * 10) AS BIGINT), 9) AS bin,
             CASE WHEN gop.keep THEN 1 ELSE 0 END AS y,
             CAST(ROUND(clf.quality_prob * 10000) AS BIGINT) AS p_e4
      FROM clf JOIN gop ON gop.doc_id = clf.doc_id
    ),
    b AS (
      SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(y) AS BIGINT) AS sum_keep,
             CAST(SUM(p_e4) AS BIGINT) AS sum_prob_e4
      FROM j GROUP BY bin
    )
    SELECT bin, n_docs, sum_keep, sum_prob_e4,
           CAST(ABS(sum_keep * 10000 - sum_prob_e4) * 1000000
                // (n_docs * 10000) AS BIGINT) AS gap_e6
    FROM b ORDER BY bin
    """


@query(
    "doc_quality_calibration_ece",
    category="documents",
    oracle=_calibration_oracle(),
)
def doc_quality_calibration_ece(spark, sf_dir):
    """Calibration audit of the learned quality classifier against the
    Gopher rule verdict, binned for the expected-calibration-error
    reading (Guo et al. 2017): 10 equal-width confidence bins, each
    reporting document count, rule-keep count, summed confidence, and
    the per-bin |accuracy − confidence| gap — the reliability-diagram
    table; ECE is the n-weighted gap sum, recoverable exactly from the
    emitted integers. A curation pipeline reads this before swapping
    the cheap rule gate for the model: a high-confidence bin whose
    rule-agreement is low is where the model would silently change the
    corpus. INTEGER-EXACT: quality_prob is 4-dp-exact cross-engine
    (its own EXACT gate proves it), so p_e4 = round(p·1e4) and the bin
    id are identical BIGINTs; the gap reduces to
    |Σy·1e4 − Σp_e4|·1e6 // (n_b·1e4) — no float ever crosses an
    aggregation. Composes the two registry implementations (the
    funnel-report pattern); one doc-keyed join, one bins-sized
    rollup."""
    from .registry import REGISTRY

    clf = REGISTRY["doc_quality_classifier"].fn(spark, sf_dir).select(
        "doc_id", "quality_prob"
    )
    gop = REGISTRY["doc_gopher_rules"].fn(spark, sf_dir).select("doc_id", "keep")
    j = clf.join(gop, "doc_id").select(
        F.least(F.floor(F.col("quality_prob") * 10).cast("bigint"), F.lit(9)).alias("bin"),
        F.when(F.col("keep"), 1).otherwise(0).alias("y"),
        F.round(F.col("quality_prob") * 10000).cast("bigint").alias("p_e4"),
    )
    b = j.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("y").alias("sum_keep"),
        F.sum("p_e4").alias("sum_prob_e4"),
    )
    return b.select(
        "bin", "n_docs", "sum_keep", "sum_prob_e4",
        F.expr(
            "ABS(sum_keep * 10000 - sum_prob_e4) * 1000000"
            " DIV (n_docs * 10000)"
        ).alias("gap_e6"),
    ).orderBy("bin")


def _auc_oracle() -> str:
    from .registry import REGISTRY

    clf = REGISTRY["doc_quality_classifier"].oracle
    gop = REGISTRY["doc_gopher_rules"].oracle
    return f"""
    WITH clf AS (SELECT doc_id, quality_prob FROM ({clf})),
    gop AS (SELECT doc_id, keep FROM ({gop})),
    j AS (
      SELECT CAST(ROUND(clf.quality_prob * 10000) AS BIGINT) AS p_e4,
             CASE WHEN gop.keep THEN 1 ELSE 0 END AS y
      FROM clf JOIN gop ON gop.doc_id = clf.doc_id
    ),
    r AS (
      SELECT y,
             2 * RANK() OVER (ORDER BY p_e4)
               + COUNT(*) OVER (PARTITION BY p_e4) - 1 AS dr
      FROM j
    ),
    m AS (
      SELECT CAST(SUM(CASE WHEN y = 1 THEN dr ELSE 0 END) AS HUGEINT) AS s2r,
             CAST(SUM(y) AS HUGEINT) AS np,
             CAST(SUM(1 - y) AS HUGEINT) AS nn
      FROM r
    )
    SELECT CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
           CAST(s2r AS BIGINT) AS sum_doubled_midranks_pos,
           CASE WHEN np * nn = 0 THEN NULL
                ELSE CAST((2 * (s2r - np * (np + 1)) * 1000000
                           + 2 * np * nn)
                          // (2 * 2 * np * nn) AS BIGINT) / 1000000.0 + 0.0
           END AS auc
    FROM m
    """


@query("agg_auc_roc", category="documents", oracle=_auc_oracle())
def agg_auc_roc(spark, sf_dir):
    """ROC AUC of the learned quality classifier scored against the
    Gopher rule verdict — the threshold-free ranking-quality number
    that belongs next to doc_quality_calibration_ece (ECE says whether
    the probabilities are honest; AUC says whether the ORDERING is
    right): AUC = (ΣR₊ − n₊(n₊+1)/2)/(n₊n₋) via the Mann-Whitney
    identity, with TIE-CORRECTED midranks carried DOUBLED so every
    intermediate stays an exact BIGINT (the agg_mann_whitney_u
    discipline — 4-dp probabilities tie heavily and naive average
    ranks would be floats): doubled midrank = 2·RANK() + tiecount − 1.
    The final ratio is one half-away integer division at 1e-6
    (HUGEINT/DECIMAL(38,0) operands). One doc-keyed join, one global
    rank sort (at 100 TB: the rank is computable from a p_e4 histogram
    — dictionary-sized — instead of a row sort; the histogram path is
    the scale variant), one scalar aggregate."""
    from pyspark.sql import Window as W

    from .registry import REGISTRY

    clf = REGISTRY["doc_quality_classifier"].fn(spark, sf_dir).select(
        "doc_id", "quality_prob"
    )
    gop = REGISTRY["doc_gopher_rules"].fn(spark, sf_dir).select("doc_id", "keep")
    j = clf.join(gop, "doc_id").select(
        F.round(F.col("quality_prob") * 10000).cast("bigint").alias("p_e4"),
        F.when(F.col("keep"), 1).otherwise(0).alias("y"),
    )
    r = j.select(
        "y",
        (
            2 * F.rank().over(W.orderBy("p_e4"))
            + F.count(F.lit(1)).over(W.partitionBy("p_e4"))
            - 1
        ).alias("dr"),
    )
    m = r.agg(
        F.sum(F.when(F.col("y") == 1, F.col("dr")).otherwise(0))
        .cast("decimal(38,0)")
        .alias("s2r"),
        F.sum("y").cast("decimal(38,0)").alias("np"),
        F.sum(1 - F.col("y")).cast("decimal(38,0)").alias("nn"),
    )
    return m.select(
        F.col("np").cast("bigint").alias("n_pos"),
        F.col("nn").cast("bigint").alias("n_neg"),
        F.col("s2r").cast("bigint").alias("sum_doubled_midranks_pos"),
        F.expr(
            "CASE WHEN np * nn = 0 THEN NULL"
            " ELSE CAST((2 * (s2r - np * (np + 1)) * 1000000"
            "            + 2 * np * nn)"
            "           DIV (2 * 2 * np * nn) AS BIGINT) / 1000000.0D + 0.0D END"
        ).alias("auc"),
    )


@query(
    "doc_span_corruption_plan",
    category="documents",
    oracle="""
    WITH d AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ),
    blocks AS (
      SELECT doc_id, n_tokens, (n_tokens + 2) // 3 AS n_blocks
      FROM d WHERE n_tokens > 0
    ),
    hits AS (
      SELECT doc_id, n_tokens, n_blocks,
             UNNEST(generate_series(0, n_blocks - 1)) AS b
      FROM blocks
    ),
    sel AS (
      SELECT doc_id, n_tokens, n_blocks, b,
             CASE WHEN b = n_blocks - 1 THEN n_tokens - 3 * (n_blocks - 1)
                  ELSE 3 END AS blk_tokens
      FROM hits
      WHERE ('0x' || substr(md5(doc_id || '_' || b), 1, 15))::BIGINT % 5 = 0
    )
    SELECT d.doc_id, CAST(d.n_tokens AS BIGINT) AS n_tokens,
           CAST(COALESCE(COUNT(sel.b), 0) AS BIGINT) AS n_spans_masked,
           CAST(COALESCE(SUM(sel.blk_tokens), 0) AS BIGINT) AS n_tokens_masked,
           CAST(COALESCE(SUM(sel.blk_tokens), 0) * 1000000 // d.n_tokens
                AS BIGINT) AS mask_ppm
    FROM d LEFT JOIN sel ON sel.doc_id = d.doc_id
    WHERE d.n_tokens > 0
    GROUP BY d.doc_id, d.n_tokens
    ORDER BY d.doc_id
    """,
)
def doc_span_corruption_plan(spark, sf_dir):
    """T5-style span-corruption PLAN (Raffel et al. 2020 §3.1.4): which
    3-token spans of each document get masked for denoising
    pretraining, at a ~20 % corruption rate — computed as a
    DETERMINISTIC plan (hash-selected blocks) so every epoch, engine,
    and retry masks the identical spans (the doc_train_split
    reproducibility contract; RNG-based masking cannot replay). Spans
    are non-overlapping by construction (token blocks of 3; the last
    block carries the remainder), selected where the portable
    md5-prefix hash of (doc_id, block) ≡ 0 mod 5. Emits the per-doc
    audit (span count, masked-token count, flooring ppm) a data loader
    validates against its actual batch stream. One scan computes token
    counts; block fan-out is an explode of n/3-sized index ranges —
    scan-parallel, no shuffle until the docs-sized rollup."""
    docs = table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    ).where(F.col("n_tokens") > 0)
    b = d.select(
        "doc_id", "n_tokens",
        F.expr("(n_tokens + 2) DIV 3").alias("n_blocks"),
    ).select(
        "doc_id", "n_tokens", "n_blocks",
        F.explode(F.expr("sequence(0L, n_blocks - 1)")).alias("b"),
    )
    sel = b.where(
        F.conv(
            F.substring(F.md5(F.concat_ws("_", "doc_id", "b")), 1, 15), 16, 10
        ).cast("bigint")
        % 5
        == 0
    ).select(
        "doc_id", "n_tokens",
        F.expr(
            "CASE WHEN b = n_blocks - 1 THEN n_tokens - 3 * (n_blocks - 1)"
            " ELSE 3L END"
        ).alias("blk_tokens"),
    )
    agg = sel.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans_masked"),
        F.sum("blk_tokens").alias("n_tokens_masked"),
    )
    return (
        d.join(agg, "doc_id", "left")
        .select(
            "doc_id", "n_tokens",
            F.coalesce("n_spans_masked", F.lit(0)).alias("n_spans_masked"),
            F.coalesce("n_tokens_masked", F.lit(0)).alias("n_tokens_masked"),
            F.expr(
                "COALESCE(n_tokens_masked, 0) * 1000000 DIV n_tokens"
            ).alias("mask_ppm"),
        )
        .orderBy("doc_id")
    )


@query(
    "doc_vocab_kl_matrix",
    category="documents",
    oracle="""
    WITH w AS (
      SELECT source, UNNEST(string_split(text, ' ')) AS tok FROM documents
    ),
    cnt AS (SELECT source, tok, COUNT(*) AS k FROM w GROUP BY source, tok),
    tot AS (SELECT source, SUM(k) AS t FROM cnt GROUP BY source),
    vv AS (SELECT COUNT(DISTINCT tok) AS v FROM w),
    terms AS (
      SELECT a.source AS src_a, tb.source AS src_b,
             CAST(floor(
               (CAST(a.k AS DOUBLE) / ta.t)
               * ln((CAST(a.k AS DOUBLE) / ta.t)
                    / ((COALESCE(b.k, 0) + 1.0) / (tb.t + vv.v)))
               * 1000000000000) AS BIGINT) AS t_e12
      FROM cnt a
      JOIN tot ta ON ta.source = a.source
      CROSS JOIN tot tb
      CROSS JOIN vv
      LEFT JOIN cnt b ON b.source = tb.source AND b.tok = a.tok
      WHERE tb.source <> a.source
    )
    SELECT src_a, src_b,
           CAST(GREATEST(CAST(SUM(t_e12) AS BIGINT), 0) // 1000000 AS BIGINT)
             AS kl_e6
    FROM terms GROUP BY src_a, src_b
    ORDER BY kl_e6 DESC, src_a, src_b LIMIT 30
    """,
)
def doc_vocab_kl_matrix(spark, sf_dir):
    """Pairwise vocabulary KL divergence between sources — the
    DISTRIBUTIONAL contamination/shift screen next to
    doc_vocab_overlap_matrix's set-Jaccard (two crawls can share 90 %
    of their vocabulary yet weight it completely differently; KL sees
    that, Jaccard cannot): KL(a‖b) = Σ_w p_a(w)·ln(p_a(w)/q_b(w)) with
    add-1-smoothed q over the corpus vocabulary (proper support, so
    the sum is provably ≥ 0), top-30 most-divergent directed pairs.
    ORDER-FREE: each term is one fixed IEEE scalar floored at 1e-12
    into BIGINT before the vocabulary-sized sum (mathematical floor —
    identical for negative terms on both engines, unlike truncating
    division), the sum is exact, and the tiny quantization residue is
    clamped at 0 before the final flooring rescale so no negative ever
    meets DIV. Plan: one (source, token) tally; the pair fan-out joins
    the a-side tally against the 20-row totals grid and LEFT-probes
    the b-side count — Σ|vocab_a|·(S−1) rows, all map-side combinable
    into a 380-row matrix. At 100 TB the tally is the only corpus
    shuffle; the matrix is dictionary-scale."""
    docs = table(spark, sf_dir, "documents")
    w = docs.select("source", F.explode(F.split("text", " ")).alias("tok"))
    cnt = w.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("k")).transform(tracked_persist)
    tot = cnt.groupBy("source").agg(F.sum("k").alias("t"))
    vv = w.agg(F.count_distinct("tok").alias("v"))
    a = cnt.select(
        F.col("source").alias("src_a"), "tok", F.col("k").alias("ka")
    ).join(
        F.broadcast(tot.withColumnRenamed("source", "src_a").withColumnRenamed("t", "ta")),
        "src_a",
    )
    pairs = a.crossJoin(
        F.broadcast(tot.withColumnRenamed("source", "src_b").withColumnRenamed("t", "tb"))
    ).where(F.col("src_b") != F.col("src_a")).crossJoin(F.broadcast(vv))
    b = cnt.select(
        F.col("source").alias("src_b"), "tok", F.col("k").alias("kb")
    )
    j = pairs.join(b, ["src_b", "tok"], "left")
    pa = F.col("ka").cast("double") / F.col("ta")
    qb = (F.coalesce(F.col("kb"), F.lit(0)) + 1.0) / (F.col("tb") + F.col("v"))
    t_e12 = F.floor(pa * F.log(pa / qb) * 1e12).cast("bigint")
    return (
        j.select("src_a", "src_b", t_e12.alias("t_e12"))
        .groupBy("src_a", "src_b")
        .agg(
            F.expr(
                "CAST(GREATEST(CAST(SUM(t_e12) AS BIGINT), 0L) DIV 1000000"
                " AS BIGINT)"
            ).alias("kl_e6")
        )
        .orderBy(F.col("kl_e6").desc(), "src_a", "src_b")
        .limit(30)
    )


def _simhash_balance_oracle(bits: int = 60) -> str:
    sets = "\n      UNION ALL ".join(
        f"SELECT {b} AS bit, CASE WHEN v{b} > 0 THEN 1 ELSE 0 END AS s FROM votes"
        for b in range(bits)
    )
    return f"""{_simhash_votes_sql(bits)},
    bitset AS ({sets}),
    agg AS (
      SELECT bit, CAST(SUM(s) AS BIGINT) AS n_set, CAST(COUNT(*) AS BIGINT) AS n
      FROM bitset GROUP BY bit
    )
    SELECT bit, n_set,
           CAST(ABS(2 * n_set - n) * 1000000 // n AS BIGINT) AS imbalance_ppm
    FROM agg ORDER BY imbalance_ppm DESC, bit LIMIT 10
    """


@query(
    "doc_simhash_bit_balance",
    category="documents",
    oracle=_simhash_balance_oracle(),
)
def doc_simhash_bit_balance(spark, sf_dir):
    """Hash-family health audit for the SimHash dedup tier: per
    fingerprint bit, how far the set-rate drifts from the ideal 50 %
    (imbalance = |2·n_set − n|/n) — a skewed bit carries less than one
    bit of discriminating power, quietly inflating the collision rate
    of the banded candidate generator, and this audit catches a bad
    token-hash or a degenerate corpus BEFORE the dedup quality report
    does. Top-10 most-imbalanced bits of the 60-bit engine-portable
    md5 fingerprint (the exact simhash the doc_neardup_simhash_exact
    oracle verifies, so the audit prices the production fingerprints,
    not a lookalike). One explode + one grouped 60-way conditional
    sum (map-side combinable) + a 60-row unpivot — the per-bit stack
    rides Spark's Expand; integers end to end with flooring ppm. At
    100 TB the vote aggregation is the only corpus-sized stage."""
    fps = simhash_fingerprints(
        table(spark, sf_dir, "documents"), bits=60, token_hash=portable_hash
    )
    bitset = fps.select(
        F.explode(
            F.expr(
                "transform(sequence(0, 59),"
                " b -> named_struct('bit', b,"
                "  's', CAST(shiftright(simhash, b) & 1 AS INT)))"
            )
        ).alias("e")
    ).select(F.col("e.bit").alias("bit"), F.col("e.s").alias("s"))
    agg = bitset.groupBy("bit").agg(
        F.sum("s").alias("n_set"), F.count(F.lit(1)).alias("n")
    )
    return (
        agg.select(
            "bit", "n_set",
            F.expr("ABS(2 * n_set - n) * 1000000 DIV n").alias("imbalance_ppm"),
        )
        .orderBy(F.col("imbalance_ppm").desc(), "bit")
        .limit(10)
    )


@query(
    "doc_vocab_coverage_topk",
    category="documents",
    oracle="""
    WITH cnt AS (
      SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents
    ),
    c AS (SELECT tok, COUNT(*) AS k FROM cnt GROUP BY tok),
    r AS (
      SELECT k, ROW_NUMBER() OVER (ORDER BY k DESC, tok) AS rk,
             SUM(k) OVER (ORDER BY k DESC, tok
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             SUM(k) OVER () AS tot,
             COUNT(*) OVER () AS v
      FROM c
    )
    SELECT g.ksize,
           CAST(MAX(CASE WHEN r.rk = LEAST(g.ksize, r.v)
                         THEN r.cum * 1000000 // r.tot END) AS BIGINT)
             AS coverage_ppm
    FROM r CROSS JOIN (SELECT UNNEST([100, 1000, 4000]) AS ksize) g
    GROUP BY g.ksize ORDER BY g.ksize
    """,
)
def doc_vocab_coverage_topk(spark, sf_dir):
    """Vocabulary-truncation coverage curve: what share of all token
    OCCURRENCES the top-k vocabulary types cover, at k ∈ {100, 1000,
    4000} — the number a tokenizer designer reads before fixing a
    vocab size (the integral view of doc_zipf_fit's slope; Zipf says
    the curve's shape, this prices specific cutoffs). The token tally
    is one map-side-combinable shuffle; coverage is a running sum over
    the TOTAL (count DESC, token) order — unique, so both engines cut
    the identical prefix — probed at each k via the rank = min(k, V)
    row (min() so a vocabulary smaller than k still reports, at full
    coverage). Flooring ppm on exact integers. At 100 TB the sort is
    dictionary-sized, not corpus-sized; the tally is the only big
    stage."""
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents")
    c = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    ow = W.orderBy(F.col("k").desc(), "tok")
    r = c.select(
        F.row_number().over(ow).alias("rk"),
        F.sum("k").over(ow.rowsBetween(W.unboundedPreceding, W.currentRow)).alias("cum"),
        F.sum("k").over(W.partitionBy()).alias("tot"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("v"),
    )
    g = spark.createDataFrame([(100,), (1000,), (4000,)], "ksize int")
    return (
        r.crossJoin(F.broadcast(g))
        .groupBy("ksize")
        .agg(
            F.max(
                F.when(
                    F.col("rk") == F.least(F.col("ksize").cast("bigint"), F.col("v")),
                    F.expr("cum * 1000000 DIV tot"),
                )
            ).alias("coverage_ppm")
        )
        .orderBy("ksize")
    )


@query(
    "doc_prefix_boilerplate_clusters",
    category="documents",
    oracle="""
    WITH p AS (
      SELECT doc_id, source, substr(text, 1, 60) AS prefix
      FROM documents WHERE length(text) >= 60
    ),
    c AS (
      SELECT prefix, COUNT(*) AS n_docs,
             COUNT(DISTINCT source) AS n_sources,
             MIN(doc_id) AS exemplar_doc
      FROM p GROUP BY prefix
    )
    SELECT substr(prefix, 1, 30) AS prefix_head,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_sources AS BIGINT) AS n_sources,
           CAST(exemplar_doc AS BIGINT) AS exemplar_doc
    FROM c WHERE n_docs >= 3
    ORDER BY n_docs DESC, prefix_head LIMIT 20
    """,
)
def doc_prefix_boilerplate_clusters(spark, sf_dir):
    """Boilerplate-prefix detection: documents sharing their first 60
    characters verbatim (navigation chrome, license headers, template
    intros — the content C4/RefinedWeb strip BEFORE dedup, because a
    shared header makes unrelated docs look near-duplicate and
    poisons MinHash bands). Clusters of ≥ 3 docs reported with their
    cross-source spread (a prefix spanning many sources is crawl
    chrome; single-source is a template) and a deterministic min-id
    exemplar. One scan + one map-side-combinable groupBy on the
    fixed-width prefix key — corpus-sized shuffle of 60-byte keys,
    prefix-clusters-sized output; the total (n_docs DESC, prefix)
    order makes LIMIT 20 deterministic. At 100 TB this is the cheap
    screen in front of doc_line_dedup's exact span machinery."""
    docs = table(spark, sf_dir, "documents")
    p = docs.where(F.length("text") >= 60).select(
        "doc_id", "source", F.substring("text", 1, 60).alias("prefix")
    )
    c = p.groupBy("prefix").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("source").alias("n_sources"),
        F.min("doc_id").alias("exemplar_doc"),
    )
    return (
        c.where(F.col("n_docs") >= 3)
        .select(
            F.substring("prefix", 1, 30).alias("prefix_head"),
            "n_docs", "n_sources", "exemplar_doc",
        )
        .orderBy(F.col("n_docs").desc(), "prefix_head")
        .limit(20)
    )


@query(
    "doc_dup_cluster_size_histogram",
    category="documents",
    oracle="""
    WITH h AS (
      SELECT md5(text) AS d, COUNT(*) AS sz FROM documents GROUP BY md5(text)
    ),
    b AS (
      SELECT CAST(floor(log2(sz)) AS BIGINT) AS bucket_log2, sz FROM h
    )
    SELECT bucket_log2, CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(sz) AS BIGINT) AS n_docs,
           CAST(SUM(sz - 1) AS BIGINT) AS n_removable
    FROM b GROUP BY bucket_log2 ORDER BY bucket_log2
    """,
)
def doc_dup_cluster_size_histogram(spark, sf_dir):
    """Exact-duplicate cluster-SIZE histogram (log2 buckets): how
    duplication mass distributes — many pairs, or a few megaclusters?
    The shape decides the dedup strategy (pair-heavy corpora suit
    hash-groupBy; megaclusters demand the min-id keeper stream and
    make MinHash banding explode — RefinedWeb reports exactly this
    diagnostic before choosing). Per bucket: cluster count, document
    mass, and the removable-doc count (Σ(size−1) — the dedup savings
    the bucket is worth). One md5-groupBy (the doc_exact_dedup digest)
    then a clusters-sized log2 rollup; floor(log2) on exact integer
    sizes is engine-identical. At 100 TB the digest groupBy is the one
    corpus shuffle — the same pass exact dedup already pays."""
    docs = table(spark, sf_dir, "documents")
    h = docs.groupBy(F.md5("text").alias("d")).agg(F.count(F.lit(1)).alias("sz"))
    b = h.select(
        F.floor(F.log2(F.col("sz").cast("double"))).cast("bigint").alias("bucket_log2"),
        "sz",
    )
    return (
        b.groupBy("bucket_log2")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("sz").alias("n_docs"),
            F.sum(F.col("sz") - 1).alias("n_removable"),
        )
        .orderBy("bucket_log2")
    )


@query(
    "doc_eyeball_panel",
    category="documents",
    oracle="""
    WITH d AS (
      SELECT doc_id, source, n_chars,
             NTILE(10) OVER (ORDER BY n_chars, doc_id) AS decile
      FROM documents
    )
    SELECT source, decile, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS exemplar_doc
    FROM d GROUP BY source, decile
    ORDER BY source, decile
    """,
)
def doc_eyeball_panel(spark, sf_dir):
    """Stratified INSPECTION panel — the 'eyeball set' every curation
    change ships with (What's In My Big Data?, Elazar et al. 2024,
    institutionalized the practice): one deterministic exemplar per
    (source × length-decile) cell plus the cell count, so a reviewer
    reads ~200 docs that SPAN the corpus instead of 200 random ones
    that all come from the head. The decile is doc_quality_decile's
    exact NTILE over the total (n_chars, doc_id) order (same
    stratification, so panels are comparable across rounds); the
    exemplar is min-id — stable under re-runs, re-partitioning, and
    engine swap (a random sample would churn every review). One
    global-order window + one cells-sized rollup; at 100 TB the NTILE
    runs on the (n_chars, doc_id) pairs, never the text."""
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", "source",
        F.ntile(10).over(W.orderBy("n_chars", "doc_id")).alias("decile"),
    )
    return (
        d.groupBy("source", "decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("exemplar_doc"),
        )
        .orderBy("source", "decile")
    )


@query(
    "doc_bitext_mining_candidates",
    category="documents",
    oracle="""
    WITH w AS (
      SELECT doc_id, lang, n_chars, string_split(text, ' ') AS ws
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, lang, n_chars,
             UNNEST(list_transform(generate_series(1, len(ws) - 2),
                    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS g
      FROM w WHERE len(ws) >= 3
    ),
    cap AS (
      SELECT LEAST(GREATEST(3, COUNT(*) // 150), 32) AS c FROM documents
    ),
    dfs AS (
      SELECT g FROM (SELECT g, COUNT(DISTINCT doc_id) AS d
                     FROM sh GROUP BY g) x CROSS JOIN cap WHERE d <= cap.c
    ),
    rare AS (SELECT sh.* FROM sh JOIN dfs ON dfs.g = sh.g),
    pairs AS (
      SELECT a.doc_id AS doc_en, b.doc_id AS doc_xx, b.lang AS lang_xx,
             COUNT(*) AS n_shared,
             MAX(a.n_chars) AS len_en, MAX(b.n_chars) AS len_xx
      FROM rare a JOIN rare b
        ON a.g = b.g AND a.lang = 'en' AND b.lang <> 'en'
      GROUP BY a.doc_id, b.doc_id, b.lang
    )
    SELECT doc_en, doc_xx, lang_xx, CAST(n_shared AS BIGINT) AS n_shared,
           CAST(len_en AS BIGINT) AS len_en, CAST(len_xx AS BIGINT) AS len_xx
    FROM pairs
    WHERE n_shared >= 2 AND 2 * len_en >= len_xx AND 2 * len_xx >= len_en
    ORDER BY n_shared DESC, doc_en, doc_xx LIMIT 20
    """,
)
def doc_bitext_mining_candidates(spark, sf_dir):
    """Bitext (parallel-corpus) candidate mining — the lexical
    pre-filter stage of a translation-pair pipeline (CCMatrix/CCAligned
    run exactly this shape before the expensive embedding alignment):
    an English doc and a non-English doc are candidates when they
    share >= 2 RARE 3-gram shingles (document frequency <=
    min(max(3, N/150), 32): a corpus-adaptive floor at small N, and an
    ABSOLUTE ceiling of 32 at scale — a shingle present in more than 32
    documents is not a translation anchor no matter how big the corpus,
    and the ceiling is what makes the candidate join PROVABLY linear:
    joined rows <= 32 x |rare index| at any N. The earlier purely
    proportional cap admitted shingles with df ~ N/150 whose df² join
    contribution grows quadratically — measured 21x at 10x docs on the
    Zipf+Heaps natural corpus, and 4.8 M qualifying pairs at the sf1.0
    bounded-vocab fixture vs 15 under the ceiling, with the driver-SF
    results bit-identical because max df there sits below both caps.
    Names, numbers, and code fragments survive translation verbatim,
    and the shingle keeps them in context) and their lengths agree
    within 2x (integer cross-multiplication, no ratio float). One
    distinct (doc, shingle) pass (split projected before the explode),
    one df filter, one bounded join; the total (n_shared DESC, ids)
    order makes LIMIT 20 deterministic."""
    docs = table(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id", "lang", "n_chars", F.split("text", " ").alias("ws")
    ).where(F.size("ws") >= 3)
    sh = w.select(
        "doc_id", "lang", "n_chars",
        F.explode(
            F.expr(
                "transform(sequence(1, size(ws) - 2),"
                " i -> concat(ws[i-1], ' ', ws[i], ' ', ws[i+1]))"
            )
        ).alias("g"),
    ).distinct()
    cap = docs.agg(
        F.least(
            F.greatest(F.lit(3).cast("bigint"), F.expr("COUNT(*) DIV 150")),
            F.lit(32).cast("bigint"),
        ).alias("c")
    )
    dfs = (
        sh.groupBy("g")
        .agg(F.count_distinct("doc_id").alias("d"))
        .crossJoin(F.broadcast(cap))
        .where(F.col("d") <= F.col("c"))
        .select("g")
    )
    rare = sh.join(dfs, "g").transform(tracked_persist)
    a = rare.where(F.col("lang") == "en").select(
        "g", F.col("doc_id").alias("doc_en"), F.col("n_chars").alias("len_en")
    )
    b = rare.where(F.col("lang") != "en").select(
        "g", F.col("doc_id").alias("doc_xx"), F.col("lang").alias("lang_xx"),
        F.col("n_chars").alias("len_xx"),
    )
    pairs = (
        a.join(b, "g")
        .groupBy("doc_en", "doc_xx", "lang_xx")
        .agg(
            F.count(F.lit(1)).alias("n_shared"),
            F.max("len_en").alias("len_en"),
            F.max("len_xx").alias("len_xx"),
        )
    )
    return (
        pairs.where(
            (F.col("n_shared") >= 2)
            & (2 * F.col("len_en") >= F.col("len_xx"))
            & (2 * F.col("len_xx") >= F.col("len_en"))
        )
        .orderBy(F.col("n_shared").desc(), "doc_en", "doc_xx")
        .limit(20)
    )


@query(
    "doc_pps_systematic_sample",
    category="documents",
    oracle="""
    WITH w AS (
      SELECT doc_id, source, n_chars,
             SUM(n_chars) OVER (ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum,
             SUM(n_chars) OVER () AS t
      FROM documents WHERE n_chars > 0
    ),
    p AS (
      SELECT doc_id, source, n_chars,
             (2 * cum * 50 + t) // (2 * t)
               - (2 * (cum - n_chars) * 50 + t) // (2 * t) AS n_picks
      FROM w
    )
    SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
           CAST(n_picks AS BIGINT) AS n_picks
    FROM p WHERE n_picks > 0 ORDER BY doc_id
    """,
)
def doc_pps_systematic_sample(spark, sf_dir):
    """Systematic PPS sampling (probability proportional to size) — the
    sampling DESIGN behind every token-budgeted corpus draw: 50 picks
    placed at equal token intervals along the doc_id-ordered cumulative
    character mass, so a document's selection probability is exactly
    proportional to its length and a doc longer than one stride can be
    picked MULTIPLE times (its replication weight — emitted, because
    dropping it silently biases the draw). Fully deterministic and
    INTEGER-EXACT: pick count per doc = ⌊(2·cum·50+T)/(2T)⌋ −
    ⌊(2·cum_prev·50+T)/(2T)⌋ (thresholds at (k+½)·T/50 — the textbook
    half-stride offset — counted by flooring division on positive
    integers, Spark DIV ≡ DuckDB //; Σ n_picks = 50 by telescoping).
    One running-sum window over the (doc_id) total order + a scan-side
    projection; at 100 TB the cumsum runs over (doc_id, n_chars)
    pairs, never the text, and replaces the unreproducible
    rand()-weighted alternatives (the doc_train_split determinism
    contract)."""
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    ow = W.orderBy("doc_id").rowsBetween(W.unboundedPreceding, W.currentRow)
    w = docs.select(
        "doc_id", "source", "n_chars",
        F.sum("n_chars").over(ow).alias("cum"),
        F.sum("n_chars").over(W.partitionBy()).alias("t"),
    )
    picks = F.expr(
        "(2 * cum * 50 + t) DIV (2 * t)"
        " - (2 * (cum - n_chars) * 50 + t) DIV (2 * t)"
    )
    return (
        w.select("doc_id", "source", "n_chars", picks.alias("n_picks"))
        .where(F.col("n_picks") > 0)
        .orderBy("doc_id")
    )
