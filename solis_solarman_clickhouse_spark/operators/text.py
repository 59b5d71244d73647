"""Text-analysis operators for training-data pipelines: tokenization,
shingling, language-ID heuristic, quality scoring, fingerprinting. All
pure column expressions (whole-stage codegen) — at 100 TB these run as a
single scan with no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# small per-language stopword lists for the n-gram/stopword-ratio heuristic
STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es", "no", "por"),
    "de": ("der", "die", "das", "und", "zu", "in", "ist", "nicht", "ein", "mit"),
    "fr": ("le", "la", "de", "et", "un", "est", "pas", "que", "pour", "dans"),
}

#: BPE-ish pre-tokenizer: words, numbers, or single non-space symbols —
#: deliberately simple so Java regex and RE2 agree.
BPE_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(text: Column) -> Column:
    """Whitespace tokens."""
    return F.split(text, r"\s+")


def stopword_ratio(text: Column, lang: str) -> Column:
    """Fraction of whitespace tokens that are stopwords of `lang`."""
    toks = tokens(text)
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return hits / F.size(toks)


def quality_features(text: Column) -> dict[str, Column]:
    """Length / punctuation / stopword-ratio quality features."""
    toks = tokens(text)
    n_tok = F.size(toks)
    n_char = F.length(text)
    punct_chars = F.length(F.regexp_replace(text, r"[A-Za-z0-9\s]", ""))
    return {
        "n_chars": n_char.cast("bigint"),
        "n_tokens": n_tok.cast("bigint"),
        "avg_token_len": F.round(
            (n_char - (n_tok - 1)).cast("double") / n_tok, 4
        ),  # chars excluding single separators
        "punct_ratio": F.round(punct_chars.cast("double") / n_char, 4),
        "stopword_ratio_en": F.round(stopword_ratio(text, "en"), 4),
    }


def word_shingles(text: Column, k: int = 3) -> Column:
    """Distinct k-word shingles of `text` as an array<string>; empty when the
    document has fewer than k tokens. Pure expressions: split → sequence of
    start offsets → transform/concat → array_distinct."""
    toks = F.split(text, " ")
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(0)))
    sh = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + j).cast("int")) for j in range(k)]
        ),
    )
    return F.array_distinct(sh)


def _stopword_hits(text: Column, lang: str) -> Column:
    """Count of tokens appearing in `lang`'s stopword list. A named factory
    (not a loop lambda): pyspark's higher-order-function API passes an index
    argument to two-parameter lambdas, so closures must be single-arg."""
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(tokens(text), lambda t: F.array_contains(sw, t)))


def lang_guess(text: Column) -> Column:
    """Heuristic language ID: the language whose stopword list overlaps the
    token set most; ties pick the alphabetically-first language. Expressible
    in SQL for the oracle; at scale it's one scan, no shuffle."""
    langs = sorted(STOPWORDS)
    # greatest() over (score, inverse-rank, lang) structs: struct comparison
    # is lexicographic, and inverse rank makes ties resolve to the
    # alphabetically-first language.
    ranked = [
        F.struct(
            _stopword_hits(text, lg).alias("score"),
            F.lit(-i).alias("rank"),
            F.lit(lg).alias("lang"),
        )
        for i, lg in enumerate(langs)
    ]
    return F.greatest(*ranked)["lang"]
