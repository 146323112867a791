"""Text-analysis primitives for the LLM-data-pipeline surface
(SURVEY.md §2.3): tokenization, quality scoring, language-ID features,
fingerprinting, shingling.

All pure Catalyst expressions (split / higher-order array functions /
md5) — no Python in the hot path, so they run inside whole-stage
codegen and scale linearly with the scan at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language function-word lists for the n-gram/stopword
# heuristic language scorer (public common words; intentionally small —
# the operator shape is what matters, lists are swappable).
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu", "den"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "des"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "de"],
    "zh": ["de", "shi", "le", "zai", "he", "you", "wo", "ta"],
}


def tokens(text: Column | str, sep: str = " ") -> Column:
    """Whitespace tokenizer (split is JVM regex; a single space here)."""
    col = F.col(text) if isinstance(text, str) else text
    return F.split(col, sep)


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def stopword_hits(text: Column | str, words: list[str]) -> Column:
    """Count of tokens present in the given word list (language-ID /
    quality feature). array_intersect-free: per-token membership so
    repeated stopwords count."""
    return F.size(F.filter(tokens(text), lambda t: t.isin(*words)))


def quality_score(text: Column | str) -> Column:
    """Heuristic document quality in [0,1]: penalizes very short docs,
    high punctuation ratio, and low lexical diversity. Deterministic
    rational arithmetic (single divisions) — oracle-identical."""
    col = F.col(text) if isinstance(text, str) else text
    toks = tokens(col)
    n = F.size(toks)
    uniq = F.size(F.array_distinct(toks))
    len_score = F.least(n.cast("double") / F.lit(50.0), F.lit(1.0))
    diversity = uniq.cast("double") / n.cast("double")
    punct = F.length(F.regexp_replace(col, "[^.,;:!?]", ""))
    punct_ratio = punct.cast("double") / F.greatest(F.length(col), F.lit(1)).cast("double")
    punct_score = F.lit(1.0) - F.least(punct_ratio * 5, F.lit(1.0))
    return F.round((len_score + diversity + punct_score) / 3, 6)


def lang_scores(text: Column | str) -> list[Column]:
    """One stopword-ratio score column per language (``score_{lang}``)."""
    n = F.greatest(token_count(text), F.lit(1))
    return [
        (stopword_hits(text, words).cast("double") / n.cast("double"))
        .alias(f"score_{lang}")
        for lang, words in LANG_STOPWORDS.items()
    ]


def fingerprint(text: Column | str) -> Column:
    """Document fingerprint: md5 of the canonicalized token stream
    (lowercased, whitespace-normalized) — the exact-dedup key that is
    robust to case/spacing differences."""
    col = F.col(text) if isinstance(text, str) else text
    normalized = F.array_join(
        F.filter(F.split(F.lower(col), "\\s+"), lambda t: t != ""), " ")
    return F.md5(normalized)


def rolling_hash(text: Column | str, mod: int = 1_000_000_007,
                 base: int = 31) -> Column:
    """Polynomial rolling hash over the token stream
    (h = Σ code(tok)·base^i mod p, folded left) — the shift-resistant
    fingerprint. code(tok) = ascii(first char)·31 + length: cheap and
    engine-portable. Pure fold via F.aggregate — codegen'd."""
    code = lambda t: (F.ascii(t) * 31 + F.length(t)).cast("bigint")  # noqa: E731
    return F.aggregate(
        tokens(text),
        F.lit(0).cast("bigint"),
        lambda acc, t: (acc * base + code(t)) % mod,
    )


def shingles(text: Column | str, k: int = 3) -> Column:
    """Distinct k-token shingles (n-grams) of the document — the unit
    set for Jaccard/MinHash dedup. Built with sequence+transform+slice:
    all JVM-side, no explode needed until the caller wants one."""
    toks = tokens(text)
    n = F.size(toks)
    # guard: Spark's sequence(1, 0) yields the DESCENDING array [1, 0]
    # (auto step -1), and slice(toks, 0, k) then throws — a single
    # document shorter than k tokens would abort the whole job. Short
    # docs get an empty shingle set, matching the SQL oracles'
    # generate_series(1, 0) = empty semantics.
    idx = F.when(n >= k, F.sequence(F.lit(1), n - (k - 1))) \
        .otherwise(F.expr("CAST(array() AS array<int>)"))
    return F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i, k), " ")))
