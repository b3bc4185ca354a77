"""Text-analysis column helpers: tokenization, n-grams/shingles, marker
counts, language-ID heuristic, fingerprints. All native expressions
(split / higher-order functions / hashes) — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language marker-word lists for the n-gram/stopword language-ID
# heuristic. Public common stopwords; deliberately small — the operator is
# a deterministic heuristic, not a model.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "por"],
    "de": ["der", "die", "und", "das", "nicht", "mit", "ein", "von"],
    "fr": ["le", "la", "les", "des", "et", "que", "pour", "dans"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "不"],
}

EN_STOPWORDS: list[str] = [
    "a", "an", "and", "are", "as", "at", "be", "by", "for", "from",
    "has", "he", "in", "is", "it", "its", "of", "on", "that", "the",
    "to", "was", "were", "will", "with",
]


def tokenize(text: Column, sep: str = " ") -> Column:
    """Whitespace tokenization (fixtures are space-joined words)."""
    return F.split(text, sep)


def ngrams(tokens: Column, n: int = 2, joiner: str = " ") -> Column:
    """Word n-grams (shingles) via zip_with over shifted slices — stays
    JVM-side; O(len) per row. All slices share the same target length
    (len-n+1); a longer slice would make zip_with null-pad and emit
    spurious short grams."""
    if n < 2:
        return tokens
    m = F.greatest(F.size(tokens) - (n - 1), F.lit(0))
    out = F.slice(tokens, 1, m)
    for i in range(1, n):
        shifted = F.slice(tokens, i + 1, m)
        out = F.zip_with(out, shifted, lambda a, b: F.concat_ws(joiner, a, b))
    return out


def marker_hits(tokens: Column, words: list[str]) -> Column:
    """How many of ``tokens`` are in ``words``."""
    # Dedicated helper: a `lambda t, w=words:` inline would have arity 2
    # and be misread by Spark as an (element, index) lambda.
    return F.size(F.filter(tokens, lambda t: t.isin(*words)))


def lang_id(text: Column) -> Column:
    """Marker-word language-ID heuristic: score each language by marker
    hits in the token set; argmax wins, 'und' when no marker hits.
    Deterministic tie-break by language code order."""
    tokens = tokenize(F.lower(text))
    best = F.lit("und")
    best_score = F.lit(0)
    for lang in sorted(LANG_MARKERS):
        hits = marker_hits(tokens, LANG_MARKERS[lang])
        improved = hits > best_score
        best = F.when(improved, F.lit(lang)).otherwise(best)
        best_score = F.when(improved, hits).otherwise(best_score)
    return best


def fingerprint(text: Column, shingle_n: int = 3) -> Column:
    """Order-insensitive document fingerprint: xxhash64 of each shingle,
    min-reduced (a 1-perm MinHash) — deterministic across runs/engines
    that share xxhash64 (Spark-side identity; rows-only vs oracle)."""
    grams = ngrams(tokenize(text), shingle_n)
    hashes = F.transform(grams, lambda g: F.xxhash64(g))
    return F.array_min(hashes)
