"""Text metrics as built-in column expressions (no UDFs).

Hash-based primitives (minhash / simhash / fingerprints) use md5 so the
DuckDB oracle can compute bit-identical values — the engine-portable
choice, unlike Spark's murmur3 `hash()`.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small fixed stopword list used by quality scoring; mirrored verbatim
# in oracle SQL.
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]


def tokens(col: Column) -> Column:
    """Whitespace tokenization (the documents table is space-separated)."""
    return F.split(col, r"\s+")


def distinct_tokens(col: Column) -> Column:
    return F.array_distinct(tokens(col))


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def distinct_token_count(col: Column) -> Column:
    return F.size(distinct_tokens(col))


def stopword_count(col: Column) -> Column:
    toks = tokens(col)
    return F.size(F.filter(toks, lambda t: t.isin(STOPWORDS)))


def quality_score(col: Column) -> Column:
    """Composite [0,1]-ish quality heuristic: rewards mid-length docs,
    penalizes stopword-heavy and single-char-token text. Formula is
    deliberately simple arithmetic so the oracle mirrors it exactly."""
    n = token_count(col).cast("double")
    sw_ratio = stopword_count(col) / n
    short_ratio = F.size(F.filter(tokens(col), lambda t: F.length(t) <= 1)) / n
    len_score = F.least(n / 100.0, F.lit(1.0))
    return F.round(len_score * (1 - sw_ratio) * (1 - short_ratio), 6)


def exact_fingerprint(col: Column) -> Column:
    """md5 of raw text — exact-duplicate key."""
    return F.md5(col)


def normalized_fingerprint(col: Column) -> Column:
    """md5 of sorted distinct tokens — order/multiplicity-insensitive
    duplicate key (bag-of-words fingerprint)."""
    return F.md5(F.concat_ws(" ", F.array_sort(distinct_tokens(col))))


def minhash_expr(token_col: Column, seed: int) -> Column:
    """One minhash lane: min over tokens of md5(seed || '|' || token).

    min() over lexicographic md5 hex == a deterministic universal-ish
    hash family, identically computable in any engine with md5.
    Intended use: explode distinct tokens, then F.min(minhash_expr(...))
    per doc per seed.
    """
    return F.md5(F.concat(F.lit(f"{seed}|"), token_col))
