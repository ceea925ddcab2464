"""Text-analysis column expressions for the documents pipeline.

All JVM-side built-ins (no Python UDFs): tokenization, normalization,
fingerprinting, shingling, deterministic MinHash. The hash family is
md5-based — hex md5 is identical across engines (Spark, DuckDB,
Python), which makes MinHash signatures ORACLE-CHECKABLE, unlike
murmur/xxhash whose implementations differ per engine.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny multilingual stopword sets for the language-ID heuristic.
STOPWORDS_EN = ("the", "a", "of", "and", "to", "in", "is")


def normalize_text(col: Column) -> Column:
    """lower + trim + whitespace collapse — canonical form for exact
    dedup (the 'same bytes after cleanup' notion of duplicate)."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def tokens(col: Column) -> Column:
    """Whitespace tokenization of trimmed text."""
    return F.split(F.trim(col), r"\s+")


def n_tokens(col: Column) -> Column:
    return F.size(tokens(col))


def fingerprint(col: Column) -> Column:
    """Exact-dup document fingerprint: md5 of the normalized text."""
    return F.md5(normalize_text(col))


def shingles(tok: Column, k: int = 3) -> Column:
    """Word k-grams as strings; documents shorter than k tokens get a
    single shingle of the whole token array (so they still hash)."""
    gram = F.transform(
        F.sequence(F.lit(0), F.size(tok) - k),
        lambda j: F.concat_ws(
            " ", *[F.get(tok, j + i) for i in range(k)]
        ),
    )
    return F.when(F.size(tok) >= k, gram).otherwise(
        F.array(F.concat_ws(" ", tok))
    )


def minhash_band(sh: Column, seed: int) -> Column:
    """One MinHash value: min over shingles of md5(seed ':' shingle).
    Hex md5 strings compare lexicographically the same everywhere."""
    hashed = F.transform(
        sh, lambda s: F.md5(F.concat(F.lit(f"{seed}:"), s))
    )
    return F.array_min(hashed)


def stopword_hits(tok: Column) -> Column:
    """Count of tokens that are English stopwords (not distinct)."""
    return F.size(F.filter(tok, lambda t: t.isin(*STOPWORDS_EN)))


def hex_char_parity(col_name: str, pos: int) -> Column:
    """Parity (0/1) of the pos-th (1-based) hex character of a hash
    string column — an engine-portable 'bit' extractor for SimHash."""
    return (
        F.expr(
            f"locate(substring(`{col_name}`, {pos}, 1), '0123456789abcdef')"
        )
        - 1
    ) % 2

