"""Text column functions -- tokenization, shingles, fingerprints.

All JVM-side (split / array ops / hash functions); no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# BPE-ish word/number/symbol tokenizer -- simple char classes only so
# the same pattern means the same thing in Java regex and RE2/DuckDB.
BPE_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def tokens(text: Column) -> Column:
    """Whitespace tokens (documents.text is space-separated)."""
    return F.split(text, " ")


def distinct_tokens(text: Column) -> Column:
    return F.array_distinct(tokens(text))


def bpe_tokens(text: Column) -> Column:
    """Regex tokenization (lowercased) -- the BPE-ish token count."""
    return F.regexp_extract_all(F.lower(text), F.lit(BPE_PATTERN), F.lit(0))


def fingerprint(text: Column) -> Column:
    """Order-insensitive document fingerprint: md5 over the sorted
    distinct token set. Two docs with the same vocabulary (any word
    order / repetition) collide -- the cheap rolling-hash analog."""
    return F.md5(F.array_join(F.array_sort(distinct_tokens(text)), " "))


def hashed_shingles(text: Column, k: int = 3) -> Column:
    """Distinct word-k-shingles hashed to int64 (xxhash64).

    Set semantics are identical to the string shingle set (collision
    odds ~|shingles|^2/2^64), but intersections/unions on longs are far
    cheaper than on 20-byte strings and the shuffle payload shrinks
    ~3x. Use for similarity math; keep string shingles for display."""
    return F.array_distinct(F.transform(shingles(text, k), lambda s: F.xxhash64(s)))


def shingles(text: Column, k: int = 3) -> Column:
    """Word k-shingles as strings (for MinHash)."""
    toks = tokens(text)
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.when(n >= k, F.transform(
        idx, lambda i: F.array_join(F.slice(toks, i + 1, k), " ")
    )).otherwise(F.array(F.array_join(toks, " ")))
