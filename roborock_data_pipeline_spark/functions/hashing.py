"""Hash-sketch builders: MinHash signatures, LSH bands, SimHash.

The scale path for near-duplicate detection: at 100 TB the pairwise
jaccard (even blocked) is infeasible; MinHash+LSH makes candidate
generation linear -- shingle -> k min-hashes -> band buckets ->
bucket-join. Everything below is built from `xxhash64` (JVM-side,
deterministic), array ops, and aggregates -- no Python UDFs and no
MLlib dependency, so it runs in whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

N_PERM = 32  # minhash permutations
N_BANDS = 16  # LSH bands (2 rows/band -> s-curve threshold ~ (1/16)^(1/2) = 0.25;
# collision prob at jaccard 0.6 is 1-(1-0.36)^16 ~ 0.999, while random pairs
# in a shingled corpus (jaccard ~0.001) almost never collide)


def minhash_signature(shingles: Column, n_perm: int = N_PERM) -> Column:
    """Array of n_perm min-hashes over the shingle set.

    One xxhash64 per (shingle, seed); the min over shingles
    approximates a random permutation's first element. All inside
    `transform`/`aggregate` -- O(|shingles| x n_perm) codegen'd work.

    NB: seeds are bound via closures, not lambda defaults -- an extra
    defaulted parameter changes the lambda's arity, which pyspark
    uses to decide whether to pass the array index.
    """

    def one(seed: int) -> Column:
        return F.array_min(F.transform(shingles, lambda s: F.xxhash64(s, F.lit(seed))))

    return F.array(*[one(i) for i in range(n_perm)])


def lsh_bands(signature: Column, n_bands: int = N_BANDS) -> Column:
    """Array of (band_id, band_hash) structs: docs sharing any band
    hash are candidate pairs."""
    rows = N_PERM // n_bands
    return F.array(*[
        F.struct(
            F.lit(b).alias("band_id"),
            F.xxhash64(
                F.array_join(
                    F.transform(
                        F.slice(signature, b * rows + 1, rows),
                        lambda x: x.cast("string"),
                    ),
                    ",",
                )
            ).alias("band_hash"),
        )
        for b in range(n_bands)
    ])


def simhash64(tokens: Column) -> Column:
    """64-bit SimHash: per bit, tokens vote +1/-1 by their hash bit;
    the sign of the vote is the output bit. Near-identical docs have
    small hamming distance. Returns a signed 64-bit long."""
    h = F.transform(tokens, lambda t: F.xxhash64(t))

    def vote_bit(b: int) -> Column:
        votes = F.aggregate(
            h,
            F.lit(0),
            lambda acc, x: acc
            + F.when(x.bitwiseAND(F.lit(1 << b)) != 0, 1).otherwise(-1),
        )
        return F.when(votes > 0, F.lit(1 << b)).otherwise(F.lit(0))

    out = F.lit(0)
    for b in range(63):  # stay within signed long: skip the sign bit
        out = out.bitwiseOR(vote_bit(b))
    return out


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))
