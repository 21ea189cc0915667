"""Configuration dataclasses.

Defaults mirror the reference CLIs (``/root/reference/text_dedup/utils/
args.py:121-131`` MinHash: ngram=5, min_length=5, num_perm=250,
threshold=0.7; ``args.py:180-185`` SimHash: ngram=3, f=64, bit_diff=3,
num_bucket=4; ``args.py:222-226`` suffix-array: k=100,
strategy='overlapping'; ``args.py:261-313`` exact/bloom hash funcs).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional, Tuple

SEED = 42  # reference: minhash_spark.py:32

# 32-bit hash space used by the Spark-variant reference
# (minhash_spark.py:35-37). 16/64-bit variants per minhash.py:289-296.
MAX_HASH_32 = 4_294_967_295
MOD_PRIME_32 = 4_294_967_291
MAX_HASH_16 = 65_535
MOD_PRIME_16 = 65_521
# 64-bit mode in the reference is legacy-datasketch: 32-bit hash values
# under the Mersenne prime 2^61-1 (minhash.py:289-296).
MOD_PRIME_61 = (1 << 61) - 1


@dataclass(frozen=True)
class MinHashConfig:
    """MinHash-LSH config (reference defaults, args.py:121-161)."""

    column: str = "content"
    ngram: int = 5
    min_length: int = 5
    num_perm: int = 250
    threshold: float = 0.7
    b: Optional[int] = None
    r: Optional[int] = None
    hash_bits: int = 32  # {16, 32, 64}
    # base shingle hash: xxh32 (the reference Spark variant) or sha1
    # (the reference non-Spark default, args.py:150-153: sha1_hash with
    # d=min(hash_bits, 32))
    base_hash: str = "xxh32"  # {xxh32, sha1}
    seed: int = SEED

    def resolved_bands(self) -> Tuple[int, int]:
        if self.b is not None and self.r is not None:
            return self.b, self.r
        from sparkdedup.hashing import optimal_param

        return optimal_param(self.threshold, self.num_perm)


@dataclass(frozen=True)
class SimHashConfig:
    """SimHash config (reference defaults, args.py:180-203)."""

    column: str = "content"
    ngram: int = 3
    f: int = 64  # fingerprint bits {64, 128}, matching the reference's --f
    bit_diff: int = 3
    num_bucket: int = 4
    min_length: int = 5  # ngrams() default min_length used by simhash too
    seed: int = SEED
    # buckets larger than this are split exactly via pigeonhole
    # sub-ranges of the non-mask bits (simhash.refine_key_columns) —
    # bounds the within-bucket quadratic self-join with zero recall
    # loss. None disables the size probe.
    max_bucket_size: Optional[int] = 4096

    def __post_init__(self) -> None:
        if self.f not in (64, 128):
            raise ValueError(f"simhash f must be 64 or 128, got {self.f}")
        if self.num_bucket <= self.bit_diff:
            # the reference requires b > k: with b blocks and k differing
            # bits there must be at least one all-equal block per pair
            raise ValueError(
                f"num_bucket ({self.num_bucket}) must exceed bit_diff ({self.bit_diff})"
            )
        import math

        if math.ceil(self.f / self.num_bucket) > 64:
            # block bit-extraction packs each block into one signed long
            raise ValueError(
                f"block width ceil({self.f}/{self.num_bucket}) exceeds 64 bits; "
                "raise num_bucket"
            )


@dataclass(frozen=True)
class ExactHashConfig:
    """Exact / Bloom dedup config (args.py:261-313).

    The reference's bloom mode is an approximate version of exact_hash
    (false positives drop non-duplicates); in Spark exactness is free, so
    both modes share first-wins-by-lowest-id semantics
    (exact_hash.py:58-68).
    """

    column: str = "content"
    hash_func: str = "sha256"  # {md5, sha256, xxh64}


@dataclass(frozen=True)
class CCNetConfig:
    """Line-level dedup config (ccnet.py)."""

    column: str = "content"
    hash_func: str = "sha256"


@dataclass(frozen=True)
class SubstringConfig:
    """Exact-substring dedup (suffix-array semantics, suffix_array.py).

    Spark-native redesign: duplicated byte-ranges >= k are found via
    k-byte rolling-window fingerprints instead of a global suffix array
    (SURVEY.md §7.4). stride=1 is exact for the 'overlapping' strategy.
    """

    column: str = "content"
    k: int = 100
    strategy: str = "overlapping"  # {overlapping, longest}
    stride: int = 1
    # PASS B size gate: dup fingerprints <= this (16 B/key -> ~320 MB at
    # the default) are broadcast as a sorted array for a zero-shuffle
    # membership splice; above it the shuffle-join + range-compression
    # fallback runs.
    max_broadcast_keys: int = 20_000_000
    # windows processed per chunk inside the UDFs; bounds per-doc peak
    # memory (~10 u64 arrays of this size) regardless of document size
    chunk_bytes: int = 4 << 20


@dataclass(frozen=True)
class ANNConfig:
    """Embedding near-dup / similarity search config."""

    id_column: str = "vec_id"
    vector_column: str = "embedding"
    top_k: int = 10
    threshold: float = 0.9  # cosine similarity for near-dup
    num_hyperplanes: int = 16  # LSH bucketing (sign-random-projection)
    num_tables: int = 4
    seed: int = SEED
    # SRP buckets larger than this emit anchor-star candidates (every
    # member vs the bucket's min-id rep) instead of all pairs — bounds
    # the bucket self-join to O(bucket) for mega-buckets at a
    # connectivity-preserving (not exhaustive) recall inside them.
    max_bucket_size: int = 4096

    def __post_init__(self) -> None:
        # bucket ids are sign bits packed into a signed int64
        # (1 << bit_index); bit 62 is the last safe shift — 63 flips
        # the sign and >=64 wraps mod 64 on most platforms, silently
        # producing duplicate weights and degenerate buckets
        if not 1 <= self.num_hyperplanes <= 62:
            raise ValueError(
                f"num_hyperplanes must be in [1, 62] (packed into int64), got {self.num_hyperplanes}"
            )
