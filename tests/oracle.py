"""Independent NumPy/pure-Python transcription of the reference
MinHash-LSH clustering math, used as the golden oracle for E2E tests.

This deliberately mirrors the *reference* control flow — per-doc
signature, B band hash tables, star edges, driver union-find
(/root/reference/text_dedup/minhash.py:332,385-412) — NOT our Spark
pipeline, so the two paths only share the pinned xxh32 primitive
(validated on its own against reference doctest values).
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter, defaultdict
from typing import Dict, List, Optional, Set, Tuple

import numpy as np

from sparkdedup.hashing import generate_permutations, xxh32_batch

NON_ALPHA = re.compile(r"\W", re.UNICODE)
MAX_HASH = np.uint32(4_294_967_295)
MOD_PRIME = np.uint32(4_294_967_291)


class UnionFind:
    """Minimal union-find (semantics of reference union_find.py:9-98)."""

    def __init__(self) -> None:
        self.parent: Dict[int, int] = {}

    def find(self, x: int) -> int:
        root = x
        while self.parent.get(root, root) != root:
            root = self.parent[root]
        while self.parent.get(x, x) != root:
            self.parent[x], x = root, self.parent[x]
        return root

    def union(self, x: int, y: int) -> None:
        rx, ry = self.find(x), self.find(y)
        if rx != ry:
            # union to the smaller root for deterministic min-root labels
            if rx < ry:
                self.parent[ry] = rx
            else:
                self.parent[rx] = ry


_HASH_CONFIG = {
    64: (np.uint64, np.uint64((1 << 32) - 1), np.uint64((1 << 61) - 1)),
    32: (np.uint32, np.uint32((1 << 32) - 1), np.uint32((1 << 32) - 5)),
    16: (np.uint16, np.uint16((1 << 16) - 1), np.uint16((1 << 16) - 15)),
}


def doc_signature(
    text: str,
    ngram: int,
    min_length: int,
    num_perm: int,
    seed: int,
    hash_bits: int = 32,
    base_hash: str = "xxh32",
) -> Optional[np.ndarray]:
    """Reference embed path, one doc at a time, over the doc's whole
    (shingles, num_perm) permute matrix (minhash_spark.py:222-226;
    HASH_CONFIG dtype table minhash.py:289-296). base_hash="sha1" is the
    non-Spark default: the little-endian d=min(hash_bits, 32)-bit sha1
    prefix (hashfunc.py:62-92)."""
    tokens = NON_ALPHA.split(text.lower())
    if len(tokens) < min_length:
        return None
    if len(tokens) < ngram:
        shingles = {" ".join(tokens).lower().encode("utf-8")}
    else:
        shingles = {
            " ".join(tokens[i : i + ngram]).lower().encode("utf-8") for i in range(len(tokens) - ngram + 1)
        }
    dtype, max_hash, prime = _HASH_CONFIG[hash_bits]
    if base_hash == "sha1":
        d = min(hash_bits, 32)
        hashes = np.array(
            [int.from_bytes(hashlib.sha1(s).digest()[: d // 8], "little") for s in sorted(shingles)],
            dtype=np.uint32,
        )
    else:
        hashes = xxh32_batch(sorted(shingles))
    if hash_bits == 16:
        hashes = (hashes & np.uint32(0xFFFF)).astype(np.uint16)
    else:
        hashes = hashes.astype(dtype)
    a, b = generate_permutations(num_perm, int(prime), seed, dtype=dtype)
    with np.errstate(over="ignore"):
        ph = (np.outer(hashes, a) + b) % prime & max_hash
    padded = np.vstack([ph, np.full(num_perm, max_hash, dtype=dtype)])
    return padded.min(axis=0)


def minhash_clusters(
    texts: List[str],
    ids: List[int],
    ngram: int = 5,
    min_length: int = 5,
    num_perm: int = 250,
    b: int = 25,
    r: int = 10,
    seed: int = 42,
    hash_bits: int = 32,
) -> Tuple[Dict[int, int], Set[int]]:
    """Returns (assignment: id -> min-id cluster label, kept_ids after the
    length filter). Docs not in any collision keep their own label."""
    tables: List[Dict[bytes, List[int]]] = [dict() for _ in range(b)]
    kept: Set[int] = set()
    for doc_id, text in zip(ids, texts):
        sig = doc_signature(text, ngram, min_length, num_perm, seed, hash_bits)
        if sig is None:
            continue
        kept.add(doc_id)
        for band in range(b):
            key = sig[band * r : (band + 1) * r].tobytes()
            tables[band].setdefault(key, []).append(doc_id)

    uf = UnionFind()
    for table in tables:
        for group in table.values():
            if len(group) <= 1:
                continue
            m = min(group)
            for node in group:
                if node != m:
                    uf.union(node, m)

    assignment = {doc_id: uf.find(doc_id) for doc_id in kept}
    return assignment, kept


def cluster_pairs(assignment: Dict[int, int]) -> Set[Tuple[int, int]]:
    """All unordered same-cluster pairs (the dup-pair recall universe)."""
    groups: Dict[int, List[int]] = {}
    for doc_id, label in assignment.items():
        groups.setdefault(label, []).append(doc_id)
    pairs: Set[Tuple[int, int]] = set()
    for members in groups.values():
        if len(members) < 2:
            continue
        members = sorted(members)
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                pairs.add((members[i], members[j]))
    return pairs


def word_ngram_jaccard(a: str, b: str, n: int = 5) -> float:
    """Test-only similarity oracle (reference analysis.py:11-46)."""

    def sh(t: str) -> set:
        tokens = NON_ALPHA.split(t.lower())
        if len(tokens) < n:
            return {" ".join(tokens)}
        return {" ".join(tokens[i : i + n]) for i in range(len(tokens) - n + 1)}

    sa, sb = sh(a), sh(b)
    if not sa and not sb:
        return 1.0
    return len(sa & sb) / len(sa | sb)


def adjusted_rand_index(labels_a: list, labels_b: list) -> float:
    """ARI from the contingency table (Hubert & Arabie 1985) — the
    reference's NEWS-COPY scoring metric
    (reference tests/benchmark_news.py:39-47, which calls
    sklearn.metrics.adjusted_rand_score; plain-Python here, so sklearn
    is not a dependency)."""
    assert len(labels_a) == len(labels_b)
    n = len(labels_a)
    if n < 2:
        return 1.0

    def c2(x: int) -> int:
        return x * (x - 1) // 2

    cont: dict = defaultdict(int)
    for a, b in zip(labels_a, labels_b):
        cont[(a, b)] += 1
    sum_ij = sum(c2(v) for v in cont.values())
    sum_a = sum(c2(v) for v in Counter(labels_a).values())
    sum_b = sum(c2(v) for v in Counter(labels_b).values())
    total = c2(n)
    expected = sum_a * sum_b / total
    max_index = (sum_a + sum_b) / 2
    if max_index == expected:
        return 1.0
    return (sum_ij - expected) / (max_index - expected)


# --- SimHash oracle (transcription of reference simhash.py flow) ---------


def _simhash_fp(text: str, ngram: int, min_length: int, f: int = 64) -> Optional[int]:
    """Per-doc fingerprint via plain Python ints (independent of the
    vectorized pipeline path; shares only the pinned xxh64)."""
    if len(text) < min_length:
        return None
    if len(text) < ngram:
        shingles = {text.lower().encode("utf-8")}
    else:
        shingles = {text[i : i + ngram].lower().encode("utf-8") for i in range(len(text) - ngram + 1)}
    from sparkdedup.hashing import xxh64_batch

    if f == 64:
        hashes = [int(h) for h in xxh64_batch(sorted(shingles))]
    else:  # f=128: two independently-seeded xxh64 halves, hi||lo
        ordered = sorted(shingles)
        his = xxh64_batch(ordered, seed=0)
        los = xxh64_batch(ordered, seed=0x9E3779B9)
        hashes = [(int(h) << 64) | int(lo) for h, lo in zip(his, los)]
    n = len(hashes)
    fp = 0
    for bit in range(f):  # bit 0 = MSB
        ones = sum((h >> (f - 1 - bit)) & 1 for h in hashes)
        if 2 * ones - n > 0:
            fp |= 1 << (f - 1 - bit)
    return fp


def _ref_block_layout(f: int, b: int):
    import math

    max_w = math.ceil(f / b)
    blocks, start = [], 0
    for _ in range(b):
        if start >= f:
            break
        w = min(max_w, f - start)
        blocks.append((w, start))
        start += w
    return blocks


def simhash_bucket_keys(fp: int, f: int, k: int, b: int):
    """Reference Permutation semantics: key = (permutation identity,
    leading (b-k) blocks of the permuted fingerprint), via plain int
    ops. The permutation index stands in for the reference's
    search_mask (which pins the chosen block set)."""
    from itertools import permutations as iperm

    blocks = _ref_block_layout(f, b)
    keys = set()
    for pidx, leading in enumerate(iperm(range(len(blocks)), b - k)):
        chosen = [blocks[i] for i in leading]
        width = sum(w for w, _ in chosen)
        val, consumed = 0, 0
        for w, start in chosen:
            consumed += w
            block_val = (fp >> (f - start - w)) & ((1 << w) - 1)
            val |= block_val << (width - consumed)
        keys.add((pidx, val))
    return keys


def simhash_clusters(
    texts: List[str],
    ids: List[int],
    ngram: int = 3,
    min_length: int = 5,
    f: int = 64,
    bit_diff: int = 3,
    num_bucket: int = 4,
) -> Tuple[Dict[int, int], Set[int]]:
    buckets: Dict[Tuple[int, int], List[Tuple[int, int]]] = {}
    uf = UnionFind()
    kept: Set[int] = set()
    fps: Dict[int, int] = {}
    for doc_id, text in sorted(zip(ids, texts)):
        fp = _simhash_fp(text, ngram, min_length, f)
        if fp is None:
            continue
        kept.add(doc_id)
        fps[doc_id] = fp
        for key in simhash_bucket_keys(fp, f, bit_diff, num_bucket):
            for other_id, other_fp in buckets.setdefault(key, []):
                if bin(fp ^ other_fp).count("1") <= bit_diff:
                    uf.union(doc_id, other_id)
            buckets[key].append((doc_id, fp))
    assignment = {doc_id: uf.find(doc_id) for doc_id in kept}
    return assignment, kept
