"""MinHash-LSH near-duplicate detection — the flagship pipeline.

Semantics: identical signature math to the reference Spark variant
(/root/reference/text_dedup/minhash_spark.py): word n-gram shingles →
xxh32 → uint32 universal-hash permutations with wrap-around arithmetic
``((h*a + b) mod 4294967291) & 0xFFFFFFFF`` (minhash_spark.py:222-226)
→ per-band byte signatures → band collision groups → star edges to the
group minimum (minhash_spark.py:40-64) → connected components → keep
the component-minimum row (minhash_spark.py:524-528).

Architecture (Spark-first, NOT a port):
  * signatures: one Arrow-batched pandas UDF, NumPy-vectorized across
    the whole batch (fixed slices of the concatenated shingle hashes
    folded by ``shingle.fold_segments``, shared with SimHash: peak
    O(chunk × num_perm) whatever the document sizes) — replaces the
    reference's per-row rdd.flatMap.
  * banding: JVM-side ``posexplode`` of the array<binary> signature.
  * candidate edges: each (band, hash) becomes a 128-bit key (k1, k2),
    grouped in two rounds, NOT groupBy().collect_list. Round 1 counts
    rows per 32-bit slice of the key (the high half of ``k1``) with a
    map-side combine, which finds the candidate keys; round 2 takes the
    running min over the id-sorted rows of each full 128-bit key among
    the rows whose slice repeats (~11% on the code corpus). With the
    candidates broadcast, only those rows shuffle the full 16-byte key;
    a mega-cluster key's rows meet in one round-2 sort task.
  * clustering + keep: the shared cc.cluster_keep tail (hook-and-compress
    CC on the driver or in checkpointed DataFrame rounds, no
    GraphFrames).
"""

from __future__ import annotations

from typing import Callable, List, Optional

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import ArrayType, BinaryType

from sparkdedup.cc import COMPONENT, DedupResult, RunMetrics, cluster_keep  # noqa: F401 (COMPONENT re-exported)
from sparkdedup.config import MinHashConfig
from sparkdedup.hashing import generate_permutations
from sparkdedup.io import DOC_ID
from sparkdedup.shingle import fold_segments, word_shingle_hashes_batch

# hash_bits -> (dtype, max_hash, modulo_prime); mirrors the reference
# HASH_CONFIG (minhash.py:289-296): 64-bit is the legacy-datasketch mode
# (32-bit hash data under the Mersenne prime 2^61-1 in uint64
# arithmetic), 32/16-bit use near-2^n primes. The base shingle hash is
# our pinned xxh32 (masked to 16 bits for the 16-bit mode).
_HASH_CONFIG = {
    64: (np.uint64, np.uint64((1 << 32) - 1), np.uint64((1 << 61) - 1)),
    32: (np.uint32, np.uint32((1 << 32) - 1), np.uint32((1 << 32) - 5)),
    16: (np.uint16, np.uint16((1 << 16) - 1), np.uint16((1 << 16) - 15)),
}

# Max shingles per vectorized permute chunk. Small on purpose: the
# (CHUNK, num_perm) uint32 permute matrix (1024*250*4 = 1 MB) must stay
# L2-resident PER WORKER — with 32 concurrent executor pythons the
# workload is memory-bandwidth-bound, and 1 MB chunks + in-place ops
# measured ~15x faster than 8 MB chunks under full concurrency.
_PERMUTE_CHUNK = 1_024

SIG = "__sig__"


def _sha1_shingle_hashes(texts: List[str], cfg: MinHashConfig) -> List[Optional[np.ndarray]]:
    """sha1 base-hash path (reference non-Spark default,
    minhash.py:301-305: sha1_hash(token, d=min(hash_bits, 32))).
    Per-shingle hashlib calls — a parity option, not the hot path."""
    from sparkdedup.hashing import sha1_hash
    from sparkdedup.shingle import word_shingles

    d = min(cfg.hash_bits, 32)
    out: List[Optional[np.ndarray]] = []
    for text in texts:
        if text is None:
            out.append(None)
            continue
        shingles = word_shingles(text, cfg.ngram, cfg.min_length)
        if shingles is None:
            out.append(None)
            continue
        out.append(np.unique(np.array([sha1_hash(s, d) for s in shingles], dtype=np.uint32)))
    return out


def compute_band_signatures(
    texts: List[str],
    cfg: MinHashConfig,
) -> List[Optional[List[bytes]]]:
    """Pure-Python/NumPy core: per doc, the B band byte-signatures
    (None when the doc has < min_length tokens).

    The batch's shingle hashes are permuted and min-reduced in fixed
    _PERMUTE_CHUNK-row slices by the shared ``shingle.fold_segments``
    loop, so peak memory is O(_PERMUTE_CHUNK * num_perm) whatever the
    document sizes.

    This is the function the golden tests pin against the NumPy oracle;
    the pandas UDF below is just its Arrow wrapper.
    """
    b, r = cfg.resolved_bands()
    dtype, max_hash, prime = _HASH_CONFIG[cfg.hash_bits]
    a_coef, b_coef = generate_permutations(cfg.num_perm, int(prime), cfg.seed, dtype=dtype)

    def permute(h: np.ndarray) -> np.ndarray:
        # the cast keeps the low bits: the 16-bit mode's xxh32 mask
        h = h.astype(dtype, copy=False)
        with np.errstate(over="ignore"):
            # uint32 wrap-around BEFORE the modulus — the reference
            # relies on this exact overflow behavior (minhash.py:122).
            # In-place ops: one materialized matrix, not four.
            ph = h[:, None] * a_coef[None, :]
            ph += b_coef[None, :]
            ph %= prime
            ph &= max_hash
        return ph

    if cfg.base_hash == "sha1":
        per_doc = _sha1_shingle_hashes(texts, cfg)
    else:
        per_doc = word_shingle_hashes_batch(texts, cfg.ngram, cfg.min_length)
    # a doc without shingles keeps the all-max_hash initial signature
    init = np.full((len(texts), cfg.num_perm), max_hash, dtype=dtype)
    sigs = fold_segments(per_doc, permute, np.minimum, init, _PERMUTE_CHUNK)
    return [
        None if h is None else [sig[band * r : (band + 1) * r].tobytes() for band in range(b)]
        for h, sig in zip(per_doc, sigs)
    ]


def make_signature_udf(cfg: MinHashConfig):
    """Arrow-batched UDF: content -> array<binary> of B band signatures
    (null = below min_length, i.e. the reference's length filter,
    minhash_spark.py:423-425).

    Runs once per row in every plan: it is flagged non-deterministic,
    so the ``isNotNull`` filter callers put after it is not rewritten
    into a second ArrowEvalPython of the same call."""

    @pandas_udf(ArrayType(BinaryType()))
    def signature(texts: pd.Series) -> pd.Series:
        from sparkdedup.tuning import tune_worker_memory

        tune_worker_memory()
        return pd.Series(compute_band_signatures(texts.tolist(), cfg))

    # pure; the flag only stops Catalyst copying the call into a
    # pushed-down filter
    return signature.asNondeterministic()


def minhash_bands(df: DataFrame, cfg: MinHashConfig, id_col: str = DOC_ID) -> DataFrame:
    """Exploded band table: (id, band, hash: binary).

    ``band_edges`` scans its input once per grouping round, so a caller
    that does not persist this table runs the signature UDF twice. The
    staged jobs and the lazy ``*_dedup``s persist the signatures first."""
    sig_udf = make_signature_udf(cfg)
    return (
        df.select(F.col(id_col), sig_udf(F.col(cfg.column)).alias(SIG))
        .filter(F.col(SIG).isNotNull())
        .select(F.col(id_col), F.posexplode(SIG).alias("band", "hash"))
    )


def band_edges(bands: DataFrame, id_col: str = DOC_ID) -> DataFrame:
    """Star edges (src -> band-group minimum) of the (id, band, hash)
    band table: each (band, hash) becomes a 128-bit key (k1, k2) and
    ``group_min_edges`` links every row of a colliding key to the
    key's minimum id."""
    # 128-bit two-long key instead of the raw (band, 40-byte binary)
    # pair: binary grouping keys measured ~4x slower in HashAggregate,
    # and a single 64-bit key would produce ~1e7 false merges at
    # 10^12-doc scale; two independent 64-bit hashes (2^-128/pair) are
    # collision-safe at any realistic corpus size.
    keyed = bands.select(
        F.col(id_col),
        F.xxhash64("band", "hash").alias("k1"),
        F.xxhash64("hash", F.lit(0x9E3779B9), "band").alias("k2"),
    )
    return group_min_edges(keyed, id_col)


def group_min_edges(keyed: DataFrame, id_col: str = DOC_ID) -> DataFrame:
    """Distinct (src, dst) edges from every (id_col, k1, k2) row to its
    (k1, k2) group's minimum id; singleton groups emit nothing.

    Two rounds, so the 16-byte key crosses a shuffle only for the rows
    that can collide. The key travels as (hi, lo, k2), ``hi`` and ``lo``
    the high and low 32 bits of ``k1``. Round 1 counts rows per ``hi``
    with a map-side combine: one 4-byte key per row, and every ``hi``
    seen twice is a candidate, a superset of the colliding keys. Round 2
    semi-joins the rows to the candidates on ``hi`` and takes each
    (hi, lo, k2) group's minimum with a running min over its id-sorted
    rows. When the candidates are broadcast only their rows shuffle; a
    sort-merge semi-join shuffles every row once, by ``hi``, and the
    window reuses that partitioning. Of n band rows about n/2^32 are
    false candidates (2.8% at 1.2e8 rows): they only carry a few more
    rows into round 2, and round 1 saves more than they cost up to about
    1e9 rows. The edges depend on the full 128-bit key alone.
    """
    # arithmetic shifts keep both halves in int range, so the casts are
    # exact (a plain cast of the long raises under ANSI mode)
    split = keyed.select(
        F.col(id_col),
        F.shiftright("k1", 32).cast("int").alias("hi"),
        F.shiftright(F.shiftleft("k1", 32), 32).cast("int").alias("lo"),
        F.col("k2"),
    )
    candidates = split.groupBy("hi").count().filter(F.col("count") > 1).select("hi")
    group = Window.partitionBy("hi", "lo", "k2").orderBy(id_col)
    return (
        split.join(candidates, on="hi", how="leftsemi")
        .select(F.col(id_col).alias("src"), F.min(id_col).over(group).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )


def minhash_edges(sigs: DataFrame, id_col: str = DOC_ID) -> DataFrame:
    """MinHash's one edge builder: ``sigs`` carries ``id_col`` and a
    non-null SIG column; its band signatures are exploded and grouped
    into star edges (band_edges)."""
    return band_edges(sigs.select(F.col(id_col), F.posexplode(SIG).alias("band", "hash")), id_col)


def _signature_dedup(
    df: DataFrame,
    cfg: MinHashConfig,
    id_col: str,
    mode: str,
    edges_of: Callable[[DataFrame], DataFrame],
) -> DedupResult:
    """Signatures -> length filter -> ``edges_of(kept docs)`` -> the
    shared cluster-and-keep tail; minhash_dedup and jaccard_dedup differ
    only in ``edges_of``."""
    from sparkdedup.io import ensure_parallelism

    with_sig = ensure_parallelism(df).withColumn(
        SIG, make_signature_udf(cfg)(F.col(cfg.column))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    kept_docs = with_sig.filter(F.col(SIG).isNotNull())
    return cluster_keep(
        kept_docs.drop(SIG), edges_of(kept_docs), id_col, RunMetrics(mode), [with_sig]
    )


def minhash_dedup(
    df: DataFrame,
    cfg: MinHashConfig = MinHashConfig(),
    id_col: str = DOC_ID,
) -> DedupResult:
    """End-to-end MinHash-LSH dedup.

    ``df`` must already carry a stable long id column (``io.with_doc_id``
    + persist if synthesized). Returns surviving rows: docs below
    min_length are dropped; of each near-dup component the minimum-id
    row survives (minhash_spark.py:423-428, 524-528). Nothing is
    counted: see cc.cluster_keep for how the empty-graph exit stays free.
    """
    return _signature_dedup(df, cfg, id_col, "minhash", lambda s: minhash_edges(s, id_col))
