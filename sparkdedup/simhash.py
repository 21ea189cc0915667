"""SimHash near-duplicate detection.

Reference semantics (/root/reference/text_dedup/simhash.py): char
n-gram shingles → per-shingle f-bit hash (f in {64,128},
simhash.py:243-270 via xxh3_64/xxh3_128; ours: pinned vendored xxh64,
two independent seeds concatenated for f=128) → bit-majority
fingerprint (`compute`, simhash.py:273-301) → block-permutation bucket
keys (Permutation/_create_permutations, simhash.py:69-240: f bits split
into `num_bucket` blocks; one permutation per ORDERED choice of (b-k)
leading blocks; bucket key = (search_mask, permuted_fp & mask)) →
within-bucket pairs with Hamming distance <= bit_diff are unioned
(simhash.py:408-434).

Spark-first design:
  * fingerprints: ONE pandas UDF — shingles are hashed in vectorized
    xxh64 calls; like the MinHash signatures, fixed _BIT_CHUNK slices
    of the batch's concatenated hashes go through one helper
    (``shingle.fold_segments``: (S, f) bit matrix, then
    ``np.add.reduceat`` per doc), so peak memory is O(chunk × f)
    whatever the document sizes.
  * bucket keys: JVM-side bit extraction from driver-precomputed block
    layouts, one xxhash64 long per ordered permutation over
    (pidx, leading block values). Including the permutation index
    matches the reference's key identity (its search_mask pins the
    block set); hash collisions only ADD candidates, which the exact
    Hamming verify below removes.
  * mega-cluster skew, two layers:
    (1) identical fingerprints are collapsed to one representative
        BEFORE the bucket self-join (star edges cover the rest);
    (2) buckets larger than `max_bucket_size` are split EXACTLY via
        pigeonhole refinement: all <= bit_diff differing bits of an
        in-bucket pair lie in the f-mask remaining bits, so carving
        that region into (bit_diff+1) sub-ranges guarantees the pair
        agrees on at least one — sub-bucketing by each sub-range
        (bit_diff+1 probes per fingerprint) loses NO pairs while
        cutting a uniform n-bucket's pair count by ~2^(W/(k+1))/(k+1).
  * Hamming verify: built-in ``bit_count(a ^ b) <= k`` (codegen);
    f=128 fingerprints are struct<hi,lo> longs, verified per half.
"""

from __future__ import annotations

from itertools import permutations as iter_permutations
from typing import List, Optional, Sequence, Tuple

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import LongType, StructField, StructType

from sparkdedup.cc import DedupResult, RunMetrics, cluster_keep
from sparkdedup.config import SimHashConfig
from sparkdedup.io import DOC_ID
from sparkdedup.shingle import char_shingle_hashes64_batch, char_shingle_hashes128_batch, fold_segments

FP = "__fp__"

# shingles per bit-matrix slice: (S, f) uint8 at f=128 is 8 KB/shingle
# row-group; 64k shingles ≈ 8 MB peak — L3-resident per worker.
_BIT_CHUNK = 1 << 16

# oversized-bucket keys routed via in-set literals up to this many;
# beyond it (pathological) fall back to broadcast-join routing
_MAX_INSET_KEYS = 10_000


# --- block/permutation layout (driver-side, plain ints) ------------------


def block_layout(f: int, b: int) -> List[Tuple[int, int]]:
    """(width, start_bit) per block.

    Replicates the reference's actual layout loop
    (_create_permutations, simhash.py:213-230): repeated ceil(f/b)-wide
    blocks, the last truncated at f (the min/max solver result is
    computed there but never applied — `x` is not decremented), so e.g.
    f=64,b=3 gives widths [22,22,20]."""
    import math

    max_w = math.ceil(f / b)
    blocks = []
    start = 0
    for _ in range(b):
        if start >= f:
            break
        w = min(max_w, f - start)
        blocks.append((w, start))
        start += w
    assert sum(w for w, _ in blocks) == f
    return blocks


def permutation_layouts(
    f: int, k: int, b: int
) -> List[Tuple[List[Tuple[int, int]], List[Tuple[int, int]]]]:
    """Per ordered permutation: (leading b-k blocks, remaining blocks),
    each as [(width, start_bit), ...]."""
    blocks = block_layout(f, b)
    out = []
    for leading in iter_permutations(range(len(blocks)), b - k):
        chosen = [blocks[i] for i in leading]
        remaining = [blocks[i] for i in range(len(blocks)) if i not in leading]
        out.append((chosen, remaining))
    return out


def permutation_keys(f: int, k: int, b: int) -> List[Tuple[int, List[Tuple[int, int]]]]:
    """One entry per permutation: (mask_width, [(width, start_bit), ...]
    of its leading b-k blocks in order). Kept for tests/API parity."""
    return [
        (sum(w for w, _ in chosen), chosen) for chosen, _ in permutation_layouts(f, k, b)
    ]


def _extract_bits(fp_cols: Sequence[Column], f: int, start: int, width: int) -> Column:
    """Bits [start, start+width) of the f-bit fingerprint, MSB-first
    (bit 0 = MSB of the first long), as a long. fp_cols is [fp] for
    f=64 or [hi, lo] for f=128."""
    if f == 64:
        c = fp_cols[0]
        sh = 64 - start - width
        v = F.shiftrightunsigned(c, sh) if sh else c
        if width >= 64:
            return v
        return v.bitwiseAND(F.lit((1 << width) - 1).cast("long"))
    hi, lo = fp_cols
    if start + width <= 64:
        return _extract_bits([hi], 64, start, width)
    if start >= 64:
        return _extract_bits([lo], 64, start - 64, width)
    lo_bits = start + width - 64  # taken from lo's top
    hi_bits = 64 - start  # taken from hi's bottom
    hi_part = hi.bitwiseAND(F.lit((1 << hi_bits) - 1).cast("long"))
    return F.shiftleft(hi_part, lo_bits).bitwiseOR(
        F.shiftrightunsigned(lo, 64 - lo_bits)
    )


def bucket_key_columns(fp_cols: Sequence[Column], f: int, k: int, b: int) -> List[Column]:
    """One hashed long bucket key per ordered permutation. Key identity
    = (permutation index, leading block values) — the reference's
    (search_mask, permuted fp) pair. xxhash64 collisions only add
    candidates; the Hamming verify removes them."""
    keys = []
    for pidx, (chosen, _rem) in enumerate(permutation_layouts(f, k, b)):
        vals = [_extract_bits(fp_cols, f, s, w) for (w, s) in chosen]
        keys.append(F.xxhash64(F.lit(pidx), *vals))
    return keys


def refine_key_columns(
    fp_cols: Sequence[Column], f: int, k: int, b: int
) -> List[List[Column]]:
    """Per permutation: k+1 hashed sub-keys carved from its REMAINING
    bits. Exactness (pigeonhole): a pair sharing the bucket agrees on
    all mask bits, so its <= k differing bits all lie in the remaining
    W = f - mask_width bits; k+1 disjoint sub-ranges => at least one
    sub-range has zero differences => the pair shares that sub-key."""
    out = []
    for _pidx, (_chosen, remaining) in enumerate(permutation_layouts(f, k, b)):
        total = sum(w for w, _ in remaining)
        parts = k + 1
        bounds = [round(total * i / parts) for i in range(parts + 1)]
        subcols = []
        for si in range(parts):
            lo_b, hi_b = bounds[si], bounds[si + 1]
            pieces = []
            pos = 0
            for w, s in remaining:
                ov_lo, ov_hi = max(lo_b, pos), min(hi_b, pos + w)
                if ov_lo < ov_hi:
                    pieces.append(_extract_bits(fp_cols, f, s + (ov_lo - pos), ov_hi - ov_lo))
                pos += w
            subcols.append(F.xxhash64(F.lit(si), *pieces))
        out.append(subcols)
    return out


# --- fingerprint computation ----------------------------------------------


def _bits_matrix(arr: np.ndarray, f: int) -> np.ndarray:
    """(S, f) uint8 bit matrix, MSB-first, from (S,) u64 (f=64) or
    (S, 2) u64 hi/lo (f=128)."""
    return np.unpackbits(
        np.ascontiguousarray(arr).byteswap().view(np.uint8).reshape(-1, f // 8), axis=1
    )


def _pack_words(maj: np.ndarray) -> Tuple[int, ...]:
    """f MSB-first majority bits -> f//64 signed 64-bit words."""
    by = np.packbits(maj)
    words = []
    for i in range(0, by.size, 8):
        v = int.from_bytes(by[i : i + 8].tobytes(), "big")
        words.append(v - (1 << 64) if v >= 1 << 63 else v)
    return tuple(words)


def _fingerprint_words(
    texts: List[str], cfg: SimHashConfig
) -> List[Optional[Tuple[int, ...]]]:
    """Bit-majority fingerprints as f//64 signed long words per doc
    (None = too short). Majority rule matches the reference: bit set
    iff sum(2*bit - 1) > 0 over shingles (ties -> 0, simhash.py:297-298).

    Per-doc bit counts are summed over fixed _BIT_CHUNK-shingle slices
    of the batch by the shared ``shingle.fold_segments`` loop, so peak
    memory is O(_BIT_CHUNK * f) whatever the document sizes."""
    f = cfg.f
    hashes_batch = char_shingle_hashes64_batch if f == 64 else char_shingle_hashes128_batch
    per_doc = hashes_batch(texts, cfg.ngram, cfg.min_length)
    init = np.zeros((len(texts), f), dtype=np.int64)
    ones = fold_segments(per_doc, lambda h: _bits_matrix(h, f), np.add, init, _BIT_CHUNK)
    counts = np.array([0 if h is None else len(h) for h in per_doc])
    maj = 2 * ones - counts[:, None] > 0
    return [None if h is None else _pack_words(m) for h, m in zip(per_doc, maj)]


def compute_fingerprints(texts: List[str], cfg: SimHashConfig) -> List[Optional[int]]:
    """f=64 fingerprints as signed longs (golden-test-pinned API)."""
    assert cfg.f == 64
    return [w if w is None else w[0] for w in _fingerprint_words(texts, cfg)]


_FP128_SCHEMA = StructType([StructField("hi", LongType()), StructField("lo", LongType())])


def make_fingerprint_udf(cfg: SimHashConfig):
    """Arrow-batched UDF: content -> fingerprint, a long (f=64) or a
    struct<hi, lo> (f=128); null = too short to fingerprint.

    Runs once per row in every plan: both branches are flagged
    non-deterministic, so the ``_fp_not_null`` filter callers put after
    it is not rewritten into a second ArrowEvalPython of the same call."""
    if cfg.f == 64:

        @pandas_udf(LongType())
        def fingerprint(texts: pd.Series) -> pd.Series:
            from sparkdedup.tuning import tune_worker_memory

            tune_worker_memory()
            return pd.Series(compute_fingerprints(texts.tolist(), cfg), dtype="object")

        # pure; the flag only stops Catalyst copying the call into a
        # pushed-down filter
        return fingerprint.asNondeterministic()

    @pandas_udf(_FP128_SCHEMA)
    def fingerprint128(texts: pd.Series) -> pd.DataFrame:
        from sparkdedup.tuning import tune_worker_memory

        tune_worker_memory()
        words = _fingerprint_words(texts.tolist(), cfg)
        return pd.DataFrame(
            {
                "hi": pd.Series([None if w is None else w[0] for w in words], dtype="object"),
                "lo": pd.Series([None if w is None else w[1] for w in words], dtype="object"),
            }
        )

    # pure; the flag only stops Catalyst copying the call into a
    # pushed-down filter
    return fingerprint128.asNondeterministic()


# --- pipeline ------------------------------------------------------------


def _fp_cols(cfg: SimHashConfig) -> List[Column]:
    if cfg.f == 64:
        return [F.col(FP)]
    return [F.col(FP)["hi"], F.col(FP)["lo"]]


def _fp_not_null(cfg: SimHashConfig) -> Column:
    if cfg.f == 64:
        return F.col(FP).isNotNull()
    return F.col(FP)["hi"].isNotNull()


def _hamming(cfg: SimHashConfig, a: str, b: str) -> Column:
    if cfg.f == 64:
        return F.bit_count(F.col(a).bitwiseXOR(F.col(b)))
    return F.bit_count(F.col(a)["hi"].bitwiseXOR(F.col(b)["hi"])) + F.bit_count(
        F.col(a)["lo"].bitwiseXOR(F.col(b)["lo"])
    )


def simhash_edges(fps: DataFrame, cfg: SimHashConfig, id_col: str = DOC_ID) -> DataFrame:
    """Edges between docs with bucket-key collision AND Hamming <= k.

    fps: DataFrame[id_col, __fp__] with __fp__ long (f=64) or
    struct<hi,lo> (f=128), non-null.
    """
    # 1) collapse identical fingerprints: star edges to the min id
    reps = fps.groupBy(FP).agg(F.min(id_col).alias("rep"), F.count(F.lit(1)).alias("cnt"))
    zero_edges = (
        fps.join(reps.filter(F.col("cnt") > 1).drop("cnt"), on=FP)
        .filter(F.col(id_col) != F.col("rep"))
        .select(F.col(id_col).alias("src"), F.col("rep").alias("dst"))
    )

    # 2) bucket join over DISTINCT fingerprints only
    distinct = reps.select("rep", FP)
    cols = _fp_cols(cfg)
    keys = bucket_key_columns(cols, cfg.f, cfg.bit_diff, cfg.num_bucket)
    bucketed = distinct.select(
        "rep", FP, F.posexplode(F.array(*keys)).alias("pidx", "key")
    )

    def pair_candidates(side: DataFrame) -> DataFrame:
        a = side.alias("a")
        b = (
            side.withColumnRenamed("rep", "rep_b")
            .withColumnRenamed(FP, "__fp_b__")
            .alias("b")
        )
        return a.join(b, on=[c for c in side.columns if c not in ("rep", FP)]).filter(
            F.col("rep") < F.col("rep_b")
        )

    if cfg.max_bucket_size is None:
        cands = pair_candidates(bucketed.drop("pidx").select("rep", FP, "key"))
    else:
        # split oversized buckets exactly (pigeonhole sub-ranges of the
        # remaining bits — no recall loss, see refine_key_columns).
        # The oversized-key set is tiny by definition (< n_fps*perms/cap
        # keys), so probe it with ONE aggregation job and route by
        # in-set literals — the common case (no mega-buckets) then runs
        # the plain single-join plan with zero extra joins. Only a
        # pathological key count (> _MAX_INSET_KEYS) falls back to
        # broadcast-join routing.
        big_rows = (
            bucketed.groupBy("key")
            .agg(F.count(F.lit(1)).alias("__bsz__"))
            .filter(F.col("__bsz__") > cfg.max_bucket_size)
            .select("key")
            .limit(_MAX_INSET_KEYS + 1)
            .collect()
        )
        if not big_rows:
            cands = pair_candidates(bucketed.drop("pidx").select("rep", FP, "key"))
        else:
            if len(big_rows) <= _MAX_INSET_KEYS:
                is_big = F.col("key").isin([r["key"] for r in big_rows])
                small = bucketed.filter(~is_big).select("rep", FP, "key")
                big = bucketed.filter(is_big)
            else:  # pragma: no cover — needs >10k mega-buckets
                big_keys = (
                    bucketed.groupBy("key")
                    .agg(F.count(F.lit(1)).alias("__bsz__"))
                    .filter(F.col("__bsz__") > cfg.max_bucket_size)
                    .select("key")
                )
                small = bucketed.join(
                    F.broadcast(big_keys), on="key", how="left_anti"
                ).select("rep", FP, "key")
                big = bucketed.join(F.broadcast(big_keys), on="key", how="leftsemi")
            sub_lists = refine_key_columns(cols, cfg.f, cfg.bit_diff, cfg.num_bucket)
            sub_matrix = F.array(*[F.array(*subs) for subs in sub_lists])
            big_sub = big.select(
                "rep",
                FP,
                "key",
                F.explode(F.element_at(sub_matrix, F.col("pidx") + 1)).alias("skey"),
            )
            cands = pair_candidates(small).unionByName(pair_candidates(big_sub).drop("skey"))

    # Hamming verify BEFORE any dedup: bit_count on 1-2 longs is
    # codegen-free-ish per row, so verifying a pair once per colliding
    # permutation costs less than shuffling the multiplicity through a
    # dedup exchange first. The terminal dropDuplicates below already
    # dedupes across permutations AND against the star edges — the
    # previous inner dropDuplicates was a second full exchange of the
    # candidate set for nothing.
    pair_edges = (
        cands.select("rep", "rep_b", FP, "__fp_b__")
        .filter(_hamming(cfg, FP, "__fp_b__") <= cfg.bit_diff)
        .select(F.col("rep_b").alias("src"), F.col("rep").alias("dst"))
    )
    return zero_edges.unionByName(pair_edges).dropDuplicates(["src", "dst"])


def simhash_dedup(
    df: DataFrame,
    cfg: SimHashConfig = SimHashConfig(),
    id_col: str = DOC_ID,
) -> DedupResult:
    """End-to-end SimHash dedup; min-id representative of each cluster
    survives (cluster==index filter, simhash.py:447-452). Docs too
    short to fingerprint are kept as unique."""
    from sparkdedup.io import ensure_parallelism

    with_fp = ensure_parallelism(df).withColumn(
        FP, make_fingerprint_udf(cfg)(F.col(cfg.column))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    fps = with_fp.filter(_fp_not_null(cfg)).select(F.col(id_col), FP)
    return cluster_keep(
        with_fp.drop(FP), simhash_edges(fps, cfg, id_col), id_col, RunMetrics("simhash"), [with_fp]
    )
