"""Exact-substring dedup (suffix-array-mode semantics, Spark-native).

Reference behavior (/root/reference/text_dedup/suffix_array.py): build a
suffix array over the concatenated corpus bytes (external google-research
tool), find duplicate byte ranges of length >= k appearing elsewhere in
the corpus ("self-similar" — ALL occurrences are removed), map ranges
back into per-doc slices, merge (suffix_array.py:31-128), splice the
bytes out (clean_up, suffix_array.py:270-299), drop emptied docs.

Spark-native redesign (SURVEY.md §7.4): a duplicated substring of
length >= k contains a duplicated k-byte window, and every duplicated
k-byte window IS a duplicated substring of length k. Therefore the
union of duplicated k-windows == the union of all duplicated substrings
of length >= k — exactly what the reference removes under its
"overlapping" merge.

Scale-safe two-pass pipeline (no per-byte rows ever shuffled with doc
ids, per-doc state bounded regardless of doc size):

  PASS A (detect): ``mapInPandas`` streams each doc in fixed-size byte
  chunks, computes 128-bit rolling fingerprints (two independent
  multiplicative Rabin-Karp hashes mod 2^64, odd bases => O(n)
  vectorized via invertible prefix products) of every k-byte window at
  the configured stride, and emits per-chunk *unique* fingerprints with
  counts — long format (h1, h2, cnt), never a giant nested array cell.
  groupBy(h1, h2).sum(cnt) with map-side combine yields the duplicated
  fingerprint set; shuffle volume is distinct-fingerprints-per-
  partition, NOT one row per corpus byte.

  PASS B (splice), size-gated on |dup_keys|:
  - broadcast path (|dup| <= max_broadcast_keys): the duplicated
    fingerprints are collected into a sorted 128-bit structured numpy
    array (16 B/key) and broadcast; a single scalar pandas UDF
    recomputes the rolling hashes chunk-by-chunk, tests membership via
    ``np.searchsorted``, run-length-merges hit offsets into
    (start, end) ranges on the fly, and splices — ZERO additional
    shuffle, O(chunk) peak memory per doc.
  - shuffle fallback (huge dup set): per-window (id, off) rows are
    re-emitted and semi-joined to dup_keys; a ``mapInPandas`` sorts
    bounded buffers of them in NumPy and run-length-merges each into
    partial (start, end) ranges (the broadcast path's rule), a per-doc
    window merges the partials, and only the merged ranges (bounded by
    doc_len/k disjoint runs, 1 for a fully-duplicated doc) are
    collected per doc.

stride=1 is exact; stride s>1 trades exactness for an s-fold volume
reduction and still guarantees detection of runs >= k+s-1.

Note on merge strategies: with fixed-length k-windows the reference's
"longest" strategy (drop contained intervals) never drops anything
(window stops strictly increase with starts) and clean_up removes the
union of overlapping slices anyway — both strategies coincide here;
the `strategy` config is accepted for API parity.

The corpus is fingerprinted twice (once per pass) by design: at 100 TB
recomputing a cheap O(n) hash beats materializing/shuffling a per-byte
table with doc ids (~24 B/corpus-byte ≈ 2 PB of shuffle).
"""

from __future__ import annotations

from typing import Iterator, List, Optional, Sequence, Tuple

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from sparkdedup.cc import DedupResult, RunMetrics
from sparkdedup.config import SubstringConfig
from sparkdedup.io import DOC_ID

_B1 = np.uint64(1000003)  # odd bases -> invertible mod 2^64
_B2 = np.uint64(998244353)

# 128-bit fingerprints travel as two parallel u64 arrays co-sorted by
# (h1, h2) — see _cosort_key_halves/_member_mask; a structured 16-byte
# dtype hits numpy's void-comparison slow paths in sort/searchsorted.


def _inv_u64(b: np.uint64) -> np.uint64:
    """Multiplicative inverse of an odd number mod 2^64 (Newton)."""
    x = np.uint64(1)
    with np.errstate(over="ignore"):
        for _ in range(6):
            x = x * (np.uint64(2) - b * x)
    return x


_B1_INV = _inv_u64(_B1)
_B2_INV = _inv_u64(_B2)


# Per-worker scratch buffers reused across rolling_hashes calls. This
# sandbox (and many overcommitted VMs) services first-touch page faults
# at ~10 MB/s — a fresh 32 MB temp costs seconds, a reused one
# microseconds. Spark Python workers execute one task at a time in one
# thread, so a module-level cache is safe; the buffers are sized to the
# largest chunk seen and amortize to zero.
_SCRATCH: dict = {}


def _scratch_u64(n: int, name: str) -> np.ndarray:
    buf = _SCRATCH.get(name)
    if buf is None or buf.size < n:
        _SCRATCH[name] = buf = np.empty(n, dtype=np.uint64)
    return buf[:n]


def rolling_hashes(data: np.ndarray, k: int, base: np.uint64, base_inv: np.uint64) -> np.ndarray:
    """All k-window hashes of a uint8 array, O(n) vectorized.

    h[i] = sum_{j<k} data[i+j] * base^j  (mod 2^64), computed as
    (S[i+k]-S[i]) * base^-i with S the prefix sum of data[j]*base^j.
    Only the returned array is freshly allocated; intermediates live in
    reused scratch buffers."""
    n = data.size
    if n < k:
        return np.empty(0, dtype=np.uint64)
    with np.errstate(over="ignore"):
        pows = _scratch_u64(n, "pows")
        pows[0] = 1
        pows[1:] = base
        np.cumprod(pows, out=pows)  # base^i
        m = n - k + 1
        inv_pows = _scratch_u64(m, "inv_pows")
        inv_pows[0] = 1
        inv_pows[1:] = base_inv
        np.cumprod(inv_pows, out=inv_pows)  # base^-i
        terms = _scratch_u64(n, "terms")
        np.multiply(data, pows, out=terms, casting="unsafe")
        prefix = _scratch_u64(n + 1, "prefix")
        prefix[0] = 0
        np.cumsum(terms, out=prefix[1:])
        out = np.empty(m, dtype=np.uint64)
        np.subtract(prefix[k:], prefix[:m], out=out)
        out *= inv_pows
        return out


def _chunk_span(cfg: SubstringConfig) -> int:
    """Windows per chunk, rounded to a stride multiple so global strided
    offsets stay aligned across chunk boundaries."""
    span = max(cfg.chunk_bytes, cfg.k)
    if cfg.stride > 1:
        span = max(cfg.stride, span - span % cfg.stride)
    return span


def iter_window_chunks(
    data: np.ndarray, cfg: SubstringConfig
) -> Iterator[Tuple[np.ndarray, np.ndarray, np.ndarray]]:
    """Yield (global_offsets, h1, h2) per fixed-size chunk of a doc's
    k-byte windows at the configured stride. Peak memory is O(chunk),
    independent of doc size."""
    n = data.size
    k = cfg.k
    if n < k:
        return
    total = n - k + 1
    span = _chunk_span(cfg)
    for c0 in range(0, total, span):
        length = min(span, total - c0)
        seg = data[c0 : c0 + length + k - 1]
        h1 = rolling_hashes(seg, k, _B1, _B1_INV)
        h2 = rolling_hashes(seg, k, _B2, _B2_INV)
        if cfg.stride > 1:
            h1 = h1[:: cfg.stride]
            h2 = h2[:: cfg.stride]
            offs = c0 + np.arange(h1.size, dtype=np.int64) * cfg.stride
        else:
            offs = c0 + np.arange(h1.size, dtype=np.int64)
        yield offs, h1, h2


def _cosort_key_halves(h1: np.ndarray, h2: np.ndarray) -> Tuple[np.ndarray, np.ndarray]:
    """Sort parallel u64 key halves by (h1, h2). One indirect argsort on
    h1 plus direct np.sort of h2 inside equal-h1 runs — runs longer
    than 1 are h1 collisions/repeats, rare for hash keys, so this beats
    np.lexsort (two indirect passes) ~3x and np.unique on a 16-byte
    structured dtype (void comparisons) ~25x.

    Heavily-repeated windows (near-duplicated text where most windows
    recur, e.g. everything appearing exactly twice) would make the
    per-run fixup ~runs interpreter iterations; past ~1/128 of the
    items being duplicate runs, fall back to the plain two-pass
    np.lexsort so the worst case stays a vectorized indirect sort."""
    order = np.argsort(h1, kind="stable")
    s1 = np.ascontiguousarray(h1[order])
    s2 = np.ascontiguousarray(h2[order])
    starts = np.flatnonzero(np.concatenate(([True], s1[1:] != s1[:-1])))
    lens = np.diff(np.append(starts, s1.size))
    dup = np.flatnonzero(lens > 1)
    if dup.size > max(64, s1.size >> 7):
        order = np.lexsort((h2, h1))
        return np.ascontiguousarray(h1[order]), np.ascontiguousarray(h2[order])
    for st, ln in zip(starts[dup], lens[dup]):
        s2[st : st + ln] = np.sort(s2[st : st + ln])
    return s1, s2


def _unique_counts(h1: np.ndarray, h2: np.ndarray) -> Tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(uniq_h1, uniq_h2, counts) over parallel u64 key halves."""
    if h1.size == 0:
        return h1, h2, np.empty(0, dtype=np.int64)
    s1, s2 = _cosort_key_halves(h1, h2)
    new = np.empty(s1.size, dtype=bool)
    new[0] = True
    np.logical_or(s1[1:] != s1[:-1], s2[1:] != s2[:-1], out=new[1:])
    idx = np.flatnonzero(new)
    counts = np.diff(np.append(idx, s1.size))
    return s1[idx], s2[idx], counts


def _member_mask(k1: np.ndarray, k2: np.ndarray, q1: np.ndarray, q2: np.ndarray) -> np.ndarray:
    """Membership of query keys (q1, q2) in the co-sorted key set
    (k1, k2): vectorized double binary search on the first half, second
    half verified at the hit position; h1-collision runs in the KEY set
    (|dup|^2/2^64 — effectively never) fall to a tiny loop."""
    lo = np.searchsorted(k1, q1, side="left")
    hi = np.searchsorted(k1, q1, side="right")
    hit = np.zeros(q1.size, dtype=bool)
    one = (hi - lo) == 1
    if one.any():
        hit[one] = k2[lo[one]] == q2[one]
    for i in np.flatnonzero(hi - lo > 1):
        hit[i] = bool(np.any(k2[lo[i] : hi[i]] == q2[i]))
    return hit


_FP_SCHEMA = StructType(
    [
        StructField("h1", LongType()),
        StructField("h2", LongType()),
        StructField("cnt", LongType()),
    ]
)

_EMIT_ROWS = 1 << 18  # flush accumulated fingerprint rows per ~256k


def make_fingerprint_counts(cfg: SubstringConfig):
    """mapInPandas fn: docs -> long-format (h1, h2, cnt) with per-chunk
    unique+count pre-aggregation (intra-doc repeats carry their count so
    corpus-level c>1 includes them, matching suffix-array behavior)."""
    column = cfg.column

    def fingerprint_counts(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from sparkdedup.tuning import tune_worker_memory

        tune_worker_memory()
        acc_h1: List[np.ndarray] = []
        acc_h2: List[np.ndarray] = []
        acc_c: List[np.ndarray] = []
        acc_n = 0

        def flush() -> pd.DataFrame:
            nonlocal acc_n
            frame = pd.DataFrame(
                {
                    "h1": np.concatenate(acc_h1).view(np.int64),
                    "h2": np.concatenate(acc_h2).view(np.int64),
                    "cnt": np.concatenate(acc_c),
                }
            )
            acc_h1.clear()
            acc_h2.clear()
            acc_c.clear()
            acc_n = 0
            return frame

        for pdf in batches:
            for t in pdf[column]:
                if t is None:
                    continue
                data = np.frombuffer(t.encode("utf-8"), dtype=np.uint8)
                for _offs, h1, h2 in iter_window_chunks(data, cfg):
                    # probe reduction potential with a cheap direct sort
                    # (~10x faster than the indirect cosort): chunks that
                    # are mostly unique gain nothing from pre-aggregation
                    # — emit raw cnt=1 rows and let the JVM's map-side
                    # partial HashAggregate do the (non-)reduction.
                    if h1.size >= 1 << 16:
                        s = _scratch_u64(h1.size, "probe")
                        s[:] = h1
                        s.sort()
                        n_u1 = 1 + int(np.count_nonzero(s[1:] != s[:-1]))
                    else:
                        n_u1 = 0  # small chunk: exact path is cheap
                    if n_u1 > 0.75 * h1.size:
                        u1, u2 = h1, h2
                        counts = np.ones(h1.size, dtype=np.int64)
                    else:
                        u1, u2, counts = _unique_counts(h1, h2)
                    acc_h1.append(u1)
                    acc_h2.append(u2)
                    acc_c.append(counts.astype(np.int64))
                    acc_n += u1.size
                    if acc_n >= _EMIT_ROWS:
                        yield flush()
        if acc_n:
            yield flush()

    return fingerprint_counts


def _run_bounds(
    offs: np.ndarray, k: int, split: Optional[np.ndarray] = None
) -> Tuple[np.ndarray, np.ndarray]:
    """(first, last) indices of each run of sorted window offsets whose
    gaps are <= k; ``split[i]`` also ends a run between items i and i+1."""
    cut = np.diff(offs) > k
    if split is not None:
        cut |= split
    breaks = np.flatnonzero(cut)
    return np.concatenate(([0], breaks + 1)), np.append(breaks, offs.size - 1)


def merge_offsets_to_ranges(offs: np.ndarray, k: int) -> List[Tuple[int, int]]:
    """Run-length-merge sorted window offsets into disjoint (start, end)
    byte ranges covering the union of [off, off+k)."""
    if offs.size == 0:
        return []
    first, last = _run_bounds(offs, k)
    return list(zip(offs[first].tolist(), (offs[last] + k).tolist()))


def splice_ranges(data: bytes, ranges: Sequence[Tuple[int, int]]) -> str:
    """Remove sorted disjoint (start, end) byte ranges (reference
    clean_up semantics, suffix_array.py:270-299; lossy utf-8 decode)."""
    parts = []
    pos = 0
    for s, e in ranges:
        parts.append(data[pos:s])
        pos = e
    parts.append(data[pos:])
    return b"".join(parts).decode("utf-8", errors="ignore")


def splice_out(text: str, offsets: List[int], k: int) -> str:
    """Remove the union of [off, off+k) byte ranges given raw window
    offsets (kept for unit tests / external callers)."""
    offs = np.asarray(sorted(offsets), dtype=np.int64)
    return splice_ranges(text.encode("utf-8"), merge_offsets_to_ranges(offs, k))


def _append_merged(ranges: List[Tuple[int, int]], fresh: List[Tuple[int, int]]) -> None:
    """Append already-merged chunk-local ranges, coalescing across the
    chunk boundary (offsets only ever increase)."""
    for s, e in fresh:
        if ranges and s <= ranges[-1][1]:
            if e > ranges[-1][1]:
                ranges[-1] = (ranges[-1][0], e)
        else:
            ranges.append((s, e))


def _splice_text_broadcast(t: Optional[str], keys: np.ndarray, cfg: SubstringConfig) -> Optional[str]:
    """One doc through membership + range merge + splice (streamed
    chunk-by-chunk; never materializes full-doc hash arrays)."""
    if t is None:
        return t
    k1, k2 = keys
    raw = t.encode("utf-8")
    data = np.frombuffer(raw, dtype=np.uint8)
    ranges: List[Tuple[int, int]] = []
    if k1.size:
        for offs, h1, h2 in iter_window_chunks(data, cfg):
            hit = _member_mask(k1, k2, h1, h2)
            if hit.any():
                _append_merged(ranges, merge_offsets_to_ranges(offs[hit], cfg.k))
    return splice_ranges(raw, ranges) if ranges else t


def make_broadcast_splice_mapper(cfg: SubstringConfig, bc_keys):
    """mapInPandas fn: splice + drop-emptied docs in ONE pass. (A
    scalar UDF plus a length filter evaluates the expensive splice UDF
    TWICE — Catalyst duplicates Python UDFs referenced by both a
    Filter and a Project.)"""
    column = cfg.column

    def splice_batches(batches):
        from sparkdedup.tuning import tune_worker_memory

        tune_worker_memory()
        keys = bc_keys.value
        for pdf in batches:
            pdf = pdf.copy()
            pdf[column] = [_splice_text_broadcast(t, keys, cfg) for t in pdf[column]]
            mask = pdf[column].map(lambda t: t is not None and len(t) > 0)
            yield pdf[mask]

    return splice_batches


def make_range_splice_mapper(cfg: SubstringConfig):
    """mapInPandas fn for the shuffle fallback: rows carry a
    ``__ranges__`` column (sorted disjoint (start,end) structs or null);
    splice + drop-emptied in one pass, ranges column dropped."""
    column = cfg.column

    def _splice_row(t, rs):
        if rs is None or len(rs) == 0 or t is None:
            return t
        return splice_ranges(t.encode("utf-8"), [(r["start"], r["end"]) for r in rs])

    def splice_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from sparkdedup.tuning import tune_worker_memory

        tune_worker_memory()
        cols = None
        for pdf in batches:
            if cols is None:
                cols = [c for c in pdf.columns if c != "__ranges__"]
            pdf = pdf.copy()
            pdf[column] = [_splice_row(t, rs) for t, rs in zip(pdf[column], pdf["__ranges__"])]
            mask = pdf[column].map(lambda t: t is not None and len(t) > 0)
            yield pdf.loc[mask, cols]

    return splice_batches


_WIN_SCHEMA = StructType(
    [
        StructField("h1", LongType()),
        StructField("h2", LongType()),
        StructField("off", LongType()),
    ]
)


def make_window_rows(cfg: SubstringConfig, id_col: str):
    """mapInPandas fn for the shuffle fallback: docs -> (id, h1, h2, off)
    rows, streamed chunk-by-chunk (bounded memory, no giant array cells)."""
    column = cfg.column

    def window_rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from sparkdedup.tuning import tune_worker_memory

        tune_worker_memory()
        for pdf in batches:
            for doc_id, t in zip(pdf[id_col], pdf[column]):
                if t is None:
                    continue
                data = np.frombuffer(t.encode("utf-8"), dtype=np.uint8)
                for offs, h1, h2 in iter_window_chunks(data, cfg):
                    yield pd.DataFrame(
                        {
                            id_col: np.full(offs.size, doc_id, dtype=np.int64),
                            "h1": h1.view(np.int64),
                            "h2": h2.view(np.int64),
                            "off": offs,
                        }
                    )

    return window_rows


def _detect_dup_keys(df: DataFrame, cfg: SubstringConfig) -> DataFrame:
    """PASS A: duplicated 128-bit window fingerprints with their corpus
    occurrence counts. Shuffle volume = distinct fingerprints/partition."""
    fps = df.select(cfg.column).mapInPandas(make_fingerprint_counts(cfg), schema=_FP_SCHEMA)
    return (
        fps.groupBy("h1", "h2")
        .agg(F.sum("cnt").alias("c"))
        .filter(F.col("c") > 1)
    )


def apply_substring_splice(
    df: DataFrame,
    dup_keys: DataFrame,
    cfg: SubstringConfig,
    id_col: str = DOC_ID,
    n_dup: Optional[int] = None,
) -> Tuple[DataFrame, str]:
    """PASS B: splice the duplicated windows out of ``df`` given the
    (h1, h2[, c]) duplicated-fingerprint table (possibly re-read from a
    staged parquet). Returns (kept rows with empties dropped, path).

    ``n_dup=None`` means unknown: the size probe and the broadcast-path
    collection are then ONE job — ``limit(max_broadcast_keys+1)
    .toPandas()`` both answers "does the dup set fit?" and, when it
    does, already holds the keys (the old shape paid a separate count
    action, i.e. one extra full PASS-A evaluation per call)."""
    pds = None
    if n_dup is None:
        pds = dup_keys.select("h1", "h2").limit(cfg.max_broadcast_keys + 1).toPandas()
        n_dup = len(pds)
        if n_dup > cfg.max_broadcast_keys:
            n_dup = cfg.max_broadcast_keys + 1  # over the gate; exact count unknown
            pds = None

    if n_dup <= cfg.max_broadcast_keys:
        if n_dup:
            if pds is None:
                pds = dup_keys.select("h1", "h2").toPandas()
            keys = _cosort_key_halves(
                np.ascontiguousarray(pds["h1"].to_numpy()).view(np.uint64),
                np.ascontiguousarray(pds["h2"].to_numpy()).view(np.uint64),
            )
        else:
            keys = (np.empty(0, dtype=np.uint64), np.empty(0, dtype=np.uint64))
        bc = df.sparkSession.sparkContext.broadcast(keys)
        if n_dup:
            kept = df.mapInPandas(make_broadcast_splice_mapper(cfg, bc), schema=df.schema)
        else:
            kept = df.filter(F.length(F.col(cfg.column)) > 0)
        path = "broadcast"
    else:
        wins = df.select(id_col, cfg.column).mapInPandas(
            make_window_rows(cfg, id_col),
            schema=StructType(
                [StructField(id_col, LongType())] + list(_WIN_SCHEMA.fields)
            ),
        )
        dup_wins = wins.join(dup_keys.select("h1", "h2"), on=["h1", "h2"], how="leftsemi")
        ranges = _dup_ranges(dup_wins, cfg, id_col)
        per_doc = ranges.groupBy(id_col).agg(
            F.sort_array(F.collect_list(F.struct("start", "end"))).alias("__ranges__")
        )
        joined = df.join(per_doc, on=id_col, how="left")
        kept = joined.mapInPandas(
            make_range_splice_mapper(cfg), schema=joined.drop("__ranges__").schema
        )
        path = "shuffle"
    return kept, path


# (id, off) rows per NumPy collapse buffer: bounds the collapse
# mapper's memory (~16 B/row plus the sort's index) whatever the doc
# sizes, and sets how many partial ranges reach the per-doc merge (a
# fully duplicated doc of n windows in offset order -> ~n / this).
_COLLAPSE_ROWS = 1 << 20


def _make_run_collapse(k: int, id_col: str):
    """mapInPandas fn: (id, off) rows in any order -> one (id, start,
    end) range per run of a doc's offsets with gaps <= k inside each
    buffer of ``_COLLAPSE_ROWS`` rows (read when the fn is built)."""
    limit = _COLLAPSE_ROWS

    def collapse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from sparkdedup.tuning import tune_worker_memory

        tune_worker_memory()
        ids: List[np.ndarray] = []
        offs: List[np.ndarray] = []
        n = 0

        def flush() -> pd.DataFrame:
            i, o = np.concatenate(ids), np.concatenate(offs)
            ids.clear()
            offs.clear()
            order = np.lexsort((o, i))
            i, o = i[order], o[order]
            first, last = _run_bounds(o, k, i[1:] != i[:-1])
            return pd.DataFrame({id_col: i[first], "start": o[first], "end": o[last] + k})

        for pdf in batches:
            ids.append(pdf[id_col].to_numpy(dtype=np.int64))
            offs.append(pdf["off"].to_numpy(dtype=np.int64))
            n += len(pdf)
            if n >= limit:
                yield flush()
                n = 0
        if n:
            yield flush()

    return collapse


def _dup_ranges(dup_wins: DataFrame, cfg: SubstringConfig, id_col: str) -> DataFrame:
    """(id, start, end) disjoint merged duplicate byte ranges from
    per-window (id, off) rows. Each mapper buffer collapses to partial
    ranges in NumPy, so no JVM row or group ever holds a doc's window
    offsets. Partial ranges from different buffers or shuffle
    partitions can interleave, so the per-doc merge opens a new range
    only where ``start`` passes the running max of every earlier
    ``end`` (offsets are unique per doc, so starts never tie)."""
    from pyspark.sql import Window

    parts = dup_wins.select(id_col, "off").mapInPandas(
        _make_run_collapse(cfg.k, id_col),
        schema=StructType(
            [StructField(c, LongType()) for c in (id_col, "start", "end")]
        ),
    )
    w = Window.partitionBy(id_col).orderBy("start")
    reach = F.max("end").over(w.rowsBetween(Window.unboundedPreceding, -1))
    merged = parts.withColumn(
        "__new__", F.when(F.col("start") > reach, F.lit(1)).otherwise(F.lit(0))
    ).withColumn("__range__", F.sum("__new__").over(w))
    return merged.groupBy(id_col, "__range__").agg(
        F.min("start").alias("start"), F.max("end").alias("end")
    )


def substring_dedup(
    df: DataFrame,
    cfg: SubstringConfig = SubstringConfig(),
    id_col: str = DOC_ID,
) -> DedupResult:
    """Remove every byte range (length >= k) whose content appears more
    than once in the corpus; drop emptied docs. The result has no
    assignment; its metrics record the ``splice_path``."""
    from sparkdedup.io import ensure_parallelism

    df = ensure_parallelism(df).persist(StorageLevel.MEMORY_AND_DISK)
    dup_keys = _detect_dup_keys(df, cfg).persist(StorageLevel.MEMORY_AND_DISK)
    # n_dup unknown: apply_substring_splice fuses the size probe with
    # the broadcast-path key collection into one job
    kept, path = apply_substring_splice(df, dup_keys, cfg, id_col)
    m = RunMetrics("substring", facts={"splice_path": path})
    if path == "broadcast":
        dup_keys.unpersist()  # collected to driver; drop the cache now
        return DedupResult(kept, None, m, [df])
    return DedupResult(kept, None, m, [df, dup_keys])
