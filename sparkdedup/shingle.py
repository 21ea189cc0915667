"""Shingling: word/char n-grams over document batches (pandas UDF bodies).

Semantics are pinned to the reference:
  * word shingles: ``re.split(r"\\W", content.lower())`` tokens, sliding
    n-grams joined with a single space and lower-cased again; documents
    with fewer than ``min_length`` tokens produce NO shingles; documents
    with fewer than ``n`` tokens produce one whole-document shingle
    (/root/reference/text_dedup/minhash_spark.py:108-137,
    /root/reference/text_dedup/utils/tokenization.py:8-45).
  * char shingles (SimHash): n-grams over raw characters, ""-joined and
    lower-cased (/root/reference/text_dedup/simhash.py:339).

Hot-path design (the 100TB-critical part): for ASCII documents —
virtually all source code — NO per-shingle Python objects are created.
Key identity: splitting on single ``\\W`` chars and re-joining n
consecutive tokens with one space means every shingle string is exactly
a SLICE of ``S`` = content.lower() with each non-word byte replaced by
a space. So we byte-translate the document once (C pass), find token
boundaries with NumPy, and hash all shingles as (offset, length) spans
of one flat buffer (hashing.xxh32_spans). Non-ASCII documents fall back
to the faithful Python-string path (``\\W`` must be evaluated under
re.UNICODE there).
"""

from __future__ import annotations

import re
from typing import Callable, List, Optional, Sequence, Tuple

import numpy as np

from sparkdedup.hashing import xxh32_spans, xxh64_spans

# Python \W with re.UNICODE — the reference's NON_ALPHA
# (minhash_spark.py:34). The Java-regex equivalent used for pure-column
# token counting is '(?U)\\W'.
NON_ALPHA = re.compile(r"\W", re.UNICODE)

# ASCII translate table: word bytes [a-z0-9_] pass, [A-Z] lower-cased,
# every other byte -> space. On ASCII input this makes
# translated[start:end] == " ".join-of-lowered-tokens slices.
_WORD_TRANS = bytes(
    (b + 32) if 65 <= b <= 90  # A-Z -> a-z
    else b if (97 <= b <= 122 or 48 <= b <= 57 or b == 95)  # a-z 0-9 _
    else 32
    for b in range(256)
)

_LOWER_TRANS = bytes((b + 32) if 65 <= b <= 90 else b for b in range(256))


def word_shingles(text: str, n: int, min_length: int) -> Optional[set]:
    """Distinct word n-gram shingles of one document, or None if the
    document has fewer than ``min_length`` tokens (filter semantics,
    minhash_spark.py:140-168). Reference-faithful slow path."""
    tokens = NON_ALPHA.split(text.lower())
    if len(tokens) < min_length:
        return None
    if len(tokens) < n:
        return {" ".join(tokens).lower().encode("utf-8")}
    join = " ".join
    return {join(tokens[i : i + n]).lower().encode("utf-8") for i in range(len(tokens) - n + 1)}


def char_shingles(text: str, n: int, min_length: int = 5) -> Optional[set]:
    """Distinct char n-gram shingles (SimHash, simhash.py:339)."""
    if len(text) < min_length:
        return None
    if len(text) < n:
        return {text.lower().encode("utf-8")}
    return {text[i : i + n].lower().encode("utf-8") for i in range(len(text) - n + 1)}


def _word_spans(data_len: int, sep_pos: np.ndarray, n: int, min_length: int) -> Optional[Tuple[np.ndarray, np.ndarray]]:
    """Shingle (offset, length) spans for one translated doc of
    ``data_len`` bytes whose separator (space) byte positions are
    ``sep_pos``. None = below min_length tokens."""
    t = sep_pos.size + 1
    if t < min_length:
        return None
    if t < n:
        return np.zeros(1, dtype=np.int64), np.array([data_len], dtype=np.int64)
    starts = np.empty(t, dtype=np.int64)
    starts[0] = 0
    starts[1:] = sep_pos + 1
    ends = np.empty(t, dtype=np.int64)
    ends[:-1] = sep_pos
    ends[-1] = data_len
    offs = starts[: t - n + 1]
    lens = ends[n - 1 :] - offs
    return offs, lens


def word_shingle_hashes_batch(
    texts: Sequence[str], n: int, min_length: int, seed: int = 0
) -> List[Optional[np.ndarray]]:
    """Per-doc arrays of DISTINCT xxh32 shingle hashes (None = too
    short). Equivalent to the reference's fused ``ngram_hashes``
    (minhash_spark.py:108-137) applied to each doc of the batch."""
    bufs: List[bytes] = []
    all_offs: List[np.ndarray] = []
    all_lens: List[np.ndarray] = []
    counts: List[int] = []  # -1 = None (too short)
    base = 0
    for text in texts:
        if text is None:
            counts.append(-1)  # null content == no signature (dropped)
            continue
        if text.isascii():
            data = text.encode("ascii").translate(_WORD_TRANS)
            arr = np.frombuffer(data, dtype=np.uint8)
            spans = _word_spans(arr.size, np.nonzero(arr == 32)[0], n, min_length)
            if spans is None:
                counts.append(-1)
                continue
            offs, lens = spans
            bufs.append(data)
            all_offs.append(offs + base)
            all_lens.append(lens)
            counts.append(len(offs))
            base += len(data)
        else:
            shingle_set = word_shingles(text, n, min_length)
            if shingle_set is None:
                counts.append(-1)
                continue
            offs = np.empty(len(shingle_set), dtype=np.int64)
            lens = np.empty(len(shingle_set), dtype=np.int64)
            for i, s in enumerate(shingle_set):
                offs[i] = base
                lens[i] = len(s)
                bufs.append(s)
                base += len(s)
            all_offs.append(offs)
            all_lens.append(lens)
            counts.append(len(offs))

    if all_offs:
        flat = np.frombuffer(b"".join(bufs), dtype=np.uint8)
        hashes = xxh32_spans(
            flat, np.concatenate(all_offs), np.concatenate(all_lens), seed=seed
        )
    else:
        hashes = np.empty(0, dtype=np.uint32)

    out: List[Optional[np.ndarray]] = []
    pos = 0
    for c in counts:
        if c < 0:
            out.append(None)
        else:
            # distinct-hash semantics == the reference's shingle set
            out.append(np.unique(hashes[pos : pos + c]))
            pos += c
    return out


def _char_spans_batch(
    texts: Sequence[str], n: int, min_length: int
) -> Tuple[Optional[np.ndarray], Optional[np.ndarray], Optional[np.ndarray], List[int]]:
    """Collect char-shingle byte spans for a batch: (flat, offs, lens,
    counts) with counts[i] = -1 for too-short/null docs."""
    bufs: List[bytes] = []
    all_offs: List[np.ndarray] = []
    all_lens: List[np.ndarray] = []
    counts: List[int] = []
    base = 0
    for text in texts:
        if text is None:
            counts.append(-1)
            continue
        if text.isascii():
            ln = len(text)
            if ln < min_length:
                counts.append(-1)
                continue
            data = text.encode("ascii").translate(_LOWER_TRANS)
            if ln < n:
                offs = np.zeros(1, dtype=np.int64)
                lens = np.array([ln], dtype=np.int64)
            else:
                offs = np.arange(ln - n + 1, dtype=np.int64)
                lens = np.full(ln - n + 1, n, dtype=np.int64)
            bufs.append(data)
            all_offs.append(offs + base)
            all_lens.append(lens)
            counts.append(len(offs))
            base += len(data)
        else:
            shingle_set = char_shingles(text, n, min_length)
            if shingle_set is None:
                counts.append(-1)
                continue
            offs = np.empty(len(shingle_set), dtype=np.int64)
            lens = np.empty(len(shingle_set), dtype=np.int64)
            for i, s in enumerate(shingle_set):
                offs[i] = base
                lens[i] = len(s)
                bufs.append(s)
                base += len(s)
            all_offs.append(offs)
            all_lens.append(lens)
            counts.append(len(offs))

    if all_offs:
        flat = np.frombuffer(b"".join(bufs), dtype=np.uint8)
        return flat, np.concatenate(all_offs), np.concatenate(all_lens), counts
    return None, None, None, counts


def char_shingle_hashes64_batch(
    texts: Sequence[str], n: int, min_length: int = 5, seed: int = 0
) -> List[Optional[np.ndarray]]:
    """Per-doc arrays of DISTINCT 64-bit char-shingle hashes (SimHash)."""
    flat, offs, lens, counts = _char_spans_batch(texts, n, min_length)
    hashes = (
        xxh64_spans(flat, offs, lens, seed=seed)
        if flat is not None
        else np.empty(0, dtype=np.uint64)
    )
    out: List[Optional[np.ndarray]] = []
    pos = 0
    for c in counts:
        if c < 0:
            out.append(None)
        else:
            # distinct-hash semantics == the reference's shingle set
            out.append(np.unique(hashes[pos : pos + c]))
            pos += c
    return out


def char_shingle_hashes128_batch(
    texts: Sequence[str], n: int, min_length: int = 5, seeds: Tuple[int, int] = (0, 0x9E3779B9)
) -> List[Optional[np.ndarray]]:
    """Per-doc (S, 2) uint64 arrays of DISTINCT 128-bit char-shingle
    hashes (two independently-seeded xxh64 halves, hi then lo) for
    SimHash f=128. Distinctness is on the 128-bit pair, mirroring the
    reference's shingle-set semantics with its xxh3_128 digest
    (/root/reference/text_dedup/simhash.py:243-270)."""
    flat, offs, lens, counts = _char_spans_batch(texts, n, min_length)
    if flat is not None:
        hi = xxh64_spans(flat, offs, lens, seed=seeds[0])
        lo = xxh64_spans(flat, offs, lens, seed=seeds[1])
    else:
        hi = lo = np.empty(0, dtype=np.uint64)
    pair_dtype = np.dtype([("hi", "<u8"), ("lo", "<u8")])
    out: List[Optional[np.ndarray]] = []
    pos = 0
    for c in counts:
        if c < 0:
            out.append(None)
        else:
            pairs = np.empty(c, dtype=pair_dtype)
            pairs["hi"] = hi[pos : pos + c]
            pairs["lo"] = lo[pos : pos + c]
            uniq = np.unique(pairs)
            arr = np.empty((uniq.size, 2), dtype=np.uint64)
            arr[:, 0] = uniq["hi"]
            arr[:, 1] = uniq["lo"]
            out.append(arr)
            pos += c
    return out


def fold_segments(
    per_doc: Sequence[Optional[np.ndarray]],
    transform: Callable[[np.ndarray], np.ndarray],
    ufunc: np.ufunc,
    acc: np.ndarray,
    chunk: int,
) -> np.ndarray:
    """acc[i] = ufunc(acc[i], ufunc over transform(per_doc[i]) rows)
    for every doc; None and empty docs keep acc's initial value.

    The batch's rows are concatenated and walked in fixed ``chunk``-row
    slices, each transformed, reduced per doc with ``ufunc.reduceat``
    and folded into the contiguous run of docs it touches, so peak
    memory is O(chunk × width) whatever the document sizes."""
    docs = [i for i, h in enumerate(per_doc) if h is not None and len(h)]
    if not docs:
        return acc
    rows = np.concatenate([per_doc[i] for i in docs])
    ends = np.cumsum([len(per_doc[i]) for i in docs])
    docs = np.asarray(docs)
    for s in range(0, len(rows), chunk):
        e = min(s + chunk, len(rows))
        # docs lo..hi-1 overlap [s, e); each after the first starts at
        # the previous one's end
        lo = np.searchsorted(ends, s, side="right")
        hi = np.searchsorted(ends, e) + 1
        starts = np.concatenate(([0], ends[lo : hi - 1] - s))
        part = ufunc.reduceat(transform(rows[s:e]), starts, axis=0, dtype=acc.dtype)
        k = docs[lo:hi]
        acc[k] = ufunc(acc[k], part)
    return acc
