"""Deterministic text -> embedding encoding (feature hashing).

The reference's `ann_unisim` mode embeds documents with an ONNX
MiniLM encoder before the ANN search/dedup stages
(/root/reference/text_dedup/ann_unisim.py:75-99). Model weights are
not shipped in this environment, so this module provides the classic
signed feature-hashing ("hashing trick", Weinberger et al. 2009)
encoder over distinct char n-gram shingle hashes instead: each
shingle's xxh64 picks a bucket (h mod dim) and a sign (a high hash
bit), the signed counts accumulate and the vector is L2-normalized.
Cosine between two encodings is then an unbiased-signed estimate of
shingle-set overlap — exactly the right geometry for NEAR-DUPLICATE
detection (it is NOT a semantic embedding; plug a real encoder into
the same column contract for semantic similarity at scale).

Deterministic across workers/runs (seeded hash, no model state), fully
vectorized per Arrow batch, and emits the same `array<double>` column
contract the ANN operators consume — so
`encode_documents |> ann.ann_dedup` is the reference pipeline shape
end-to-end.
"""

from __future__ import annotations

from typing import List, Optional

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType

from sparkdedup.config import SEED


def hash_embed_batch(
    texts: List[Optional[str]], dim: int, ngram: int, min_length: int, seed: int
) -> List[Optional[np.ndarray]]:
    """Pure-NumPy batch kernel (testable without Spark): per-doc
    L2-normalized signed-feature-hash vectors; None for docs with no
    shingles (shorter than min_length tokens of the shingle grammar).

    Vectorized ACROSS the batch: all docs' shingle hashes scatter-add
    into one flat (n_docs * dim) histogram via a single ``np.bincount``
    — the previous per-doc ``np.add.at`` loop was the encode stage's
    hot spot (add.at is an unbuffered ufunc scatter, ~20x slower than
    bincount at these sizes). Output is bit-identical: the accumulated
    values are sums of ±1.0 (exact integers in float64, order-free) and
    the norms are exact sums of integer squares."""
    from sparkdedup.shingle import char_shingle_hashes64_batch

    per_doc = char_shingle_hashes64_batch(texts, ngram, min_length, seed=seed)
    rows = [i for i, h in enumerate(per_doc) if h is not None and h.size > 0]
    out: List[Optional[np.ndarray]] = [None] * len(texts)
    if not rows:
        return out
    counts = np.asarray([per_doc[i].size for i in rows], dtype=np.int64)
    hashes = np.concatenate([per_doc[i] for i in rows])
    # an independent hash bit for the sign keeps bucket and sign
    # uncorrelated (bit 63 vs the low mod-dim bits)
    sign = np.where((hashes >> np.uint64(63)) & np.uint64(1), 1.0, -1.0)
    idx = (hashes % np.uint64(dim)).astype(np.int64)
    idx += np.repeat(np.arange(len(rows), dtype=np.int64) * dim, counts)
    flat = np.bincount(idx, weights=sign, minlength=len(rows) * dim).reshape(
        len(rows), dim
    )
    norms = np.sqrt((flat * flat).sum(axis=1))
    for r, i in enumerate(rows):
        norm = norms[r]
        if norm == 0.0:
            continue
        out[i] = flat[r] / norm
    return out


def make_hash_embedding_udf(dim: int = 256, ngram: int = 3, min_length: int = 5, seed: int = SEED):
    """Arrow-batched UDF: text -> ``hash_embed_batch`` vector as
    array<double> (null = no shingles).

    Runs once per row in every plan: it is flagged non-deterministic,
    so a null filter after it is not rewritten into a second
    ArrowEvalPython of the same call."""

    @pandas_udf(ArrayType(DoubleType()))
    def embed(texts: pd.Series) -> pd.Series:
        from sparkdedup.tuning import tune_worker_memory

        tune_worker_memory()
        vecs = hash_embed_batch(texts.tolist(), dim, ngram, min_length, seed)
        return pd.Series([None if v is None else v.tolist() for v in vecs])

    # pure; the flag only stops Catalyst copying the call into a
    # pushed-down filter
    return embed.asNondeterministic()


def encode_documents(
    df: DataFrame,
    column: str = "content",
    output_column: str = "embedding",
    dim: int = 256,
    ngram: int = 3,
    min_length: int = 5,
    seed: int = SEED,
) -> DataFrame:
    """Attach the hashed embedding column; docs with no shingles get
    NULL (callers filter, mirroring the length-filter semantics of the
    signature pipelines)."""
    udf = make_hash_embedding_udf(dim, ngram, min_length, seed)
    return df.withColumn(output_column, udf(F.col(column)))
