"""Feature-hash text encoder (sparkdedup.encode): determinism, norm,
near-dup geometry, and the text->encode->ann_dedup staged pipeline."""

from __future__ import annotations

import os
import shutil

import numpy as np
import pytest

from sparkdedup.encode import hash_embed_batch

DIM = 128


def _cos(a, b):
    return float(np.dot(a, b))


def test_hash_embed_deterministic_unit_norm():
    texts = ["def foo(bar):\n    return bar + 1\n", "class Widget:\n    pass\n"]
    a = hash_embed_batch(texts, DIM, 3, 5, seed=42)
    b = hash_embed_batch(texts, DIM, 3, 5, seed=42)
    for va, vb in zip(a, b):
        assert va is not None and np.array_equal(va, vb)
        assert abs(np.linalg.norm(va) - 1.0) < 1e-9
    # different seed -> different vectors (not trivially constant)
    c = hash_embed_batch(texts, DIM, 3, 5, seed=7)
    assert not np.array_equal(a[0], c[0])


def test_hash_embed_null_and_short():
    out = hash_embed_batch([None, "ab", "x" * 200], DIM, 3, min_length=5, seed=42)
    assert out[0] is None
    assert out[1] is None  # below min_length -> no shingles
    assert out[2] is not None


def test_hash_embed_near_dup_geometry():
    """Near-identical texts must be closer than unrelated texts —
    cosine tracks shingle overlap (hashing-trick estimate)."""
    base = "def compute(values):\n    total = 0\n    for v in values:\n        total += v\n    return total\n" * 3
    near = base.replace("total", "acc")
    other = "SELECT name, count(*) FROM users GROUP BY name ORDER BY 2 DESC LIMIT 10;\n" * 4
    v = hash_embed_batch([base, near, other], 256, 3, 5, seed=42)
    assert _cos(v[0], v[1]) > 0.6
    assert _cos(v[0], v[1]) > _cos(v[0], v[2]) + 0.3
    # identical text -> identical vector -> cosine exactly 1
    w = hash_embed_batch([base, base], 256, 3, 5, seed=42)
    assert abs(_cos(w[0], w[1]) - 1.0) < 1e-9


def test_ann_job_text_mode_end_to_end_and_resume(spark, tmp_path):
    import pandas as pd

    from sparkdedup.pipeline import ann_job

    rows = []
    base = "def handler(request):\n    data = request.json()\n    return process(data)\n" * 4
    for i in range(30):  # 30 byte-identical docs -> one survivor
        rows.append((f"k{i:03d}", base))
    for i in range(30, 60):  # unique docs
        rows.append((f"k{i:03d}", f"def unique_{i}(x):\n    return x * {i} + {i * 7}\n" * 4))
    rows.append(("kshort", "ab"))  # no shingles -> dropped
    p = str(tmp_path / "docs.parquet")
    pd.DataFrame(rows, columns=["key", "content"]).to_parquet(p, index=False)

    out1 = str(tmp_path / "out1")
    work = str(tmp_path / "work")
    m1 = ann_job(
        spark, p, out1, work, threshold=0.95, id_column="key",
        n_centroids=4, n_probe=4, text_column="content",
    )
    assert m1.rows_before == 60  # short doc dropped at encode
    got = spark.read.parquet(out1)
    assert "content" in got.columns and "embedding" not in got.columns
    keys = {r["key"] for r in got.select("key").collect()}
    assert len([k for k in keys if int(k[1:]) < 30]) == 1  # one survivor of the clones
    assert all(f"k{i:03d}" in keys for i in range(30, 60))  # uniques all kept

    # resume: encode + edges must be reused after killing the CC stage
    shutil.rmtree(os.path.join(work, "assignment.parquet"))
    out2 = str(tmp_path / "out2")
    m2 = ann_job(
        spark, p, out2, work, threshold=0.95, id_column="key",
        n_centroids=4, n_probe=4, text_column="content",
    )
    assert m2.stages["encode"].resumed and m2.stages["edges"].resumed
    assert not m2.stages["cc"].resumed
    keys2 = {r["key"] for r in spark.read.parquet(out2).select("key").collect()}
    assert keys2 == keys


def test_embedding_udf_runs_once_per_row(spark):
    """ann_job's text-mode encode shape: the embedding kernel appears
    once in the executed plan, not again under the null filter."""
    from pyspark.sql import functions as F

    from sparkdedup.encode import encode_documents
    from tests.plans import udf_evals

    df = spark.createDataFrame([(1, "def f(x):\n    return x\n" * 4), (2, "ab")], "id long, content string")
    encoded = encode_documents(df, dim=DIM).filter(F.col("embedding").isNotNull())
    assert udf_evals(encoded, "embed") == 1
