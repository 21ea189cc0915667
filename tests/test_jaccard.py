"""Jaccard operators: JVM shingle/jaccard exprs vs the Python oracle,
and the verified-dedup pipeline."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from sparkdedup.config import MinHashConfig
from sparkdedup.fixtures import generate_code_files
import sparkdedup.jaccard as jaccard_mod
from sparkdedup.jaccard import jaccard, jaccard_dedup, jaccard_verified_edges, shingle_array
from tests.oracle import word_ngram_jaccard


def test_jvm_jaccard_matches_python_oracle(spark):
    corpus = generate_code_files(80, seed=42)
    texts = corpus["content"].tolist()
    base = texts[0]
    df = spark.createDataFrame(corpus)
    base_sh = (
        df.filter(F.col("doc_id") == corpus["doc_id"][0])
        .select(shingle_array(F.col("content"), 5).alias("s"))
    )
    rows = (
        df.crossJoin(F.broadcast(base_sh))
        .select("doc_id", F.round(jaccard(shingle_array(F.col("content"), 5), F.col("s")), 6).alias("jac"))
        .collect()
    )
    for r in rows:
        doc = corpus[corpus["doc_id"] == r["doc_id"]]["content"].iloc[0]
        want = word_ngram_jaccard(doc, base, 5)
        assert abs(r["jac"] - want) < 1e-4, f"doc {r['doc_id']}: {r['jac']} vs {want}"


def test_jaccard_edge_cases(spark):
    df = spark.createDataFrame(pd.DataFrame({"a": ["x y z w v"], "b": ["x y z w v"]}))
    row = df.select(
        jaccard(shingle_array(F.col("a"), 3), shingle_array(F.col("b"), 3)).alias("j")
    ).first()
    assert row["j"] == 1.0


def test_jaccard_dedup_verifies_candidates(spark):
    # two docs: high minhash collision probability but true jaccard
    # below threshold must NOT merge; identical docs must merge
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 10
    variant = base.replace("gamma", "mu").replace("zeta", "nu").replace("iota", "xi")
    data = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "content": [base, base, variant],
        }
    )
    df = spark.createDataFrame(data).withColumn("__id__", F.col("doc_id"))
    res = jaccard_dedup(df, MinHashConfig(threshold=0.95))
    kept = sorted(r["doc_id"] for r in res.kept.select("doc_id").collect())
    assert 0 in kept and 1 not in kept  # exact dup verified & removed
    assert 2 in kept  # sub-threshold variant survives verification


@pytest.mark.parametrize(
    "collide",
    [None, ("x9", "w9"), ("w1", "w0"), ("w9", "w8")],
    ids=["none", "one-per-doc", "both-shared", "shared-and-unshared"],
)
def test_verified_jaccard_under_a_forced_shingle_hash_collision(spark, monkeypatch, collide):
    """A shingle-hash collision moves the verified Jaccard to that of the
    hashed images |h(A) & h(B)| / |h(A) | h(B)|, as jaccard_dedup's
    docstring states: here up to 1.0 or 0.9 and down to 0.8 from the
    string sets' 9/11. The edge appears at that value as the threshold
    and not just above it."""
    from sparkdedup.minhash import SIG, make_signature_udf

    a = [f"w{i}" for i in range(10)]
    b = a[:9] + ["x9"]
    if collide is not None:
        src, dst = collide
        monkeypatch.setattr(
            jaccard_mod,
            "shingle_hash",
            lambda x: F.xxhash64(F.when(x == src, F.lit(dst)).otherwise(x)),
        )
    image = lambda s: {dst if collide and w == src else w for w in s}
    want = len(image(a) & image(b)) / len(image(a) | image(b))
    assert want == {None: 9 / 11, "x9": 1.0, "w1": 0.8, "w9": 0.9}[collide and collide[0]]

    docs = spark.createDataFrame([(0, " ".join(a)), (1, " ".join(b))], "__id__ long, content string")
    for threshold, linked in [(want, True), (want + 0.005, False)]:
        # r = 1: any shared permutation minimum makes the pair a candidate
        cfg = MinHashConfig(ngram=1, min_length=1, num_perm=20, b=20, r=1, threshold=threshold)
        kept = docs.withColumn(SIG, make_signature_udf(cfg)(F.col("content")))
        edges = {(r["src"], r["dst"]) for r in jaccard_verified_edges(kept, cfg).collect()}
        assert edges == ({(1, 0)} if linked else set()), (threshold, edges)
