"""SimHash unit pins + E2E golden test vs the independent oracle."""

import pytest
from pyspark.sql import functions as F

from sparkdedup.config import SimHashConfig
from sparkdedup.fixtures import generate_code_files
from sparkdedup.simhash import (
    block_layout,
    compute_fingerprints,
    permutation_keys,
    simhash_dedup,
)
from tests.oracle import _simhash_fp, cluster_pairs, simhash_bucket_keys, simhash_clusters


def test_block_layout_reference_quirk():
    assert block_layout(64, 4) == [(16, 0), (16, 16), (16, 32), (16, 48)]
    # the reference's loop never applies the min-width solver result
    assert block_layout(64, 3) == [(22, 0), (22, 22), (20, 44)]
    assert block_layout(128, 4) == [(32, 0), (32, 32), (32, 64), (32, 96)]


def test_permutation_count():
    # permutations(range(b), b-k): P(4,1) = 4 (reference doctest:
    # _create_permutations(128, 3, 4) -> len 4, simhash.py:189-191)
    assert len(permutation_keys(128, 3, 4)) == 4
    assert len(permutation_keys(64, 3, 4)) == 4
    assert len(permutation_keys(64, 2, 4)) == 12


def test_majority_vote_reference_pin():
    # compute([int2ba(13352372148217134600), int2ba(5020219685658847592)])
    # == 74633958390507528 (simhash.py:292-295); for two inputs the
    # majority rule reduces to AND — verified against our bit math via
    # a synthetic two-shingle doc is impractical, so pin the rule itself
    a, b = 13352372148217134600, 5020219685658847592
    assert a & b == 74633958390507528


def test_fingerprint_basics():
    fps = compute_fingerprints(["hello world hello world", "hello world hello world", "completely different text here", "ab"], SimHashConfig())
    assert fps[0] == fps[1]
    assert fps[0] != fps[2]
    assert fps[3] is None  # below min_length chars


def _random_chars(rng, n):
    return "".join(rng.choice("abcdefghijklmnopqrstuvwxyz0123456789") for _ in range(n))


@pytest.mark.parametrize("f", [64, 128])
def test_fingerprints_match_unsliced_oracle(f):
    """compute_fingerprints (f=64) and _fingerprint_words (f=128) equal
    the oracle's per-doc bit majority over all of a doc's shingles, on a
    batch whose docs straddle and span several _BIT_CHUNK slices, next
    to null and too-short docs."""
    import random

    from sparkdedup.shingle import char_shingles
    from sparkdedup.simhash import _BIT_CHUNK, _fingerprint_words

    def oracle_words(text):  # f-bit fingerprint -> f//64 signed longs, hi first
        fp = None if text is None else _simhash_fp(text, cfg.ngram, cfg.min_length, f)
        if fp is None:
            return None
        words = [(fp >> (f - 64 * (i + 1))) & ((1 << 64) - 1) for i in range(f // 64)]
        return tuple(w - (1 << 64) if w >= 1 << 63 else w for w in words)

    rng = random.Random(f)
    cfg = SimHashConfig(f=f, ngram=5)
    texts = [
        None,
        "abc",
        "hello world hello world",
        _random_chars(rng, 40_000),
        _random_chars(rng, 40_000),  # straddles the first boundary
        _random_chars(rng, 2 * _BIT_CHUNK + 9_000),  # spans two boundaries
        "short tail doc",
    ]
    assert len(char_shingles(texts[5], cfg.ngram, cfg.min_length)) > 2 * _BIT_CHUNK
    want = [oracle_words(t) for t in texts]
    assert want[0] is None and want[1] is None and all(w is not None for w in want[2:])
    assert _fingerprint_words(texts, cfg) == want
    if f == 64:
        assert compute_fingerprints(texts, cfg) == [w if w is None else w[0] for w in want]


def _collision_graph(key_sets):
    """Pairs (i, j) sharing at least one bucket key."""
    return {
        (i, j)
        for i in range(len(key_sets))
        for j in range(i + 1, len(key_sets))
        if key_sets[i] & key_sets[j]
    }


@pytest.mark.parametrize("f,k,b", [(64, 3, 4), (64, 2, 4), (128, 3, 4), (128, 3, 3)])
def test_spark_bucket_collisions_match_oracle(spark, f, k, b):
    """JVM bit extraction partitions fingerprints into the same buckets
    as the reference Permutation int semantics (keys are xxhash64ed
    Spark-side, so we compare the collision graph, not raw values)."""
    from sparkdedup.simhash import bucket_key_columns

    import random

    rng = random.Random(99)
    base = rng.getrandbits(f)
    fps = [base]
    for _ in range(20):  # near neighbors: flip a few bits
        x = base
        for _ in range(rng.randint(1, 6)):
            x ^= 1 << rng.randrange(f)
        fps.append(x)
    fps += [rng.getrandbits(f) for _ in range(20)]

    def signed(v):
        return v - (1 << 64) if v >= 1 << 63 else v

    if f == 64:
        df = spark.createDataFrame([(signed(v),) for v in fps], "fp long")
        cols = bucket_key_columns([F.col("fp")], f, k, b)
    else:
        df = spark.createDataFrame(
            [(signed(v >> 64), signed(v & ((1 << 64) - 1))) for v in fps], "hi long, lo long"
        )
        cols = bucket_key_columns([F.col("hi"), F.col("lo")], f, k, b)
    rows = df.select(F.array(*cols).alias("keys")).collect()
    spark_sets = [set(r["keys"]) for r in rows]
    oracle_sets = [simhash_bucket_keys(v, f, k, b) for v in fps]
    assert _collision_graph(spark_sets) == _collision_graph(oracle_sets)


def test_refine_subkeys_exact_pigeonhole(spark):
    """Bucket splitting loses no pairs: simhash_edges with an absurdly
    small max_bucket_size must produce the identical edge set as the
    unsplit quadratic path, on fingerprints crafted to share buckets."""
    import random

    from sparkdedup.config import SimHashConfig
    from sparkdedup.simhash import FP, simhash_edges

    rng = random.Random(5)
    fps = []
    base = rng.getrandbits(64)
    # one mega-bucket: share the top 16-bit block (pidx 0 leading block),
    # vary the rest; plus sprinkled near-duplicates
    for i in range(120):
        x = (base & ~((1 << 48) - 1)) | rng.getrandbits(48)
        fps.append(x)
        if i % 7 == 0:
            fps.append(x ^ (1 << rng.randrange(48)))  # Hamming-1 partner

    def signed(v):
        return v - (1 << 64) if v >= 1 << 63 else v

    rows = [(i, signed(v)) for i, v in enumerate(fps)]
    df = spark.createDataFrame(rows, f"__id__ long, {FP} long")
    cfg_split = SimHashConfig(max_bucket_size=8)
    cfg_flat = SimHashConfig(max_bucket_size=None)
    e_split = {(r["src"], r["dst"]) for r in simhash_edges(df, cfg_split).collect()}
    e_flat = {(r["src"], r["dst"]) for r in simhash_edges(df, cfg_flat).collect()}
    assert len(e_flat) > 10, "fixture must generate edges"
    assert e_split == e_flat


@pytest.mark.parametrize("n_rows", [600])
def test_simhash128_matches_oracle(spark, n_rows):
    corpus = generate_code_files(n_rows, seed=42)
    cfg = SimHashConfig(column="content", f=128)
    oracle_assign, oracle_kept = simhash_clusters(
        corpus["content"].tolist(),
        corpus["doc_id"].tolist(),
        ngram=cfg.ngram,
        min_length=cfg.min_length,
        f=128,
        bit_diff=cfg.bit_diff,
        num_bucket=cfg.num_bucket,
    )
    df = spark.createDataFrame(corpus).withColumn("__id__", F.col("doc_id"))
    res = simhash_dedup(df, cfg)
    ours = {row["id"]: row["component"] for row in res.assignment.collect()}
    ours_full = {i: ours.get(i, i) for i in oracle_kept}
    op = cluster_pairs(oracle_assign)
    sp = cluster_pairs(ours_full)
    assert len(op) >= 10, "fixture must produce simhash-128 duplicate pairs"
    recall = len(op & sp) / len(op)
    precision = len(op & sp) / max(len(sp), 1)
    assert recall >= 0.99, f"recall {recall}"
    assert precision >= 0.99, f"precision {precision}"


@pytest.mark.parametrize("n_rows", [600])
def test_simhash_matches_oracle(spark, n_rows):
    corpus = generate_code_files(n_rows, seed=42)
    cfg = SimHashConfig(column="content")
    oracle_assign, oracle_kept = simhash_clusters(
        corpus["content"].tolist(),
        corpus["doc_id"].tolist(),
        ngram=cfg.ngram,
        min_length=cfg.min_length,
        f=cfg.f,
        bit_diff=cfg.bit_diff,
        num_bucket=cfg.num_bucket,
    )
    df = spark.createDataFrame(corpus).withColumn("__id__", F.col("doc_id"))
    res = simhash_dedup(df, cfg)
    ours = {row["id"]: row["component"] for row in res.assignment.collect()}
    ours_full = {i: ours.get(i, i) for i in oracle_kept}

    op = cluster_pairs(oracle_assign)
    sp = cluster_pairs(ours_full)
    assert len(op) >= 10, "fixture must produce simhash duplicate pairs"
    recall = len(op & sp) / len(op)
    precision = len(op & sp) / max(len(sp), 1)
    assert recall >= 0.99, f"recall {recall}"
    assert precision >= 0.99, f"precision {precision}"


@pytest.mark.parametrize("f,udf_name", [(64, "fingerprint"), (128, "fingerprint128")])
def test_fingerprint_udf_runs_once_per_row(spark, f, udf_name):
    """simhash_job's fps stage shape: the fingerprint kernel appears
    once in the executed plan, not again under the pushed-down null
    filter."""
    from sparkdedup.simhash import FP, _fp_not_null, make_fingerprint_udf
    from tests.plans import udf_evals

    cfg = SimHashConfig(f=f)
    df = spark.createDataFrame(generate_code_files(50, seed=42))
    fps = df.select(F.col("doc_id"), make_fingerprint_udf(cfg)(F.col(cfg.column)).alias(FP)).filter(
        _fp_not_null(cfg)
    )
    assert udf_evals(fps, udf_name) == 1
