"""E2E golden test: Spark MinHash-LSH pipeline vs the independent NumPy
oracle (reference-algorithm transcription) on the deterministic corpus.

Acceptance bar (BASELINE.json): dup-pair recall >= 0.99 at identical
shingle/permutation/band config; per-row sha256(content) invariant.
With identical hash math both paths should in fact agree exactly.
"""

import hashlib

import pytest
from pyspark.sql import functions as F

from sparkdedup.config import MinHashConfig
from sparkdedup.fixtures import generate_code_files
from sparkdedup.minhash import band_edges, minhash_bands, minhash_dedup
from tests.oracle import cluster_pairs, doc_signature, minhash_clusters

N_ROWS = 600


@pytest.fixture(scope="module")
def corpus():
    return generate_code_files(N_ROWS, seed=42)


@pytest.fixture(scope="module")
def corpus_df(spark, corpus):
    df = spark.createDataFrame(corpus)
    return df.withColumn("__id__", F.col("doc_id")).persist()


def _our_assignment(result, kept_ids):
    assign = {row["id"]: row["component"] for row in result.assignment.collect()}
    return {i: assign.get(i, i) for i in kept_ids}


@pytest.mark.parametrize(
    "cfg",
    [
        MinHashConfig(ngram=5, min_length=5, num_perm=250, b=25, r=10),  # defaults
        MinHashConfig(ngram=2, min_length=5, num_perm=200, b=50, r=4),  # benchmark cfg
    ],
    ids=["default-250-25x10", "bench-200-50x4"],
)
def test_minhash_matches_oracle(spark, corpus, corpus_df, cfg):
    b, r = cfg.resolved_bands()
    oracle_assign, oracle_kept = minhash_clusters(
        corpus["content"].tolist(),
        corpus["doc_id"].tolist(),
        ngram=cfg.ngram,
        min_length=cfg.min_length,
        num_perm=cfg.num_perm,
        b=b,
        r=r,
        seed=cfg.seed,
    )

    result = minhash_dedup(corpus_df, cfg)

    # same length-filter survivors
    kept_ids = {row["__id__"] for row in result.kept.select("__id__").collect()}
    ours_assign = _our_assignment(result, oracle_kept)

    oracle_p = cluster_pairs(oracle_assign)
    ours_p = cluster_pairs(ours_assign)
    assert len(oracle_p) > 50, "fixture must contain planted duplicate pairs"
    recall = len(oracle_p & ours_p) / len(oracle_p)
    precision = len(oracle_p & ours_p) / max(len(ours_p), 1)
    assert recall >= 0.99, f"dup-pair recall {recall:.4f} < 0.99"
    assert precision >= 0.99, f"dup-pair precision {precision:.4f} < 0.99"

    # survivors == component minima of the oracle partition (modulo the
    # tiny pair differences already covered by the recall bar)
    oracle_survivors = {i for i, label in oracle_assign.items() if label == i}
    sym_diff = kept_ids ^ oracle_survivors
    assert len(sym_diff) <= max(2, int(0.01 * len(oracle_survivors)))


def test_sha256_invariant_and_schema(spark, corpus, corpus_df):
    cfg = MinHashConfig()
    result = minhash_dedup(corpus_df, cfg)
    out = result.kept.select("doc_id", "content").collect()
    input_sha = {
        int(row.doc_id): hashlib.sha256(row.content.encode()).hexdigest()
        for row in corpus.itertuples(index=False)
    }
    for row in out:
        assert hashlib.sha256(row.content.encode()).hexdigest() == input_sha[row.doc_id]
    # output keeps the input schema (minus temp columns)
    assert set(result.kept.columns) == {"doc_id", "repo", "path", "commit", "lang", "content", "__id__"}


def test_band_edges_point_to_group_min(spark, corpus_df):
    """band_edges equals a pandas oracle: every row of a (band, hash)
    group shared by two or more docs points to the group's minimum id."""
    cfg = MinHashConfig(ngram=5, min_length=5, num_perm=250, b=25, r=10)
    bands = minhash_bands(corpus_df, cfg)
    rows = bands.toPandas()
    rows["dst"] = rows.groupby(["band", "hash"])["__id__"].transform("min")
    linked = rows[rows["__id__"] != rows["dst"]]
    want = set(zip(linked["__id__"], linked["dst"]))
    got = {(r["src"], r["dst"]) for r in band_edges(bands).collect()}
    assert len(want) > 50
    assert got == want


def _k1(hi: int, lo: int) -> int:
    """The signed 64-bit k1 whose high and low 32 bits are hi and lo."""
    return (hi << 32) | (lo & 0xFFFFFFFF)


# (__id__, k1, k2) rows and the edges group_min_edges must give them
_KEYED_ROWS = [(5, 1, 10), (3, 1, 10), (9, 1, 10), (4, 1, 20), (8, 1, 20), (2, 1, 30)]
_KEYED_ROWS += [(7, 2, 10), (6, 3, 10)]  # singletons; (7, 2, 10) shares k2 only
_KEYED_ROWS += [(1000 + i, 4, 40) for i in range(1000)]
# the same k2 under keys that share k1's high 32 bits but not its low
# ones, or its low 32 bits but not its high ones (negative halves too)
_KEYED_ROWS += [(21, _k1(7, 1), 50), (22, _k1(7, 1), 50), (23, _k1(7, 2), 50), (24, _k1(7, 2), 50)]
_KEYED_ROWS += [(31, _k1(8, -5), 50), (32, _k1(8, -5), 50), (33, _k1(-9, -5), 50)]
_KEYED_ROWS += [(34, _k1(-9, -5), 50), (35, _k1(-9, 1 << 31), 50)]  # 35: lone, shares hi
_KEYED_EDGES = sorted(
    [(5, 3), (9, 3), (8, 4), (22, 21), (24, 23), (32, 31), (34, 33)]
    + [(1000 + i, 1000) for i in range(1, 1000)]
)


def _keyed(spark):
    return spark.createDataFrame(_KEYED_ROWS, "__id__ long, k1 long, k2 long")


def test_group_min_edges_is_exact_per_128_bit_key(spark):
    """Rows sharing k1 but not k2, or k1's high 32 bits but not its low
    ones, or its low 32 bits but not its high ones, are candidates of
    round 1 yet separate groups of round 2: no edge crosses them, each
    points to its own minimum. Singletons, including a lone row whose
    k1 matches another key's, emit nothing; a 1,000-row group gives 999
    edges."""
    from sparkdedup.minhash import group_min_edges

    got = sorted((r["src"], r["dst"]) for r in group_min_edges(_keyed(spark)).collect())
    assert got == _KEYED_EDGES


def test_group_min_edges_sort_merge_plan_has_three_exchanges(spark):
    """Without broadcasts the plan shuffles three times: round 1's count
    by hi, the semi-join by hi, whose partitioning the (hi, lo, k2)
    window reuses, and the edge dedup. A key column the join and window
    do not share would add a fourth. The edges equal the broadcast
    plan's."""
    from sparkdedup.minhash import group_min_edges

    def run():
        edges = group_min_edges(_keyed(spark))
        got = sorted((r["src"], r["dst"]) for r in edges.collect())
        # the adaptive plan as run: its text before the initial plan
        plan = edges._jdf.queryExecution().executedPlan().toString()
        return got, plan.split("== Initial Plan ==")[0]

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        sort_merge, plan = run()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    broadcast, broadcast_plan = run()
    assert "BroadcastExchange" not in plan and "BroadcastExchange" in broadcast_plan
    assert plan.count("Exchange hashpartitioning") == 3, plan
    assert sort_merge == broadcast == _KEYED_EDGES


def test_short_docs_dropped(spark, corpus, corpus_df):
    cfg = MinHashConfig()
    result = minhash_dedup(corpus_df, cfg)
    kept_ids = {row["__id__"] for row in result.kept.select("__id__").collect()}
    import re

    non_alpha = re.compile(r"\W", re.UNICODE)
    for row in corpus.itertuples(index=False):
        if len(non_alpha.split(row.content.lower())) < cfg.min_length:
            assert row.doc_id not in kept_ids


@pytest.mark.parametrize("hash_bits", [16, 64])
def test_minhash_hash_bits_variants_match_oracle(spark, corpus, corpus_df, hash_bits):
    """16-bit and legacy-datasketch 64-bit arithmetic modes
    (reference HASH_CONFIG, minhash.py:289-296)."""
    cfg = MinHashConfig(ngram=5, min_length=5, num_perm=250, b=25, r=10, hash_bits=hash_bits)
    from tests.oracle import minhash_clusters as mc

    oracle_assign, oracle_kept = mc(
        corpus["content"].tolist(),
        corpus["doc_id"].tolist(),
        ngram=5, min_length=5, num_perm=250, b=25, r=10,
        seed=cfg.seed, hash_bits=hash_bits,
    )
    result = minhash_dedup(corpus_df, cfg)
    ours = _our_assignment(result, oracle_kept)
    op, sp = cluster_pairs(oracle_assign), cluster_pairs(ours)
    assert len(op) > 50
    assert len(op & sp) / len(op) >= 0.99
    assert len(op & sp) / max(len(sp), 1) >= 0.99


def _distinct_words(prefix, n_shingles, ngram=5):
    """A doc of exactly n_shingles distinct word n-grams."""
    return " ".join(f"{prefix}{i}" for i in range(n_shingles + ngram - 1))


@pytest.mark.parametrize(
    "base_hash,hash_bits",
    [(bh, hb) for bh in ("xxh32", "sha1") for hb in (16, 32, 64)],
)
def test_band_signatures_match_unchunked_oracle(base_hash, hash_bits):
    """compute_band_signatures equals a per-doc, unchunked permute-and-min
    on a batch whose docs end exactly on, straddle and span several
    _PERMUTE_CHUNK slices, next to null, too-short and repeated docs."""
    from sparkdedup.minhash import _PERMUTE_CHUNK, compute_band_signatures

    chunk = _PERMUTE_CHUNK
    cfg = MinHashConfig(base_hash=base_hash, hash_bits=hash_bits, num_perm=32, b=8, r=4)
    texts = [
        None,
        "too short",
        _distinct_words("a", 60),
        _distinct_words("b", chunk - 60),  # ends exactly on a slice boundary
        _distinct_words("c", 700),
        _distinct_words("d", 700),  # straddles the second boundary
        _distinct_words("e", 3 * chunk + 500),  # spans three boundaries
        "the quick brown fox jumps over the lazy dog " * 3,
        None,
    ]
    b, r = cfg.resolved_bands()
    want = []
    for t in texts:
        sig = None if t is None else doc_signature(
            t, cfg.ngram, cfg.min_length, cfg.num_perm, cfg.seed, hash_bits, base_hash
        )
        want.append(None if sig is None else [sig[i * r : (i + 1) * r].tobytes() for i in range(b)])
    got = compute_band_signatures(texts, cfg)
    assert got == want
    assert got[0] is None and got[1] is None and all(g is not None for g in got[2:8])


def test_sha1_base_hash_dedups_planted_duplicates(spark):
    from sparkdedup.config import MinHashConfig
    from sparkdedup.fixtures import generate_code_files
    from sparkdedup.minhash import minhash_dedup

    corpus = generate_code_files(300, seed=42)
    df = spark.createDataFrame(corpus).withColumn("__id__", F.col("doc_id"))
    res_sha = minhash_dedup(df, MinHashConfig(base_hash="sha1"))
    res_xxh = minhash_dedup(df, MinHashConfig())
    # same near-identical planted dups -> identical surviving sets
    sha_ids = {r["doc_id"] for r in res_sha.kept.select("doc_id").collect()}
    xxh_ids = {r["doc_id"] for r in res_xxh.kept.select("doc_id").collect()}
    assert sha_ids == xxh_ids


@pytest.mark.parametrize("shape", ["minhash_bands", "staged", "streaming"])
def test_signature_udf_runs_once_per_row(spark, corpus_df, shape):
    """Each signature frame's executed plan calls the kernel once per
    scan branch: the null filter after the UDF must not be rewritten
    into a second ArrowEvalPython of the same call."""
    from sparkdedup.minhash import SIG, make_signature_udf
    from sparkdedup.streaming import streaming_signatures
    from tests.plans import udf_evals

    cfg = MinHashConfig()
    frame = {
        "minhash_bands": lambda: minhash_bands(corpus_df, cfg),
        "staged": lambda: corpus_df.select(
            F.col("__id__"), make_signature_udf(cfg)(F.col(cfg.column)).alias(SIG)
        ).filter(F.col(SIG).isNotNull()),
        "streaming": lambda: streaming_signatures(corpus_df, cfg, id_col="__id__"),
    }[shape]()
    assert udf_evals(frame, "signature") == 1

