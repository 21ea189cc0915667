"""Driver contract for the spark-graft builder (PySpark target).

queries() cover the implemented operator inventory (SURVEY.md §2) over
the driver-provided tables (documents/embeddings). SQL-expressible
operators carry an exact DuckDB oracle; hash-math pipelines
(MinHash/SimHash — xxh32/xxh64 signatures not expressible in SQL) are
rows-only checked here and golden-tested against the NumPy oracle in
tests/ instead. Approximate ANN rows (ivf/lsh) emit agreement-vs-exact
bound checks whose exact side IS oracle-able, so a recall collapse
fails the value hash.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# embeddings table contract: fixed dim across all SFs (verified for
# /root/testdata/sf*); a schema-carried constant instead of a
# driver-side first() probe per query build
_EMB_DIM = 64


# --- persisted-frame bookkeeping ------------------------------------------
# Result objects (minhash/simhash/substring/jaccard) persist pipeline
# frames; a long-lived session running many queries (bench loop, the
# driver) should release each once consumed. Queries register their
# results here; callers invoke release_all() after materializing.
_RELEASABLE: list = []


def _track(res):
    _RELEASABLE.append(res)
    return res


def release_all() -> None:
    """Unpersist every tracked result's cached frames (idempotent)."""
    while _RELEASABLE:
        res = _RELEASABLE.pop()
        try:
            res.release()
        except Exception:
            pass


# --- dedup queries -------------------------------------------------------


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkdedup.config import ExactHashConfig
    from sparkdedup.exact import exact_hash_dedup

    df = _docs(spark, sf_dir)
    out = exact_hash_dedup(df, ExactHashConfig(column="text"), id_col="doc_id")
    return out.select("doc_id", "text", "lang", "source")


def q_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkdedup.config import ExactHashConfig
    from sparkdedup.exact import bloom_filter_dedup

    df = _docs(spark, sf_dir)
    out = bloom_filter_dedup(df, ExactHashConfig(column="text", hash_func="md5"), id_col="doc_id")
    return out.select("doc_id", "lang")


def q_ccnet_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkdedup.config import CCNetConfig
    from sparkdedup.exact import ccnet_dedup

    df = _docs(spark, sf_dir)
    out = ccnet_dedup(df, CCNetConfig(column="text"), id_col="doc_id")
    return out.select("doc_id", F.col("text").alias("deduped_text"))


def q_length_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # F1 min-length predicate, pure-column form (SURVEY.md §2.2)
    df = _docs(spark, sf_dir)
    return df.filter(F.size(F.split(F.lower(F.col("text")), r"(?U)\W")) >= 5).select(
        "doc_id", "n_chars"
    )


def q_minhash_dedup_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the raw MinHash-LSH pipeline output — bench times this and entry()
    # smoke-checks it; the driver row below wraps it in an
    # oracle-checkable agreement bound (hash-math signatures themselves
    # are not SQL-expressible; golden-pinned in tests/ instead)
    from sparkdedup.config import MinHashConfig
    from sparkdedup.io import with_doc_id
    from sparkdedup.minhash import minhash_dedup

    df = with_doc_id(_docs(spark, sf_dir), id_column="doc_id")
    res = _track(minhash_dedup(df, MinHashConfig(column="text")))
    return res.kept.select("doc_id", "lang", "source")


def q_simhash_dedup_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkdedup.config import SimHashConfig
    from sparkdedup.io import with_doc_id
    from sparkdedup.simhash import simhash_dedup

    df = with_doc_id(_docs(spark, sf_dir), id_column="doc_id")
    res = _track(simhash_dedup(df, SimHashConfig(column="text")))
    return res.kept.select("doc_id", "lang", "source")


def _jaccard_truth(spark: SparkSession, sf_dir: str):
    """(kept, assignment) of the EXACT word-5-gram Jaccard>=0.7
    threshold clustering — the semantic target MinHash-LSH/SimHash
    approximate, and fully SQL-expressible (the jaccard_dedup oracle's
    recursive CTE). O(N^2) all-pairs: driver-SF validation only, never
    a production path.

    kept: (doc_id) survivors (min-id per cluster + singletons);
    assignment: (doc_id, component) min-id labels for clustered docs."""
    from sparkdedup.cc import connected_components
    from sparkdedup.jaccard import jaccard, shingle_array

    docs = _docs(spark, sf_dir)
    filt = docs.filter(F.size(F.split(F.lower(F.col("text")), r"(?U)\W")) >= 5)
    # intersect 64-bit shingle hashes, not strings: identical Jaccard
    # values barring a 64-bit collision inside one doc's shingle set
    # (~|s|^2/2^64 — negligible, and the sf0.01 DuckDB parity check
    # pins the string-semantics result), ~10x cheaper per pair
    sh = filt.select(
        "doc_id",
        F.array_distinct(
            F.transform(shingle_array(F.col("text"), 5), lambda x: F.xxhash64(x))
        ).alias("s"),
    ).withColumn("n", F.size("s"))
    # exactness-preserving prefilter: J(A,B) <= min(|A|,|B|)/max(|A|,|B|),
    # so pairs failing the size ratio can never reach the threshold —
    # the array_intersect runs only on surviving pairs
    edges = (
        sh.alias("a")
        .join(
            sh.alias("b"),
            (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.least(F.col("a.n"), F.col("b.n"))
                >= F.greatest(F.col("a.n"), F.col("b.n")) * F.lit(0.7)
            ),
        )
        .filter(jaccard(F.col("a.s"), F.col("b.s")) >= 0.7)
        .select(F.col("b.doc_id").alias("src"), F.col("a.doc_id").alias("dst"))
    )
    assignment, _ = connected_components(edges)
    assignment = assignment.select(F.col("id").alias("doc_id"), "component")
    kept = (
        filt.select("doc_id")
        .join(assignment, on="doc_id", how="left")
        .filter(F.col("component").isNull() | (F.col("component") == F.col("doc_id")))
        .select("doc_id")
    )
    return kept, assignment


# agreement bounds for the hash-math pipelines vs the exact-Jaccard
# truth (VERDICT r3 #6: converts the last rows-only rows to checked).
# MinHash-LSH at (b,r)=optimal_param(0.7, 250) reproduces the truth
# exactly on the driver corpora (golden recall/precision 1.0) — the
# bound is slack for FP-tie robustness only. SimHash is a DIFFERENT
# similarity model (Hamming<=3 on 64-bit fingerprints); near-dups in
# the driver tables are near-identical, where the two models agree —
# measured kept-set Jaccard >=0.97 across sf0.001/0.01/0.1.
_MINHASH_MIN_AGREEMENT = 0.98
_SIMHASH_MIN_AGREEMENT = 0.90


def q_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE row: (n_true_kept, agreement_ok). n_true_kept (exact-Jaccard
    # clustering survivors) is value-checked against DuckDB's recursive
    # CTE; agreement_ok asserts kept-set Jaccard(minhash, truth) >= bound
    mh = q_minhash_dedup_raw(spark, sf_dir).select("doc_id")
    truth, _ = _jaccard_truth(spark, sf_dir)
    j = (
        truth.select("doc_id", F.lit(1).alias("t"))
        .join(mh.select("doc_id", F.lit(1).alias("m")), on="doc_id", how="full")
    )
    return j.agg(
        F.count("t").alias("n_true_kept"),
        (
            F.count(F.when(F.col("t").isNotNull() & F.col("m").isNotNull(), 1))
            >= F.count(F.lit(1)) * F.lit(_MINHASH_MIN_AGREEMENT)
        ).alias("agreement_ok"),
    )


def q_minhash_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE row: (n_true_assigned, agreement_ok) — component labels
    # (min-id per cluster, both sides) must match on >= bound of the
    # union of assigned docs
    from sparkdedup.config import MinHashConfig
    from sparkdedup.io import with_doc_id
    from sparkdedup.minhash import minhash_dedup

    df = with_doc_id(_docs(spark, sf_dir), id_column="doc_id")
    res = _track(minhash_dedup(df, MinHashConfig(column="text")))
    mh = res.assignment.select(F.col("id").alias("doc_id"), F.col("component").alias("mc"))
    _, truth = _jaccard_truth(spark, sf_dir)
    j = truth.withColumnRenamed("component", "tc").join(mh, on="doc_id", how="full")
    return j.agg(
        F.count("tc").alias("n_true_assigned"),
        (
            F.count(F.when(F.col("tc") == F.col("mc"), 1))
            >= F.count(F.lit(1)) * F.lit(_MINHASH_MIN_AGREEMENT)
        ).alias("agreement_ok"),
    )


def q_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE row: (n_true_kept, agreement_ok) — SimHash kept set vs the
    # exact-Jaccard truth; checks semantic dedup quality (the bit-level
    # fingerprint math is golden-pinned in tests/test_simhash.py)
    sh = q_simhash_dedup_raw(spark, sf_dir).select("doc_id")
    truth, _ = _jaccard_truth(spark, sf_dir)
    j = (
        truth.select("doc_id", F.lit(1).alias("t"))
        .join(sh.select("doc_id", F.lit(1).alias("s")), on="doc_id", how="full")
    )
    return j.agg(
        F.count("t").alias("n_true_kept"),
        (
            F.count(F.when(F.col("t").isNotNull() & F.col("s").isNotNull(), 1))
            >= F.count(F.lit(1)) * F.lit(_SIMHASH_MIN_AGREEMENT)
        ).alias("agreement_ok"),
    )


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # k=30 (not the reference default 100) so the driver tables exercise
    # a non-degenerate removal; byte==char here (ASCII corpus)
    from sparkdedup.config import SubstringConfig
    from sparkdedup.io import with_doc_id
    from sparkdedup.suffix import substring_dedup

    df = with_doc_id(_docs(spark, sf_dir), id_column="doc_id")
    res = _track(substring_dedup(df, SubstringConfig(column="text", k=30)))
    return res.kept.select("doc_id", F.col("text").alias("deduped_text"))


# --- text analysis -------------------------------------------------------


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkdedup.textstats import text_stats

    return text_stats(_docs(spark, sf_dir), column="text", id_col="doc_id")


def q_lang_id_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # staged projections: one regex split + 4 array filters per doc
    # instead of the single-expression form Catalyst expands to ~8
    # splits (same vote semantics; textstats.language_id_staged)
    from sparkdedup.textstats import language_id_staged

    df = _docs(spark, sf_dir)
    return (
        language_id_staged(df, column="text")
        .groupBy("lang_guess")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_jaccard_vs_doc0(spark: SparkSession, sf_dir: str) -> DataFrame:
    # H13 jaccard similarity as a first-class JVM expression
    from sparkdedup.jaccard import jaccard, shingle_array

    docs = _docs(spark, sf_dir)
    base = docs.filter(F.col("doc_id") == 0).select(
        shingle_array(F.col("text"), 3).alias("base_sh")
    )
    return (
        docs.crossJoin(F.broadcast(base))
        .select(
            "doc_id",
            F.round(jaccard(shingle_array(F.col("text"), 3), F.col("base_sh")), 4).alias("jac"),
        )
    )


def q_jaccard_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkdedup.config import MinHashConfig
    from sparkdedup.io import with_doc_id
    from sparkdedup.jaccard import jaccard_dedup

    df = with_doc_id(_docs(spark, sf_dir), id_column="doc_id")
    res = _track(jaccard_dedup(df, MinHashConfig(column="text", threshold=0.7)))
    return res.kept.select("doc_id", "lang")


def q_asset_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # multimodal plumbing: documents masquerade as binary image assets;
    # feature vector is stubbed (no codecs in env) but n_bytes/sha256
    # are real and oracle-checked
    from sparkdedup.multimodal import extract_features

    assets = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("asset_id"),
        F.lit("image").alias("kind"),
        F.lit("image/png").alias("mime"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("int").alias("duration_ms"),
    )
    return extract_features(assets).select("asset_id", "kind", "n_bytes", "sha256")


# --- embeddings ----------------------------------------------------------


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkdedup.ann import brute_force_topk
    from sparkdedup.config import ANNConfig

    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < 10)
    return brute_force_topk(embs, queries, ANNConfig(top_k=5))


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact all-pairs variant exists for oracle parity; size-gated to the
    # driver tables (the LSH variant below is the scale path)
    from sparkdedup.ann import near_dup_pairs
    from sparkdedup.config import ANNConfig

    embs = _embs(spark, sf_dir)
    return near_dup_pairs(embs, _EMB_DIM, ANNConfig(threshold=0.35), exact=True)


def q_embedding_near_dup_lsh_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    # LSH-bucketed scale path (approximate candidate gen, exact verify);
    # the raw pair list — bench measures this, the driver row below
    # wraps it in an oracle-checkable recall bound
    from sparkdedup.ann import near_dup_pairs
    from sparkdedup.config import ANNConfig

    embs = _embs(spark, sf_dir)
    return near_dup_pairs(
        embs, _EMB_DIM, ANNConfig(threshold=0.35, num_hyperplanes=4, num_tables=16), exact=False
    )


# approximate-vs-exact bounds the driver rows assert Spark-side; the
# DuckDB oracle pins the exact-side numbers and the constant-true
# bound, so a recall/agreement collapse hash-mismatches the row
# (VERDICT r2 #6: converts rows-only ANN rows to checked)
_LSH_MIN_RECALL = 0.85
# aggregate recall@5 over the 10 probe queries; measured 0.74-0.80
# across sf0.001/0.01/0.1 (per-query minima dip to 1/5 on the
# near-random testdata embeddings, so the bound is aggregate)
_IVF_TOPK_MIN_RECALL = 0.6
_IVF_DEDUP_MIN_AGREEMENT = 0.90


def q_embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE row: (n_exact_pairs, recall_ok). n_exact_pairs is value-checked
    # against DuckDB's all-pairs count; recall_ok asserts the LSH pair
    # list (a subset of the exact list by construction — candidates are
    # cosine-verified) recovers >= _LSH_MIN_RECALL of it.
    from sparkdedup.ann import near_dup_pairs
    from sparkdedup.config import ANNConfig

    embs = _embs(spark, sf_dir)
    exact = near_dup_pairs(embs, _EMB_DIM, ANNConfig(threshold=0.35), exact=True)
    lsh = q_embedding_near_dup_lsh_raw(spark, sf_dir)
    j = (
        exact.select("id_a", "id_b", F.lit(1).alias("e"))
        .join(lsh.select("id_a", "id_b", F.lit(1).alias("l")), on=["id_a", "id_b"], how="left")
    )
    return j.agg(
        F.count(F.lit(1)).alias("n_exact_pairs"),
        (F.count("l") >= F.count(F.lit(1)) * F.lit(_LSH_MIN_RECALL)).alias("recall_ok"),
    )


def q_ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE row: (n_exact, recall_ok) — n_exact (the exact top-5 result
    # count over the 10 probe queries) is value-checked against DuckDB;
    # recall_ok asserts aggregate IVF-vs-exact overlap >= bound
    from sparkdedup.ann import brute_force_topk, ivf_topk
    from sparkdedup.config import ANNConfig

    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < 10)
    cfg = ANNConfig(top_k=5)
    exact = brute_force_topk(embs, queries, cfg).select("query_id", "neighbor_id")
    approx = ivf_topk(embs, queries, cfg, n_centroids=8, n_probe=4).select(
        "query_id", "neighbor_id"
    )
    hits = approx.join(exact, on=["query_id", "neighbor_id"], how="leftsemi")
    return exact.select(F.lit(1).alias("e")).agg(
        F.count(F.lit(1)).alias("n_exact"),
    ).crossJoin(
        hits.agg(F.count(F.lit(1)).alias("__h__"))
    ).select(
        "n_exact",
        (F.col("__h__") >= F.col("n_exact") * F.lit(_IVF_TOPK_MIN_RECALL)).alias("recall_ok"),
    )


def q_ann_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # adaptive-k ANN dedup (reference ann_unisim mode), exact variant for
    # oracle parity (threshold pairs -> CC -> min-id representative)
    from sparkdedup.ann import ann_dedup
    from sparkdedup.config import ANNConfig

    embs = _embs(spark, sf_dir)
    res = ann_dedup(embs, _EMB_DIM, ANNConfig(threshold=0.35), exact=True)
    return res.kept.select("vec_id")


def q_ann_dedup_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the scale path: k-doubling saturation loop over the IVF index
    # (broadcast-free ivf_search). ONE row: (n_exact_kept,
    # agreement_ok) — n_exact_kept is value-checked against DuckDB's
    # recursive-CTE clustering; agreement_ok asserts set-Jaccard of the
    # IVF kept set vs the exact kept set >= bound.
    from sparkdedup.ann import ann_dedup
    from sparkdedup.config import ANNConfig

    embs = _embs(spark, sf_dir)
    exact = ann_dedup(embs, _EMB_DIM, ANNConfig(threshold=0.35), exact=True)
    ivf = ann_dedup(
        embs, _EMB_DIM, ANNConfig(threshold=0.35), exact=False,
        n_centroids=8, n_probe=4,
    )
    j = (
        exact.kept.select("vec_id", F.lit(1).alias("e"))
        .join(ivf.kept.select("vec_id", F.lit(1).alias("i")), on="vec_id", how="full")
    )
    return j.agg(
        F.count("e").alias("n_exact_kept"),
        (
            F.count(F.when(F.col("e").isNotNull() & F.col("i").isNotNull(), 1))
            >= F.count(F.lit(1)) * F.lit(_IVF_DEDUP_MIN_AGREEMENT)
        ).alias("agreement_ok"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: MinHash-LSH dedup of sf0.001 documents."""
    return q_minhash_dedup_raw(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "exact_dedup": q_exact_dedup,
        "bloom_dedup": q_bloom_dedup,
        "ccnet_line_dedup": q_ccnet_line_dedup,
        "length_filter": q_length_filter,
        "minhash_dedup": q_minhash_dedup,
        "minhash_assignment": q_minhash_assignment,
        "simhash_dedup": q_simhash_dedup,
        "substring_dedup": q_substring_dedup,
        "text_stats": q_text_stats,
        "lang_id_counts": q_lang_id_counts,
        "jaccard_vs_doc0": q_jaccard_vs_doc0,
        "jaccard_dedup": q_jaccard_dedup,
        "asset_features": q_asset_features,
        "ann_topk": q_ann_topk,
        "ann_topk_ivf": q_ann_topk_ivf,
        "ann_dedup": q_ann_dedup,
        "ann_dedup_ivf": q_ann_dedup_ivf,
        "embedding_near_dup": q_embedding_near_dup,
        "embedding_near_dup_lsh": q_embedding_near_dup_lsh,
    }


_LANG_MARKER_SQL = {
    "en": "['the','and','of','to','is']",
    "fr": "['le','la','les','et','est']",
    "es": "['el','los','las','es','una']",
    "de": "['der','die','das','und','ist']",
}


def _hits(lang: str) -> str:
    return (
        "len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), "
        f"t -> list_contains({_LANG_MARKER_SQL[lang]}, t)))"
    )


_LANG_GUESS_EXPR = f"""
    CASE WHEN greatest({_hits('en')}, {_hits('fr')}, {_hits('es')}, {_hits('de')}) = 0 THEN 'und'
         WHEN {_hits('en')} = greatest({_hits('en')}, {_hits('fr')}, {_hits('es')}, {_hits('de')}) THEN 'en'
         WHEN {_hits('fr')} = greatest({_hits('en')}, {_hits('fr')}, {_hits('es')}, {_hits('de')}) THEN 'fr'
         WHEN {_hits('es')} = greatest({_hits('en')}, {_hits('fr')}, {_hits('es')}, {_hits('de')}) THEN 'es'
         ELSE 'de' END
"""


# exact word-5-gram Jaccard>=0.7 threshold clustering over >=5-token
# docs — the DuckDB-expressible truth the minhash/simhash agreement
# rows compare against (same CTE family as the jaccard_dedup oracle)
_JACCARD_TRUTH_CTE = """
    WITH RECURSIVE toks AS (
        SELECT doc_id, string_split_regex(lower(text), '\\W') AS tk
        FROM documents
        WHERE len(string_split_regex(lower(text), '\\W')) >= 5
    ),
    sh AS (
        SELECT doc_id,
               list_distinct(CASE
                 WHEN len(tk) < 5 THEN [array_to_string(tk, ' ')]
                 ELSE list_transform(range(1, len(tk) - 5 + 2),
                                     i -> array_to_string(tk[i:i+4], ' '))
               END) AS s
        FROM toks
    ),
    pairs AS (
        SELECT a.doc_id AS src, b.doc_id AS dst
        FROM sh a JOIN sh b ON a.doc_id > b.doc_id
        WHERE CASE WHEN len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) = 0 THEN 1.0
              ELSE len(list_intersect(a.s, b.s)) * 1.0
                   / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) END >= 0.7
    ),
    und AS (SELECT src, dst FROM pairs UNION SELECT dst AS src, src AS dst FROM pairs),
    reach AS (
        SELECT src AS a, dst AS b FROM und
        UNION
        SELECT r.a, u.dst AS b FROM reach r JOIN und u ON r.b = u.src WHERE u.dst != r.a
    ),
    comp AS (SELECT a AS doc_id, min(b) AS mn FROM reach GROUP BY a)
"""


def oracle_sql() -> dict[str, str]:
    return {
        # agreement rows for the hash-math pipelines (see the query
        # docstrings): DuckDB pins the exact-Jaccard-truth count and the
        # constant-true bound; the Spark row computes the approximate
        # pipeline and its agreement, so a quality collapse fails the
        # value hash
        "minhash_dedup": _JACCARD_TRUTH_CTE + """
            SELECT count(*) AS n_true_kept, true AS agreement_ok
            FROM sh LEFT JOIN comp ON sh.doc_id = comp.doc_id
            WHERE comp.doc_id IS NULL OR comp.mn > sh.doc_id
        """,
        "minhash_assignment": _JACCARD_TRUTH_CTE + """
            SELECT count(*) AS n_true_assigned, true AS agreement_ok FROM comp
        """,
        "simhash_dedup": _JACCARD_TRUTH_CTE + """
            SELECT count(*) AS n_true_kept, true AS agreement_ok
            FROM sh LEFT JOIN comp ON sh.doc_id = comp.doc_id
            WHERE comp.doc_id IS NULL OR comp.mn > sh.doc_id
        """,
        "exact_dedup": """
            SELECT d.doc_id, d.text, d.lang, d.source
            FROM documents d
            JOIN (SELECT text, min(doc_id) AS m FROM documents GROUP BY text) g
              ON d.text = g.text AND d.doc_id = g.m
        """,
        "bloom_dedup": """
            SELECT d.doc_id, d.lang
            FROM documents d
            JOIN (SELECT text, min(doc_id) AS m FROM documents GROUP BY text) g
              ON d.text = g.text AND d.doc_id = g.m
        """,
        "ccnet_line_dedup": """
            WITH lines AS (
                SELECT doc_id, ord - 1 AS line_no, ls[ord] AS line,
                       regexp_replace(regexp_replace(lower(trim(ls[ord])), '\\d', '0', 'g'),
                                      '[\\p{P}\\p{C}\\p{S}]+', '', 'g') AS norm
                FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents),
                     UNNEST(range(1, len(ls) + 1)) AS t(ord)
            ),
            firsts AS (
                SELECT norm, min(struct_pack(doc_id := doc_id, line_no := line_no)) AS f
                FROM lines GROUP BY norm
            ),
            kept AS (
                SELECT l.doc_id, l.line_no, l.line
                FROM lines l JOIN firsts ON l.norm = firsts.norm
                WHERE firsts.f.doc_id = l.doc_id AND firsts.f.line_no = l.line_no
            )
            SELECT doc_id, string_agg(line, chr(10) ORDER BY line_no) AS deduped_text
            FROM kept GROUP BY doc_id
            HAVING length(string_agg(line, chr(10) ORDER BY line_no)) > 0
        """,
        "length_filter": """
            SELECT doc_id, n_chars FROM documents
            WHERE len(string_split_regex(lower(text), '\\W')) >= 5
        """,
        "text_stats": """
            SELECT doc_id,
                   CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
                   length(text) AS n_chars,
                   CASE WHEN length(text) = 0 THEN 0.0
                        ELSE (length(text) - length(regexp_replace(text, '\\p{P}', '', 'g'))) * 1.0 / length(text)
                   END AS punct_ratio,
                   ((CASE WHEN length(text) BETWEEN 50 AND 20000 THEN 1.0 ELSE 0.0 END)
                    + (CASE WHEN (length(text) - length(regexp_replace(text, '\\p{P}', '', 'g'))) * 1.0
                            / nullif(length(text), 0) <= 0.3 THEN 1.0 ELSE 0.0 END)
                    + (CASE WHEN length(text) * 1.0 / nullif(len(string_split_regex(trim(text), '\\s+')), 0)
                            BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.0 END)) / 3.0 AS quality,
                   """ + _LANG_GUESS_EXPR + """ AS lang_guess,
                   md5(text) AS fingerprint
            FROM documents
        """,
        "lang_id_counts": "SELECT " + _LANG_GUESS_EXPR + """ AS lang_guess, count(*) AS n
            FROM documents GROUP BY 1
        """,
        "jaccard_vs_doc0": """
            WITH sh AS (
                SELECT doc_id,
                       list_distinct(CASE
                         WHEN len(string_split_regex(lower(text), '\\W')) < 3
                         THEN [array_to_string(string_split_regex(lower(text), '\\W'), ' ')]
                         ELSE list_transform(
                              range(1, len(string_split_regex(lower(text), '\\W')) - 3 + 2),
                              i -> array_to_string(string_split_regex(lower(text), '\\W')[i:i+2], ' '))
                       END) AS s
                FROM documents
            ),
            base AS (SELECT s AS bs FROM sh WHERE doc_id = 0)
            SELECT sh.doc_id,
                   round(CASE WHEN len(sh.s) + len(bs) - len(list_intersect(sh.s, bs)) = 0 THEN 1.0
                         ELSE len(list_intersect(sh.s, bs)) * 1.0
                              / (len(sh.s) + len(bs) - len(list_intersect(sh.s, bs))) END, 4) AS jac
            FROM sh, base
        """,
        "asset_features": """
            SELECT doc_id AS asset_id, 'image' AS kind,
                   octet_length(text::BLOB) AS n_bytes, sha256(text) AS sha256
            FROM documents
        """,
        "substring_dedup": """
            WITH wins AS (
                SELECT doc_id, i, substr(text, i, 30) AS w
                FROM documents, UNNEST(range(1, greatest(length(text) - 30 + 2, 1))) t(i)
                WHERE length(text) >= 30
            ),
            dupw AS (SELECT w FROM wins GROUP BY w HAVING count(*) > 1),
            marked AS (SELECT doc_id, i FROM wins JOIN dupw USING (w)),
            pos AS (
                SELECT doc_id, p FROM documents,
                     UNNEST(range(1, length(text) + 1)) t(p)
            ),
            covered AS (
                SELECT DISTINCT pos.doc_id, pos.p
                FROM pos JOIN marked ON pos.doc_id = marked.doc_id
                     AND pos.p BETWEEN marked.i AND marked.i + 29
            ),
            kept AS (
                SELECT pos.doc_id, pos.p FROM pos
                ANTI JOIN covered ON pos.doc_id = covered.doc_id AND pos.p = covered.p
            )
            SELECT k.doc_id,
                   string_agg(substr(d.text, k.p, 1), '' ORDER BY k.p) AS deduped_text
            FROM kept k JOIN documents d ON k.doc_id = d.doc_id
            GROUP BY k.doc_id
            HAVING length(string_agg(substr(d.text, k.p, 1), '' ORDER BY k.p)) > 0
        """,
        "embedding_near_dup": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS sim
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.35
        """,
        # approximate-path bound checks: DuckDB pins the EXACT-side
        # value (pair/kept counts, query-id set) plus the constant-true
        # bound; the Spark row computes the approximate result and its
        # agreement vs exact, so a recall collapse fails the value hash
        "embedding_near_dup_lsh": """
            SELECT count(*) AS n_exact_pairs, true AS recall_ok
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.35
        """,
        "ann_topk_ivf": """
            WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 10),
            scored AS (
                SELECT q.query_id, e.vec_id AS neighbor_id,
                       list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) AS s
                FROM q JOIN embeddings e ON e.vec_id != q.query_id
            ),
            ranked AS (
                SELECT query_id,
                       row_number() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rank
                FROM scored
            )
            SELECT count(*) AS n_exact, true AS recall_ok
            FROM ranked WHERE rank <= 5
        """,
        "ann_dedup_ivf": """
            WITH RECURSIVE pairs AS (
                SELECT a.vec_id AS src, b.vec_id AS dst
                FROM embeddings a JOIN embeddings b ON a.vec_id > b.vec_id
                WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.35
            ),
            und AS (SELECT src, dst FROM pairs UNION SELECT dst AS src, src AS dst FROM pairs),
            reach AS (
                SELECT src AS a, dst AS b FROM und
                UNION
                SELECT r.a, u.dst AS b FROM reach r JOIN und u ON r.b = u.src WHERE u.dst != r.a
            ),
            comp AS (SELECT a AS vec_id, min(b) AS mn FROM reach GROUP BY a)
            SELECT count(*) AS n_exact_kept, true AS agreement_ok
            FROM embeddings e LEFT JOIN comp ON e.vec_id = comp.vec_id
            WHERE comp.vec_id IS NULL OR comp.mn > e.vec_id
        """,
        "ann_dedup": """
            WITH RECURSIVE pairs AS (
                SELECT a.vec_id AS src, b.vec_id AS dst
                FROM embeddings a JOIN embeddings b ON a.vec_id > b.vec_id
                WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.35
            ),
            und AS (SELECT src, dst FROM pairs UNION SELECT dst AS src, src AS dst FROM pairs),
            reach AS (
                SELECT src AS a, dst AS b FROM und
                UNION
                SELECT r.a, u.dst AS b FROM reach r JOIN und u ON r.b = u.src WHERE u.dst != r.a
            ),
            comp AS (SELECT a AS vec_id, min(b) AS mn FROM reach GROUP BY a)
            SELECT e.vec_id
            FROM embeddings e LEFT JOIN comp ON e.vec_id = comp.vec_id
            WHERE comp.vec_id IS NULL OR comp.mn > e.vec_id
        """,
        "ann_topk": """
            WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 10),
            scored AS (
                SELECT q.query_id, e.vec_id AS neighbor_id,
                       list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) AS s
                FROM q JOIN embeddings e ON e.vec_id != q.query_id
            ),
            ranked AS (
                SELECT query_id, neighbor_id, s,
                       row_number() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rank
                FROM scored
            )
            SELECT query_id, neighbor_id, round(s, 4) AS sim, rank
            FROM ranked WHERE rank <= 5
        """,
        # Equivalence caveat: the Spark pipeline verifies exact Jaccard on
        # LSH *star-edge* candidates; this oracle computes the full
        # jaccard>=0.7 pair graph. They coincide when LSH recall is 1.0
        # and star-edge verification does not split a component — true on
        # the driver corpus (dup pairs are near-identical, jac ~1), and
        # exactly what the value-hash check asserts.
        "jaccard_dedup": """
            WITH RECURSIVE toks AS (
                SELECT doc_id, lang, string_split_regex(lower(text), '\\W') AS tk
                FROM documents
                WHERE len(string_split_regex(lower(text), '\\W')) >= 5
            ),
            sh AS (
                SELECT doc_id, lang,
                       list_distinct(CASE
                         WHEN len(tk) < 5 THEN [array_to_string(tk, ' ')]
                         ELSE list_transform(range(1, len(tk) - 5 + 2),
                                             i -> array_to_string(tk[i:i+4], ' '))
                       END) AS s
                FROM toks
            ),
            pairs AS (
                SELECT a.doc_id AS src, b.doc_id AS dst
                FROM sh a JOIN sh b ON a.doc_id > b.doc_id
                WHERE CASE WHEN len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) = 0 THEN 1.0
                      ELSE len(list_intersect(a.s, b.s)) * 1.0
                           / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) END >= 0.7
            ),
            und AS (SELECT src, dst FROM pairs UNION SELECT dst AS src, src AS dst FROM pairs),
            reach AS (
                SELECT src AS a, dst AS b FROM und
                UNION
                SELECT r.a, u.dst AS b FROM reach r JOIN und u ON r.b = u.src WHERE u.dst != r.a
            ),
            comp AS (SELECT a AS doc_id, min(b) AS mn FROM reach GROUP BY a)
            SELECT sh.doc_id, sh.lang
            FROM sh LEFT JOIN comp ON sh.doc_id = comp.doc_id
            WHERE comp.doc_id IS NULL OR comp.mn > sh.doc_id
        """,
    }
