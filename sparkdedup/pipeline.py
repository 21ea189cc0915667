"""End-to-end job drivers: stage-checkpointed, resumable, metrics out.

North-rule requirements (BASELINE.json): resumable from checkpoint with
per-partition lineage + metrics. Design:

  * every job is its mode's edge builder (or corpus-wide aggregation)
    cut at materialized stage boundaries by ``_stage``: the stable ids
    (written as about one file per core, so every later stage scans
    them in parallel without a corpus shuffle),
    the fingerprints / encoded vectors, the candidate EDGES, the CC
    ASSIGNMENT, the substring dup-keys and the ccnet line-firsts table
    are each written as parquet under ``work_dir`` with Spark's atomic
    _SUCCESS marker;
  * on restart ``_stage`` resumes every stage whose marker exists and
    rebuilds the rest, so all six jobs (minhash, simhash, jaccard, ann,
    substring, ccnet) restart AFTER their last complete stage — a
    killed CC run restarts from the saved edges, a killed write from
    the saved assignment; nothing re-reads the raw corpus except the
    final join;
  * the four near-dup jobs share one tail: CC over the staged edges,
    then cc.keep_representatives, then the partitioned write;
  * per-stage wall times, resume flags and row counts + per-partition
    output row counts are written as one metrics JSON artifact, with
    the run's ``facts``: CC's mode, iterations and edge count, the ANN
    loop's rounds, k and contractions, and the substring splice path —
    each recorded by the stage that learns it, so a resumed stage adds
    none. ``_stage`` is the only code that materializes a stage: the
    lazy ``*_dedup`` functions return the same ``RunMetrics`` record
    with no stages, uncounted rows and the same facts.

The CC loop itself additionally localCheckpoints every round
(sparkdedup.cc), bounding recomputation within the stage.
"""

from __future__ import annotations

import json
import os
import sys
import time
from dataclasses import asdict
from typing import Any, Callable, Dict, Optional, Sequence, Tuple

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkdedup.cc import RunMetrics, StageInfo, connected_components, keep_representatives
from sparkdedup.config import CCNetConfig, MinHashConfig, SimHashConfig, SubstringConfig
from sparkdedup.io import DOC_ID, partitioned_save, read_documents, with_doc_id
from sparkdedup.minhash import SIG, make_signature_udf, minhash_edges


def _complete(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _stage(
    spark: SparkSession,
    m: RunMetrics,
    name: str,
    path: str,
    build: Callable[[], DataFrame],
    also: Sequence[str] = (),
    count: Callable[[DataFrame], int] = DataFrame.count,
    options: Callable[[DataFrame], Dict[str, Any]] = lambda df: {},
) -> DataFrame:
    """Resume-or-build one materialized stage.

    The stage resumes when ``path`` and every side output in ``also``
    (written by ``build`` itself) hold a _SUCCESS marker; otherwise
    ``build()``'s frame is written to ``path`` with the writer options
    ``options(frame)``. Either way the parquet is read back, counted
    with ``count`` and recorded as ``m.stages[name]``."""
    t = time.time()
    resumed = all(_complete(p) for p in (path, *also))
    if not resumed:
        df = build()
        df.write.options(**options(df)).parquet(path, mode="overwrite")
    m.stages[name] = StageInfo(time.time() - t, resumed=resumed)
    df = spark.read.parquet(path)
    m.stages[name].rows = count(df)
    return df


def sample_clusters(
    docs: DataFrame,
    assignment: DataFrame,
    n_clusters: int = 10,
    id_col: str = DOC_ID,
    seed: int = 42,
) -> DataFrame:
    """Debug sampler: a few non-trivial clusters with their member rows
    (reference utils/inspect.py:9-25)."""
    sizes = assignment.groupBy("component").count().filter(F.col("count") > 1)
    picked = sizes.orderBy(F.xxhash64(F.col("component") + seed)).limit(n_clusters)
    members = assignment.join(picked.select("component"), on="component")
    return docs.join(
        members.withColumnRenamed("id", id_col), on=id_col
    ).orderBy("component", id_col)


def _write_metrics(m: RunMetrics, metrics_path: Optional[str]) -> None:
    if not metrics_path:
        return
    with open(metrics_path, "w") as f:
        json.dump(
            {
                "mode": m.mode,
                "rows_before": m.rows_before,
                "rows_after": m.rows_after,
                "stages": {k: asdict(v) for k, v in m.stages.items()},
                "partition_rows": m.partition_rows,
                "facts": m.facts,
            },
            f,
            indent=2,
        )


def _stage_ids(
    spark: SparkSession, input_path: str, work_dir: str, id_column: Optional[str], m: RunMetrics
) -> DataFrame:
    """Shared first stage: materialized stable ids (mii is not stable
    across recomputation — reference persists for the same reason,
    minhash_spark.py:419-430 — so ids must be staged before anything
    joins on them).

    The ids are written by one narrow job, split into files by
    ``_one_file_per_core``: each file is its own scan partition, so
    signatures, fingerprints, pass A, line-firsts and the final join
    all run with the cluster's parallelism even on a one-file input,
    and the corpus text is never shuffled to get it (the lazy
    ``*_dedup`` paths repartition instead, as the reference does).
    Without ``id_column`` the synthesized ids therefore follow input
    order: on near-duplicate clusters the number of survivors is the
    same as with a shuffled input, but which row survives may differ.
    A work dir staged earlier resumes with the ids it holds."""
    os.makedirs(work_dir, exist_ok=True)
    ids_df = _stage(
        spark, m, "ids", os.path.join(work_dir, "ids.parquet"),
        lambda: with_doc_id(read_documents(spark, input_path), id_column),
        count=lambda df: _checked_count(df, id_column),
        options=_one_file_per_core,
    )
    m.rows_before = m.stages["ids"].rows
    return ids_df


def _one_file_per_core(df: DataFrame) -> Dict[str, Any]:
    """Writer options for a scan with fewer partitions than cores:
    ``maxRecordsPerFile = ceil(rows / cores)`` (one extra count job),
    which splits its output into about one equal file per core. A scan
    that is already as wide as the cluster writes as it is."""
    cores = df.sparkSession.sparkContext.defaultParallelism
    # getNumPartitions() reflects the scan's bin-packing of small files,
    # which a file count does not; it costs one plan-to-RDD conversion
    if df.rdd.getNumPartitions() >= cores:
        return {}
    return {"maxRecordsPerFile": max(1, -(-df.count() // cores))}


def _checked_count(ids_df: DataFrame, id_column: Optional[str]) -> int:
    """Row count; for derived ids (string keys -> xxhash64) also assert
    uniqueness in the same aggregation — a 64-bit collision would
    silently merge two docs and drop one, so fail loudly instead."""
    if id_column is None:
        return ids_df.count()
    stats = ids_df.agg(
        F.count(F.lit(1)).alias("n"), F.count_distinct(F.col(DOC_ID)).alias("d")
    ).first()
    if stats["n"] != stats["d"]:
        # failure path only: one extra tiny job to make the abort
        # actionable — show which user keys collide
        sample = (
            ids_df.groupBy(DOC_ID)
            .agg(F.count(F.lit(1)).alias("c"), F.collect_set(F.col(id_column)).alias("keys"))
            .filter(F.col("c") > 1)
            .limit(5)
            .collect()
        )
        shown = "; ".join(str(sorted(r["keys"]))[:120] for r in sample)
        raise ValueError(
            f"id column {id_column!r} maps to {stats['n'] - stats['d']} colliding "
            f"__id__ values (hash collision or duplicate keys), e.g. {shown}; "
            f"deduplicate the key column or drop --index to synthesize ids"
        )
    return int(stats["n"])


def _signature_edges(
    spark: SparkSession,
    m: RunMetrics,
    work_dir: str,
    ids_df: DataFrame,
    cfg: MinHashConfig,
    edges_of: Callable[[DataFrame], DataFrame],
    *cols: str,
) -> Tuple[DataFrame, DataFrame]:
    """The minhash/jaccard "edges" stage: signatures -> kept ids (the
    length filter, a side output) + ``edges_of(signed docs)``. It
    resumes only when both outputs are complete. Returns (length-
    filtered ids_df, edges)."""
    kept_ids_path = os.path.join(work_dir, "kept_ids.parquet")
    with_sig = ids_df.select(
        F.col(DOC_ID), *cols, make_signature_udf(cfg)(F.col(cfg.column)).alias(SIG)
    ).filter(F.col(SIG).isNotNull())

    def build() -> DataFrame:
        with_sig.persist(StorageLevel.MEMORY_AND_DISK)
        with_sig.select(DOC_ID).write.parquet(kept_ids_path, mode="overwrite")
        return edges_of(with_sig)

    edges = _stage(
        spark, m, "edges", os.path.join(work_dir, "edges.parquet"), build, also=[kept_ids_path]
    )
    with_sig.unpersist()
    kept_ids = spark.read.parquet(kept_ids_path)
    return ids_df.join(kept_ids, on=DOC_ID, how="leftsemi"), edges


def _cluster_write(
    spark: SparkSession,
    m: RunMetrics,
    work_dir: str,
    docs: DataFrame,
    edges: DataFrame,
    id_col: str,
    output_path: str,
    metrics_path: Optional[str],
) -> RunMetrics:
    """The near-dup jobs' tail: staged CC assignment -> keep each
    component's representative -> write. CC's facts are recorded only
    when the ``cc`` stage runs, not when it resumes."""

    def cc() -> DataFrame:
        assignment, stats = connected_components(edges, n_edges=m.stages["edges"].rows)
        m.record_cc(stats)
        return assignment

    assignment = _stage(spark, m, "cc", os.path.join(work_dir, "assignment.parquet"), cc)
    t = time.time()
    kept = keep_representatives(docs, assignment, id_col)
    return _finalize(spark, kept, output_path, m, metrics_path, t)


def _finalize(
    spark: SparkSession, kept: DataFrame, output_path: str, m: RunMetrics,
    metrics_path: Optional[str], t: float,
) -> RunMetrics:
    partitioned_save(kept, output_path)
    m.stages["write"] = StageInfo(time.time() - t)
    out = spark.read.parquet(output_path)
    pid_rows = out.groupBy(F.spark_partition_id().alias("pid")).count().collect()
    m.partition_rows = {str(r["pid"]): r["count"] for r in pid_rows}
    m.rows_after = m.stages["write"].rows = sum(m.partition_rows.values())
    _write_metrics(m, metrics_path)
    return m


def minhash_job(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    work_dir: str,
    cfg: MinHashConfig = MinHashConfig(),
    id_column: Optional[str] = None,
    metrics_path: Optional[str] = None,
) -> RunMetrics:
    """Resumable MinHash-LSH dedup: ids -> (kept ids + edges) ->
    assignment -> representative write, plus the assignment artifact
    and a metrics JSON."""
    m = RunMetrics(mode="minhash")
    ids_df = _stage_ids(spark, input_path, work_dir, id_column, m)
    docs, edges = _signature_edges(spark, m, work_dir, ids_df, cfg, minhash_edges)
    return _cluster_write(spark, m, work_dir, docs, edges, DOC_ID, output_path, metrics_path)


def simhash_job(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    work_dir: str,
    cfg: SimHashConfig = SimHashConfig(),
    id_column: Optional[str] = None,
    metrics_path: Optional[str] = None,
) -> RunMetrics:
    """Resumable SimHash dedup: ids -> fingerprints -> edges ->
    assignment -> representative write. Docs too short to fingerprint
    are kept as unique (simhash_dedup semantics)."""
    from sparkdedup.simhash import FP, _fp_not_null, make_fingerprint_udf, simhash_edges

    m = RunMetrics(mode="simhash")
    ids_df = _stage_ids(spark, input_path, work_dir, id_column, m)
    fps = _stage(
        spark, m, "fps", os.path.join(work_dir, "fps.parquet"),
        lambda: ids_df.select(F.col(DOC_ID), make_fingerprint_udf(cfg)(F.col(cfg.column)).alias(FP))
        .filter(_fp_not_null(cfg)),
    )
    edges = _stage(
        spark, m, "edges", os.path.join(work_dir, "edges.parquet"),
        lambda: simhash_edges(fps, cfg, DOC_ID),
    )
    return _cluster_write(spark, m, work_dir, ids_df, edges, DOC_ID, output_path, metrics_path)


def substring_job(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    work_dir: str,
    cfg: SubstringConfig = SubstringConfig(),
    id_column: Optional[str] = None,
    metrics_path: Optional[str] = None,
) -> RunMetrics:
    """Resumable exact-substring dedup: ids -> duplicated-fingerprint
    table (PASS A, the expensive global aggregation) -> splice + write.
    A killed splice restarts from the staged dup_keys parquet."""
    from sparkdedup.suffix import _detect_dup_keys, apply_substring_splice

    m = RunMetrics(mode="substring")
    ids_df = _stage_ids(spark, input_path, work_dir, id_column, m)
    dup_keys = _stage(
        spark, m, "dup_keys", os.path.join(work_dir, "dup_keys.parquet"),
        lambda: _detect_dup_keys(ids_df, cfg),
    )
    t = time.time()
    kept, m.facts["splice_path"] = apply_substring_splice(
        ids_df, dup_keys, cfg, DOC_ID, n_dup=m.stages["dup_keys"].rows
    )
    return _finalize(spark, kept, output_path, m, metrics_path, t)


def jaccard_job(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    work_dir: str,
    cfg: MinHashConfig = MinHashConfig(),
    id_column: Optional[str] = None,
    metrics_path: Optional[str] = None,
) -> RunMetrics:
    """Resumable Jaccard-verified dedup: ids -> (kept ids + verified
    edges) -> assignment -> representative write. Same stage layout as
    minhash_job with the exact-Jaccard verification folded into the
    edges stage."""
    from sparkdedup.jaccard import jaccard_verified_edges

    m = RunMetrics(mode="jaccard")
    ids_df = _stage_ids(spark, input_path, work_dir, id_column, m)
    docs, edges = _signature_edges(
        spark, m, work_dir, ids_df, cfg,
        lambda sigs: jaccard_verified_edges(sigs, cfg, DOC_ID), cfg.column,
    )
    return _cluster_write(spark, m, work_dir, docs, edges, DOC_ID, output_path, metrics_path)


def ann_job(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    work_dir: str,
    threshold: float = 0.9,
    id_column: str = "vec_id",
    vector_column: str = "embedding",
    n_centroids: Optional[int] = None,
    n_probe: Optional[int] = None,
    k0: int = 20,
    metrics_path: Optional[str] = None,
    text_column: Optional[str] = None,
    encode_dim: int = 256,
    encode_ngram: int = 3,
) -> RunMetrics:
    """Resumable embedding near-dup dedup (reference ann_unisim mode):
    [encode ->] vectors -> adaptive-k match edges over the IVF index ->
    assignment -> representative write. A killed CC run resumes from
    the staged edges parquet; a killed write resumes from the
    assignment.

    ``text_column`` switches the input to a DOCUMENT table: docs are
    encoded to `encode_dim`-dim feature-hash embeddings
    (sparkdedup.encode — the reference embeds with an ONNX model,
    ann_unisim.py:75-99; the encoder is the pluggable part) and the
    encoded vectors are STAGED to work_dir parquet, so the expensive
    encode pass is never repeated on resume.

    ``n_centroids=None`` derives ~sqrt(N) IVF cells from the staged
    row count (ann.auto_n_centroids) — a fixed cell count makes the
    per-query candidate set a constant FRACTION of the corpus, i.e.
    quadratic total work at scale. In text mode ``id_column`` keeps its
    library default "vec_id" meaning "synthesize an id" (document
    tables don't carry vec_id); pass a real document id column to use
    it instead."""
    from sparkdedup.ann import ann_match_edges
    from sparkdedup.config import ANNConfig

    m = RunMetrics(mode="ann")
    os.makedirs(work_dir, exist_ok=True)
    if text_column is not None:
        from sparkdedup.encode import encode_documents

        def encode() -> DataFrame:
            # the staged frame carries ALL doc columns + the embedding,
            # so (a) a synthesized id is assigned exactly once (mii is
            # not stable across re-reads) and (b) the final output is
            # the surviving DOCUMENTS, as in the reference's ann_unisim
            # mode. Docs with no shingles (below min_length) encode to
            # NULL and are dropped, mirroring the signature pipelines'
            # length filter. "vec_id" is the VECTOR-table default —
            # document tables don't have it; treat it as "synthesize".
            doc_id_col = None if id_column in (None, "vec_id") else id_column
            raw_docs = read_documents(spark, input_path)
            if doc_id_col is None and "vec_id" in raw_docs.columns:
                # the synthesize reinterpretation would silently ignore
                # a REAL vec_id column the user may have meant to key on
                print(
                    "ann_job: text-mode input has a 'vec_id' column but "
                    "id_column='vec_id' is the library default meaning "
                    "'synthesize an id' — the existing column is IGNORED. "
                    "Pass a different --id_column name to key on a real column.",
                    file=sys.stderr,
                )
            encoded = encode_documents(
                with_doc_id(raw_docs, doc_id_col), column=text_column,
                output_column=vector_column, dim=encode_dim, ngram=encode_ngram,
            ).filter(F.col(vector_column).isNotNull())
            return encoded.withColumnRenamed(DOC_ID, "vec_id")

        vectors = _stage(spark, m, "encode", os.path.join(work_dir, "vectors.parquet"), encode)
        id_column = "vec_id"
        m.rows_before = m.stages["encode"].rows
    else:
        vectors = read_documents(spark, input_path)
        m.rows_before = vectors.count()
    cfg = ANNConfig(id_column=id_column, vector_column=vector_column, threshold=threshold)
    probe = vectors.select(vector_column).filter(F.col(vector_column).isNotNull()).first()
    if probe is None:
        raise ValueError(
            f"ann_job: input {input_path!r} has no non-null {vector_column!r} rows "
            "(empty table, or every vector is NULL)"
        )
    dim = len(probe[0])

    edges = _stage(
        spark, m, "edges", os.path.join(work_dir, "edges.parquet"),
        lambda: ann_match_edges(
            vectors, dim, cfg, exact=False, n_centroids=n_centroids, n_probe=n_probe, k0=k0,
            facts=m.facts,
        ),
    )
    # text mode outputs the surviving DOCUMENTS, without their embedding
    docs = vectors.drop(vector_column) if text_column is not None else vectors
    return _cluster_write(spark, m, work_dir, docs, edges, id_column, output_path, metrics_path)


def ccnet_job(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    work_dir: str,
    cfg: CCNetConfig = CCNetConfig(),
    id_column: Optional[str] = None,
    metrics_path: Optional[str] = None,
) -> RunMetrics:
    """Resumable ccnet line dedup: ids -> global line-firsts table (the
    corpus-wide aggregation) -> rebuild + write."""
    from sparkdedup.exact import ccnet_line_firsts, ccnet_rebuild

    m = RunMetrics(mode="ccnet")
    ids_df = _stage_ids(spark, input_path, work_dir, id_column, m)
    firsts = _stage(
        spark, m, "line_firsts", os.path.join(work_dir, "line_firsts.parquet"),
        lambda: ccnet_line_firsts(ids_df, cfg, DOC_ID),
    )
    t = time.time()
    kept = ccnet_rebuild(ids_df, firsts, cfg, DOC_ID)
    return _finalize(spark, kept, output_path, m, metrics_path, t)
