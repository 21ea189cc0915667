"""Resumable staged pipeline + CLI smoke (in-session)."""

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from sparkdedup.config import MinHashConfig
from sparkdedup.fixtures import write_code_files
from sparkdedup.pipeline import minhash_job


@pytest.fixture(scope="module")
def corpus_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("data") / "code_files.parquet"
    write_code_files(str(p), n_rows=400, seed=42)
    return str(p)


def test_minhash_job_end_to_end(spark, tmp_path, corpus_path):
    out = str(tmp_path / "out")
    work = str(tmp_path / "work")
    metrics_path = str(tmp_path / "metrics.json")
    m = minhash_job(
        spark, corpus_path, out, work, MinHashConfig(), id_column="doc_id", metrics_path=metrics_path
    )
    assert m.rows_before == 400
    assert 0 < m.rows_after < 400
    assert os.path.exists(os.path.join(work, "edges.parquet", "_SUCCESS"))
    assert os.path.exists(os.path.join(work, "assignment.parquet", "_SUCCESS"))
    blob = json.load(open(metrics_path))
    assert blob["rows_after"] == m.rows_after
    assert blob["stages"]["cc"]["rows"] >= 0
    assert blob["stages"]["write"]["rows"] == m.rows_after
    assert blob["facts"]["cc_mode"] == "driver"
    assert blob["facts"]["cc_edges"] == blob["stages"]["edges"]["rows"]
    assert sum(blob["partition_rows"].values()) == m.rows_after


def test_minhash_job_resumes_from_checkpoints(spark, tmp_path, corpus_path):
    out1 = str(tmp_path / "out1")
    work = str(tmp_path / "work")
    m1 = minhash_job(spark, corpus_path, out1, work, MinHashConfig(), id_column="doc_id")

    # simulate a crash after CC: output is gone, work dir remains
    out2 = str(tmp_path / "out2")
    m2 = minhash_job(spark, corpus_path, out2, work, MinHashConfig(), id_column="doc_id")
    assert m2.stages["ids"].resumed
    assert m2.stages["edges"].resumed
    assert m2.stages["cc"].resumed
    assert m2.rows_after == m1.rows_after
    r1 = {r["doc_id"] for r in spark.read.parquet(out1).select("doc_id").collect()}
    r2 = {r["doc_id"] for r in spark.read.parquet(out2).select("doc_id").collect()}
    assert r1 == r2

    # simulate a crash mid-CC: edges exist, assignment half-written
    shutil.rmtree(os.path.join(work, "assignment.parquet"))
    out3 = str(tmp_path / "out3")
    m3 = minhash_job(spark, corpus_path, out3, work, MinHashConfig(), id_column="doc_id")
    assert m3.stages["edges"].resumed and not m3.stages["cc"].resumed
    r3 = {r["doc_id"] for r in spark.read.parquet(out3).select("doc_id").collect()}
    assert r3 == r1


def test_cli_parser_defaults():
    from sparkdedup.cli import build_parser

    p = build_parser()
    a = p.parse_args(["minhash", "-i", "in", "-o", "out"])
    assert a.threshold == 0.7 and a.num_perm == 250 and a.ngram_size == 5
    a = p.parse_args(["substring", "-i", "in", "-o", "out", "--k", "50"])
    assert a.k == 50 and a.strategy == "overlapping"
    a = p.parse_args(["exact", "-i", "in", "-o", "out", "--hash_func", "md5"])
    assert a.hash_func == "md5"


def test_simhash_job_end_to_end_and_resume(spark, tmp_path, corpus_path):
    from sparkdedup.config import SimHashConfig
    from sparkdedup.pipeline import simhash_job
    from sparkdedup.simhash import simhash_dedup
    from sparkdedup.io import with_doc_id

    out1 = str(tmp_path / "out1")
    work = str(tmp_path / "work")
    metrics_path = str(tmp_path / "m.json")
    m1 = simhash_job(
        spark, corpus_path, out1, work, SimHashConfig(), id_column="doc_id", metrics_path=metrics_path
    )
    assert m1.rows_before == 400 and 0 < m1.rows_after <= 400
    # parity with the in-session operator
    df = with_doc_id(spark.read.parquet(corpus_path), "doc_id")
    res = simhash_dedup(df, SimHashConfig())
    want = {r["doc_id"] for r in res.kept.select("doc_id").collect()}
    got = {r["doc_id"] for r in spark.read.parquet(out1).select("doc_id").collect()}
    assert got == want
    blob = json.load(open(metrics_path))
    assert blob["stages"]["fps"]["rows"] > 0

    # resume: kill after edges (delete assignment), rerun
    shutil.rmtree(os.path.join(work, "assignment.parquet"))
    out2 = str(tmp_path / "out2")
    m2 = simhash_job(spark, corpus_path, out2, work, SimHashConfig(), id_column="doc_id")
    assert m2.stages["ids"].resumed and m2.stages["fps"].resumed and m2.stages["edges"].resumed
    assert not m2.stages["cc"].resumed
    got2 = {r["doc_id"] for r in spark.read.parquet(out2).select("doc_id").collect()}
    assert got2 == want


def test_substring_job_end_to_end_and_resume(spark, tmp_path, corpus_path):
    from sparkdedup.config import SubstringConfig
    from sparkdedup.io import with_doc_id
    from sparkdedup.pipeline import substring_job
    from sparkdedup.suffix import substring_dedup

    cfg = SubstringConfig(k=80)
    out1 = str(tmp_path / "out1")
    work = str(tmp_path / "work")
    m1 = substring_job(spark, corpus_path, out1, work, cfg, id_column="doc_id")
    df = with_doc_id(spark.read.parquet(corpus_path), "doc_id")
    res = substring_dedup(df, cfg)
    want = {r["doc_id"]: r["content"] for r in res.kept.select("doc_id", "content").collect()}
    got = {r["doc_id"]: r["content"] for r in spark.read.parquet(out1).select("doc_id", "content").collect()}
    assert got == want

    # resume from staged dup_keys (detection must not rerun)
    out2 = str(tmp_path / "out2")
    m2 = substring_job(spark, corpus_path, out2, work, cfg, id_column="doc_id")
    assert m2.stages["ids"].resumed and m2.stages["dup_keys"].resumed
    got2 = {r["doc_id"]: r["content"] for r in spark.read.parquet(out2).select("doc_id", "content").collect()}
    assert got2 == want


def test_ccnet_job_end_to_end_and_resume(spark, tmp_path, corpus_path):
    from sparkdedup.config import CCNetConfig
    from sparkdedup.exact import ccnet_dedup
    from sparkdedup.io import with_doc_id
    from sparkdedup.pipeline import ccnet_job

    out1 = str(tmp_path / "out1")
    work = str(tmp_path / "work")
    m1 = ccnet_job(spark, corpus_path, out1, work, CCNetConfig(), id_column="doc_id")
    df = with_doc_id(spark.read.parquet(corpus_path), "doc_id")
    want = {
        r["doc_id"]: r["content"]
        for r in ccnet_dedup(df, CCNetConfig()).select("doc_id", "content").collect()
    }
    got = {r["doc_id"]: r["content"] for r in spark.read.parquet(out1).select("doc_id", "content").collect()}
    assert got == want

    out2 = str(tmp_path / "out2")
    m2 = ccnet_job(spark, corpus_path, out2, work, CCNetConfig(), id_column="doc_id")
    assert m2.stages["ids"].resumed and m2.stages["line_firsts"].resumed
    got2 = {r["doc_id"]: r["content"] for r in spark.read.parquet(out2).select("doc_id", "content").collect()}
    assert got2 == want


def test_sample_clusters(spark):
    """U3 debug sampler: returns member rows of a few non-trivial
    clusters, ordered by (component, id)."""
    import pandas as pd

    from sparkdedup.pipeline import sample_clusters

    docs = spark.createDataFrame(
        pd.DataFrame({"__id__": list(range(8)), "content": [f"doc {i}" for i in range(8)]})
    )
    # components: {0,1,2} -> 0, {3,4} -> 3, {5} singleton, 6/7 untouched
    assignment = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0), (3, 3), (4, 3), (5, 5)], "id long, component long"
    )
    out = sample_clusters(docs, assignment, n_clusters=10).collect()
    by_comp = {}
    for r in out:
        by_comp.setdefault(r["component"], []).append(r["__id__"])
    # only non-trivial clusters sampled, all members present, sorted
    assert set(by_comp) == {0, 3}
    assert by_comp[0] == [0, 1, 2] and by_comp[3] == [3, 4]


def test_jaccard_job_end_to_end_and_resume(spark, tmp_path, corpus_path):
    from sparkdedup.io import with_doc_id
    from sparkdedup.jaccard import jaccard_dedup
    from sparkdedup.pipeline import jaccard_job

    cfg = MinHashConfig(threshold=0.7)
    out1 = str(tmp_path / "out1")
    work = str(tmp_path / "work")
    m1 = jaccard_job(spark, corpus_path, out1, work, cfg, id_column="doc_id")
    df = with_doc_id(spark.read.parquet(corpus_path), "doc_id")
    res = jaccard_dedup(df, cfg)
    want = {r["doc_id"] for r in res.kept.select("doc_id").collect()}
    got = {r["doc_id"] for r in spark.read.parquet(out1).select("doc_id").collect()}
    assert got == want and 0 < len(got) < 400
    res.release()

    # resume: kill after edges, rerun
    shutil.rmtree(os.path.join(work, "assignment.parquet"))
    out2 = str(tmp_path / "out2")
    m2 = jaccard_job(spark, corpus_path, out2, work, cfg, id_column="doc_id")
    assert m2.stages["ids"].resumed and m2.stages["edges"].resumed
    assert not m2.stages["cc"].resumed
    got2 = {r["doc_id"] for r in spark.read.parquet(out2).select("doc_id").collect()}
    assert got2 == want


@pytest.fixture(scope="module")
def embeddings_path(tmp_path_factory, spark):
    import numpy as np

    rng = np.random.RandomState(11)
    centers = rng.standard_normal((10, 16))
    rows = []
    for i in range(200):
        v = centers[i % 10] + 0.05 * rng.standard_normal(16)
        rows.append((i, [float(x) for x in v]))
    p = str(tmp_path_factory.mktemp("emb") / "embeddings.parquet")
    spark.createDataFrame(rows, "vec_id long, embedding array<double>").write.parquet(p)
    return p


def test_ann_job_end_to_end_and_resume(spark, tmp_path, embeddings_path):
    from sparkdedup.ann import ann_dedup
    from sparkdedup.config import ANNConfig

    from sparkdedup.pipeline import ann_job

    out1 = str(tmp_path / "out1")
    work = str(tmp_path / "work")
    m1 = ann_job(
        spark, embeddings_path, out1, work, threshold=0.9,
        n_centroids=5, n_probe=5, metrics_path=str(tmp_path / "m.json"),
    )
    assert m1.rows_before == 200
    # full probe == exact clustering
    res = ann_dedup(
        spark.read.parquet(embeddings_path), 16, ANNConfig(threshold=0.9), exact=True
    )
    want = {r["vec_id"] for r in res.kept.select("vec_id").collect()}
    got = {r["vec_id"] for r in spark.read.parquet(out1).select("vec_id").collect()}
    assert got == want and len(got) < 200

    shutil.rmtree(os.path.join(work, "assignment.parquet"))
    out2 = str(tmp_path / "out2")
    m2 = ann_job(spark, embeddings_path, out2, work, threshold=0.9, n_centroids=5, n_probe=5)
    assert m2.stages["edges"].resumed and not m2.stages["cc"].resumed
    got2 = {r["vec_id"] for r in spark.read.parquet(out2).select("vec_id").collect()}
    assert got2 == want


def test_cli_parser_new_modes():
    from sparkdedup.cli import build_parser

    p = build_parser()
    a = p.parse_args(["jaccard", "-i", "in", "-o", "out", "--threshold", "0.8"])
    assert a.threshold == 0.8 and a.num_perm == 250
    a = p.parse_args(["ann", "-i", "emb", "-o", "out", "--n_probe", "8"])
    assert a.n_probe == 8 and a.id_column == "vec_id" and a.threshold == 0.9


def test_checked_count_detects_id_collisions(spark, tmp_path):
    """Derived string ids: a duplicate key (or 64-bit collision) must
    fail loudly, not silently merge two docs (ADVICE r2, io.py:58)."""
    import pandas as pd

    from sparkdedup.pipeline import _stage_ids, RunMetrics

    p = str(tmp_path / "dup.parquet")
    pd.DataFrame({"key": ["a", "b", "a"], "content": ["x", "y", "z"]}).to_parquet(p)
    with pytest.raises(ValueError, match="colliding"):
        _stage_ids(spark, p, str(tmp_path / "w"), "key", RunMetrics())


def test_ids_stage_splits_a_one_file_corpus_without_a_shuffle(spark, tmp_path, corpus_path):
    """A one-file corpus scans as one partition. The ids stage writes it
    narrowly as one file per core, not through a round-robin shuffle of
    the corpus, and the edges stage's signature scan then runs one task
    per file."""
    from perfbench.probe import StatusStore
    from sparkdedup.minhash import minhash_edges
    from sparkdedup.pipeline import RunMetrics, _signature_edges, _stage_ids

    cores = spark.sparkContext.defaultParallelism
    assert cores == 8 and spark.read.parquet(corpus_path).rdd.getNumPartitions() == 1
    work, m = str(tmp_path / "work"), RunMetrics()
    store = StatusStore(spark)

    def measured(group, fn):
        store.set_group(group)
        try:
            return fn()
        finally:
            store.set_group("idle")

    # synthesized ids: a key column adds its uniqueness check, a small
    # aggregation over the ids alone
    ids_df = measured("ids_split", lambda: _stage_ids(spark, corpus_path, work, None, m))
    # the write shuffles nothing; only the two row counts' per-partition
    # partial sums (tens of bytes each) cross a shuffle, against the
    # corpus's 168 KB file
    assert store.totals("ids_split").shuffle_mb * 1e6 < 1000
    ids_dir = os.path.join(work, "ids.parquet")
    assert len([f for f in os.listdir(ids_dir) if f.endswith(".parquet")]) >= cores
    # the small files are not bin-packed back into fewer scan partitions
    assert ids_df.rdd.getNumPartitions() >= cores

    measured(
        "ids_split_edges",
        lambda: _signature_edges(spark, m, work, ids_df, MinHashConfig(), minhash_edges),
    )
    store.totals("ids_split_edges")  # drains the listener bus
    tracker = spark.sparkContext.statusTracker()
    stages = [s for j in tracker.getJobIdsForGroup("ids_split_edges") for s in tracker.getJobInfo(j).stageIds]
    # the edges stage's first stage scans ids.parquet through the signature UDF
    assert tracker.getStageInfo(min(stages)).numTasks >= cores

    resumed = RunMetrics()
    _stage_ids(spark, corpus_path, work, None, resumed)
    assert resumed.stages["ids"].resumed
    assert resumed.stages["ids"].rows == m.stages["ids"].rows == 400


def test_minhash_edges_stage_shuffles_under_7_bytes_per_band_row(spark, tmp_path):
    """Shuffle budget of minhash_job's edges stage on the seeded 3,000-doc
    code corpus (74,250 band rows). Round 1 shuffles one 32-bit slice of
    the band key per band row; only the ~11% of rows whose slice repeats
    carry the full 128-bit key into round 2. Grouping every row on the
    128-bit key shuffled 16.4 bytes per band row, and a round 1 on a
    64-bit slice 9.8."""
    from perfbench.probe import StatusStore
    from sparkdedup.minhash import minhash_edges
    from sparkdedup.pipeline import RunMetrics, _signature_edges, _stage_ids

    corpus = write_code_files(str(tmp_path / "code_files.parquet"), n_rows=3000, seed=1)
    work, m, cfg = str(tmp_path / "work"), RunMetrics(), MinHashConfig()
    ids_df = _stage_ids(spark, corpus, work, "doc_id", m)
    store = StatusStore(spark)
    store.set_group("edges_budget")
    try:
        docs, _ = _signature_edges(spark, m, work, ids_df, cfg, minhash_edges)
    finally:
        store.set_group("idle")
    shuffled = store.totals("edges_budget").shuffle_mb * 1e6
    band_rows = docs.count() * cfg.resolved_bands()[0]
    assert band_rows == 74_250
    assert shuffled / band_rows < 7, f"{shuffled / band_rows:.2f} B per band row"


def test_entry_release_all_unpersists(spark):
    """VERDICT r2 #8: running entry queries then release_all() must not
    leave the pipelines' persisted frames behind. Asserted on the
    tracked frames' storage levels, not getPersistentRDDs() counts —
    the global registry also holds localCheckpoint RDDs whose cleanup
    is GC-timing-dependent."""
    import __spark_entry__ as entrymod

    q = entrymod.queries()
    q["minhash_dedup"](spark, "/root/testdata/sf0.001").count()
    q["substring_dedup"](spark, "/root/testdata/sf0.001").count()
    tracked = list(entrymod._RELEASABLE)
    assert tracked, "entry queries must register their results"
    frames = [c for res in tracked for c in res.cached]
    assert any(f.storageLevel.useMemory or f.storageLevel.useDisk for f in frames)
    entrymod.release_all()
    assert entrymod._RELEASABLE == []
    assert all(
        not (f.storageLevel.useMemory or f.storageLevel.useDisk) for f in frames
    )


# --- lazy *_dedup vs staged *_job drift, and the resume matrix ------------


@pytest.fixture(scope="module")
def nodup_corpus_path(tmp_path_factory):
    """Docs of random letter-words (no shared shingles, so no near-dup
    edges in any mode) plus three docs below MinHash's min_length."""
    import random

    import pandas as pd

    rng = random.Random(7)
    letters = "abcdefghijklmnopqrstuvwxyz"
    rows = []
    for i in range(120):
        n_words = 2 if i % 40 == 0 else 60
        words = ["".join(rng.choice(letters) for _ in range(rng.randint(3, 9))) for _ in range(n_words)]
        rows.append((f"d{i:04d}", " ".join(words)))
    p = str(tmp_path_factory.mktemp("nodup") / "docs.parquet")
    pd.DataFrame(rows, columns=["doc_id", "content"]).to_parquet(p)
    return p


@pytest.fixture(scope="module")
def nodup_embeddings_path(tmp_path_factory, spark):
    import numpy as np

    vecs = np.random.RandomState(5).standard_normal((80, 32))
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = unit @ unit.T
    np.fill_diagonal(sims, 0.0)
    assert sims.max() < 0.9  # fixture sanity: no pair at the threshold
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    p = str(tmp_path_factory.mktemp("nodup_emb") / "embeddings.parquet")
    spark.createDataFrame(rows, "vec_id long, embedding array<double>").write.parquet(p)
    return p


def _ids(df, col):
    return {r[col] for r in df.select(col).collect()}


_CC_FACTS = ("cc_mode", "cc_edges")
_ANN_FACTS = ("rounds", "k_final", "n_distinct", "contractions", "accepted")


def _dedup_and_job(spark, mode, path, tmp_path):
    """(kept ids of the lazy *_dedup, of the staged *_job; the lazy
    assignment size; the job's staged assignment rows). Also asserts
    that both runs report the same CC facts, and for ann the same loop
    facts, the job's through its metrics JSON."""
    from sparkdedup.ann import ann_dedup
    from sparkdedup.config import ANNConfig, SimHashConfig
    from sparkdedup.io import with_doc_id
    from sparkdedup.jaccard import jaccard_dedup
    from sparkdedup.minhash import minhash_dedup
    from sparkdedup.pipeline import ann_job, jaccard_job, simhash_job
    from sparkdedup.simhash import simhash_dedup

    out, work = str(tmp_path / f"{mode}_out"), str(tmp_path / f"{mode}_work")
    metrics_path = str(tmp_path / f"{mode}_metrics.json")
    if mode == "ann":
        vectors = spark.read.parquet(path)
        dim = len(vectors.first()["embedding"])
        # n_probe == n_centroids: full probe, so the IVF run is exact
        res = ann_dedup(vectors, dim, ANNConfig(threshold=0.9), n_centroids=5, n_probe=5)
        m = ann_job(
            spark, path, out, work, threshold=0.9, n_centroids=5, n_probe=5,
            metrics_path=metrics_path,
        )
        col = "vec_id"
    else:
        cfg, dedup_fn, job = {
            "minhash": (MinHashConfig(), minhash_dedup, minhash_job),
            "simhash": (SimHashConfig(), simhash_dedup, simhash_job),
            "jaccard": (MinHashConfig(threshold=0.7), jaccard_dedup, jaccard_job),
        }[mode]
        res = dedup_fn(with_doc_id(spark.read.parquet(path), "doc_id"), cfg)
        m = job(spark, path, out, work, cfg, id_column="doc_id", metrics_path=metrics_path)
        col = "doc_id"
    lazy, assigned = _ids(res.kept, col), res.assignment.count()
    res.release()
    assert res.metrics.stages == {} and res.metrics.rows_before == res.metrics.rows_after == -1
    staged_facts = json.load(open(metrics_path))["facts"]
    keys = _CC_FACTS + (_ANN_FACTS if mode == "ann" else ())
    assert {k: res.metrics.facts[k] for k in keys} == {k: staged_facts[k] for k in keys}
    return lazy, _ids(spark.read.parquet(out), col), assigned, m.stages["cc"].rows


@pytest.mark.parametrize("mode", ["minhash", "simhash", "jaccard", "ann"])
def test_dedup_and_job_keep_the_same_ids(spark, tmp_path, corpus_path, embeddings_path, mode):
    path = embeddings_path if mode == "ann" else corpus_path
    lazy, staged, assigned, _ = _dedup_and_job(spark, mode, path, tmp_path)
    assert lazy == staged
    assert 0 < len(staged) < (200 if mode == "ann" else 400)
    assert assigned > 0


@pytest.mark.parametrize("mode", ["minhash", "simhash", "jaccard", "ann"])
def test_dedup_and_job_without_near_dups_keep_every_eligible_row(
    spark, tmp_path, nodup_corpus_path, nodup_embeddings_path, mode
):
    import pandas as pd

    if mode == "ann":
        path = nodup_embeddings_path
        eligible = set(range(80))
    else:
        path = nodup_corpus_path
        docs = pd.read_parquet(path)
        if mode == "simhash":  # too-short docs are kept as unique
            eligible = set(docs["doc_id"])
        else:  # minhash/jaccard drop docs below min_length
            eligible = set(docs["doc_id"][docs["content"].str.split().str.len() >= 5])
            assert len(eligible) == len(docs) - 3
    lazy, staged, assigned, staged_assigned = _dedup_and_job(spark, mode, path, tmp_path)
    assert lazy == staged == eligible
    assert assigned == 0 and staged_assigned == 0


# work-dir outputs of each stage name, as the staged jobs lay them out
_STAGE_DIRS = {
    "ids": ["ids"],
    "fps": ["fps"],
    "encode": ["vectors"],
    "edges": ["edges", "kept_ids"],
    "cc": ["assignment"],
    "dup_keys": ["dup_keys"],
    "line_firsts": ["line_firsts"],
}


def _job_runner(name):
    from sparkdedup import pipeline
    from sparkdedup.config import CCNetConfig, SimHashConfig, SubstringConfig

    cfgs = {
        "minhash": MinHashConfig(),
        "simhash": SimHashConfig(),
        "jaccard": MinHashConfig(threshold=0.7),
        "substring": SubstringConfig(k=80),
        "ccnet": CCNetConfig(),
    }
    if name == "ann":  # text mode: the job with the most stages
        return lambda spark, i, o, w: pipeline.ann_job(
            spark, i, o, w, threshold=0.9, id_column="doc_id", text_column="content",
            n_centroids=5, n_probe=5,
        )
    job = getattr(pipeline, f"{name}_job")
    return lambda spark, i, o, w: job(spark, i, o, w, cfgs[name], id_column="doc_id")


def _rows(spark, path):
    df = spark.read.parquet(path)
    return sorted(tuple(r) for r in df.select(*sorted(df.columns)).collect())


@pytest.mark.parametrize("name", ["minhash", "simhash", "jaccard", "ann", "substring", "ccnet"])
def test_resume_after_every_stage(spark, tmp_path, corpus_path, name):
    """Kill after stage k (delete every later stage's output), rerun:
    byte-identical output rows, and exactly the stages up to k resume."""
    run = _job_runner(name)
    work = str(tmp_path / "work")
    m = run(spark, corpus_path, str(tmp_path / "out"), work)
    stages = [s for s in m.stages if s != "write"]
    assert not any(m.stages[s].resumed for s in stages)
    want = _rows(spark, str(tmp_path / "out"))
    assert want
    for k, stage in enumerate(stages):
        for later in stages[k + 1 :]:
            for d in _STAGE_DIRS[later]:
                shutil.rmtree(os.path.join(work, f"{d}.parquet"), ignore_errors=True)
        out = str(tmp_path / f"out_{stage}")
        mk = run(spark, corpus_path, out, work)
        assert [s for s in mk.stages if s != "write"] == stages
        assert [mk.stages[s].resumed for s in stages] == [i <= k for i in range(len(stages))], stage
        assert [mk.stages[s].rows for s in stages] == [m.stages[s].rows for s in stages]
        if "cc" in stages:  # CC facts come only from a CC stage that runs
            assert any(f.startswith("cc_") for f in mk.facts) != mk.stages["cc"].resumed
        assert _rows(spark, out) == want, f"{name}: output differs after resuming from {stage}"
    kept_ids = os.path.join(work, "kept_ids.parquet")
    if os.path.exists(kept_ids):
        # a two-output stage resumes only when BOTH outputs are complete
        shutil.rmtree(kept_ids)
        mk = run(spark, corpus_path, str(tmp_path / "out_side"), work)
        assert mk.stages["ids"].resumed and not mk.stages["edges"].resumed
        assert _rows(spark, str(tmp_path / "out_side")) == want
