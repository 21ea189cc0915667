"""Spark cost of the six staged jobs, fresh and fully resumed, per block codec.

Runs minhash, simhash, jaccard, substring, ccnet and ann (text mode)
``*_job`` on the 3,000-doc ``write_code_files(seed=42)`` corpus at
``local[3]``, each codec in its own spawned Python process, so in its
own JVM (``spark.io.compression.codec`` is fixed when the context
starts; it is passed through ``get_spark``'s ``extra_conf``). Per job
and run it records Spark jobs, tasks, task seconds and shuffle-write MB
from the status store, plus the output row count and the sha256 of its
sorted rows. ``stages`` splits those totals by ``pipeline._stage`` stage
(ids, edges, cc, ...); ``rest`` is the work outside every stage, mostly
the final write.

Usage: python tools/staged_jobs.py [--out FILE] CODEC...
Prints (or writes) one JSON document keyed by codec.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import multiprocessing
import os
import shutil
import sys
import tempfile
from concurrent.futures import ProcessPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

JOBS = ["minhash", "simhash", "jaccard", "substring", "ccnet", "ann"]
DOCS = 3000
CPUS = 3


def _runner(name):
    from sparkdedup import pipeline
    from sparkdedup.config import CCNetConfig, MinHashConfig, SimHashConfig, SubstringConfig

    if name == "ann":
        return lambda spark, i, o, w: pipeline.ann_job(
            spark, i, o, w, threshold=0.9, id_column="doc_id", text_column="content",
            n_centroids=5, n_probe=5,
        )
    cfg = {
        "minhash": MinHashConfig(),
        "simhash": SimHashConfig(),
        "jaccard": MinHashConfig(threshold=0.7),
        "substring": SubstringConfig(k=80),
        "ccnet": CCNetConfig(),
    }[name]
    job = getattr(pipeline, f"{name}_job")
    return lambda spark, i, o, w: job(spark, i, o, w, cfg, id_column="doc_id")


def _digest(spark, path):
    df = spark.read.parquet(path)
    rows = sorted(tuple(r) for r in df.select(*sorted(df.columns)).collect())
    return len(rows), hashlib.sha256(repr(rows).encode()).hexdigest()


def _totals(t) -> dict:
    return {"jobs": t.jobs, "tasks": t.tasks, "task_s": round(t.task_s, 3),
            "shuffle_mb": round(t.shuffle_mb, 3)}


def _group_each_stage(store, pipeline) -> None:
    """Run each ``pipeline._stage`` call under its own job group,
    ``<job group>/<stage name>``."""
    stage = pipeline._stage

    def grouped(spark, m, name, *args, **kwargs):
        outer = spark.sparkContext.getLocalProperty("spark.jobGroup.id")
        store.set_group(f"{outer}/{name}")
        try:
            return stage(spark, m, name, *args, **kwargs)
        finally:
            store.set_group(outer)

    pipeline._stage = grouped


def one_codec(codec: str) -> dict:
    from perfbench.probe import StatusStore
    from sparkdedup import pipeline
    from sparkdedup.fixtures import write_code_files
    from sparkdedup.session import get_spark

    spark = get_spark(
        app_name="staged-jobs", master=f"local[{CPUS}]",
        extra_conf={"spark.io.compression.codec": codec, "spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    store = StatusStore(spark)
    _group_each_stage(store, pipeline)
    tmp = tempfile.mkdtemp(prefix="staged-jobs-")
    out = {}
    try:
        corpus = write_code_files(os.path.join(tmp, "corpus.parquet"), n_rows=DOCS, seed=42)
        for name in JOBS:
            run, work = _runner(name), os.path.join(tmp, name, "work")
            out[name] = {}
            for phase in ("fresh", "resumed"):
                group = f"{name}-{phase}"
                dst = os.path.join(tmp, name, phase)
                store.set_group(group)
                try:
                    m = run(spark, corpus, dst, work)
                finally:
                    store.set_group("idle")
                # "write" is timed by the job itself, outside every _stage
                stages = {k: _totals(store.totals(f"{group}/{k}")) for k in m.stages if k != "write"}
                stages["rest"] = _totals(store.totals(group))
                total = {
                    k: round(sum(s[k] for s in stages.values()), 3)
                    for k in ("jobs", "tasks", "task_s", "shuffle_mb")
                }
                rows, sha = _digest(spark, dst)
                out[name][phase] = {**total, "rows": rows, "sha256": sha, "stages": stages}
    finally:
        spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("codecs", nargs="+")
    ap.add_argument("--out")
    a = ap.parse_args()
    import pyspark

    result = {
        "command": " ".join(["python", "tools/staged_jobs.py", *sys.argv[1:]]),
        "nproc": os.cpu_count(), "spark": pyspark.__version__,
        "docs": DOCS, "master": f"local[{CPUS}]", "codecs": {},
    }
    spawn = multiprocessing.get_context("spawn")
    for codec in a.codecs:
        with ProcessPoolExecutor(1, mp_context=spawn) as pool:
            result["codecs"][codec] = pool.submit(one_codec, codec).result()
    text = json.dumps(result, indent=2)
    if a.out:
        with open(a.out, "w") as f:
            f.write(text + "\n")
    else:
        print(text)


if __name__ == "__main__":
    main()
