"""io.partitioned_save: one narrow write job with bounded files; the
session's block codec."""

import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench.probe import StatusStore
from sparkdedup.io import partitioned_save


def test_partitioned_save_is_one_narrow_job(spark, tmp_path):
    out = str(tmp_path / "out")
    df = spark.range(0, 50, 1, numPartitions=12).withColumn("v", F.col("id") * 3)
    store = StatusStore(spark)
    store.set_group("partitioned_save")
    try:
        partitioned_save(df, out, chunk_size=7, max_partitions=4)
    finally:
        store.set_group("idle")
    t = store.totals("partitioned_save")
    # no count pass and no repartition: one job, nothing shuffled, at
    # most max_partitions writing tasks
    assert t.jobs == 1
    assert t.shuffle_mb == 0
    assert 0 < t.tasks <= 4

    files = [os.path.join(out, f) for f in os.listdir(out) if f.endswith(".parquet")]
    sizes = [pq.read_metadata(f).num_rows for f in files]
    assert max(sizes) <= 7
    rows = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    assert rows == [(i, 3 * i) for i in range(50)]


def test_session_compresses_blocks_with_zstd(spark):
    # shuffle, broadcast and spill blocks (not the parquet files)
    assert spark.sparkContext.getConf().get("spark.io.compression.codec") == "zstd"
