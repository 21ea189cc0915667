"""SparkSession factory with scale-oriented defaults.

Replaces the reference's hand-tuned constants (shuffle.partitions=8192,
default.parallelism=100, repartition(4096) — minhash_spark.py:383-392)
with AQE: runtime partition coalescing + skew-join splitting, so the
same job plan holds from local[8] tests to a 1000-executor cluster.
Shuffle, broadcast and spill blocks are zstd-compressed; ``extra_conf``
overrides any of these defaults.
"""

from __future__ import annotations

import os
from typing import Mapping, Optional

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "sparkdedup",
    master: Optional[str] = None,
    shuffle_partitions: Optional[int] = None,
    checkpoint_dir: Optional[str] = None,
    ui: bool = False,
    extra_conf: Optional[Mapping[str, str]] = None,
) -> SparkSession:
    # Python workers fork from the JVM started by this process and
    # inherit its environment: make pyarrow pick the glibc-backed
    # system pool at import so Arrow IPC buffers (allocated before any
    # UDF body runs) stay on the malloc heap instead of mimalloc arenas
    # that are munmapped (and hence re-faulted) every batch — see
    # sparkdedup.tuning.tune_worker_memory for the in-body half.
    os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")
    builder = SparkSession.builder.appName(app_name)
    builder = builder.config("spark.ui.enabled", "true" if ui else "false")
    if master:
        builder = builder.master(master)
    cores = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None and cores:
        builder = builder.master(f"local[{cores}]")
    builder = (
        builder.config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch size bounds pandas-UDF memory; signatures are
        # ~1KB/row so 10k rows/batch keeps UDF peak well under 1 GiB.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or _default_shuffle()))
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # shuffle, broadcast and spill blocks: much of what the shuffles
        # carry is document text, which zstd (default level) stores in
        # about a third less space than the lz4 default
        .config("spark.io.compression.codec", "zstd")
        .config("spark.sql.files.maxPartitionBytes", "256m")
        .config("spark.driver.memory", os.environ.get("SPARKDEDUP_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if checkpoint_dir:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)
    return spark


def _default_shuffle() -> int:
    # local testing: ~2x cores; on a real cluster the submitter sets
    # spark.sql.shuffle.partitions (AQE coalesces down anyway).
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    return max(8, 2 * cpus)
