"""Sources, sinks and id policy.

The production input is an Iceberg table of source-code files
``(repo, path, commit, lang, content)``; this sandbox has no Iceberg
runtime jar, so the source abstraction reads a parquet directory with
the identical schema when the table name is a filesystem path
(SURVEY.md §1.4, §7.4). Schema-merging parquet read mirrors
/root/reference/text_dedup/minhash_spark.py:421-422.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DOC_ID = "__id__"


def read_documents(spark: SparkSession, source: str, fmt: Optional[str] = None) -> DataFrame:
    """Read the document table.

    ``source`` is an Iceberg table name (``catalog.db.table``) when the
    iceberg extension is configured, else a parquet path/directory.
    """
    if fmt == "iceberg" or (fmt is None and not _looks_like_path(source)):
        return spark.read.table(source)
    return spark.read.option("mergeSchema", "true").parquet(source)


def _looks_like_path(source: str) -> bool:
    return "/" in source or source.endswith(".parquet")


def with_doc_id(df: DataFrame, id_column: Optional[str] = None) -> DataFrame:
    """Attach the stable long id column ``__id__``.

    With an explicit INTEGER key column we pass it through; a STRING key
    (the production (repo, path, commit) world) is derived as
    xxhash64(key) — stable across runs, collision odds ~n^2/2^65
    (≈3e-8 of rows falsely merged at 10^12 docs, each costing one
    spuriously dropped doc). Other key types fail fast instead of
    silently casting to NULL and corrupting min-id joins. Without a key
    column, ``monotonically_increasing_id`` (partition-prefixed,
    non-contiguous — exactly the reference Spark variant,
    minhash_spark.py:426); caller must persist/checkpoint before reuse:
    mii is not stable across recomputation (SURVEY.md §7.4).
    """
    if id_column:
        from pyspark.sql import types as T

        dt = df.schema[id_column].dataType
        if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            return df.withColumn(DOC_ID, F.col(id_column).cast("long"))
        if isinstance(dt, (T.StringType, T.BinaryType)):
            return df.withColumn(DOC_ID, F.xxhash64(F.col(id_column)))
        raise TypeError(
            f"id column {id_column!r} has non-key type {dt.simpleString()}; "
            "use an integer or string key"
        )
    return df.withColumn(DOC_ID, F.monotonically_increasing_id())


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Repartition ONLY if the input is under-parallelized (fewer
    partitions than cores) — e.g. one big parquet file. At real scale
    the scan already yields thousands of splits and this is a no-op, so
    no gratuitous 100TB shuffle; locally it keeps a single-file corpus
    from serializing the signature UDF onto one core.

    Only the lazy ``*_dedup`` paths use it: they write nothing, so a
    round-robin shuffle of the rows is their one way to widen a narrow
    scan. The staged jobs split their ids parquet into one file per
    core instead (``pipeline._stage_ids``) and shuffle no corpus text.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    # NOTE: a file-count shortcut (len(inputFiles()) >= target) is NOT a
    # valid proxy — FileSourceScan bin-packs small files by
    # maxPartitionBytes/openCostInBytes, so many tiny files can still
    # collapse to a few scan partitions and serialize the signature
    # UDFs. getNumPartitions() reflects the actual packing; it costs one
    # plan-to-RDD conversion, paid once per pipeline.
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def partitioned_save(
    df: DataFrame,
    output: str,
    chunk_size: int = 200_000,
    max_partitions: int = 2048,
) -> None:
    """Write parquet as one narrow job: no count pass, no shuffle.

    Re-expression of the reference's partitioned_save
    (minhash_spark.py:302-332): ``coalesce(max_partitions)`` caps the
    writing tasks and ``maxRecordsPerFile`` caps each file at
    ``chunk_size`` rows.

    Unlike the reference, which counts the rows and then repartitions
    to one file per ~``chunk_size`` rows, files follow the upstream
    partitioning (already coalesced by AQE), so a heavily filtered
    output can land in more, smaller files. A ``coalesce`` below the
    upstream partition count also lowers the last stage's parallelism.
    """
    (
        df.coalesce(max_partitions)
        .write.option("maxRecordsPerFile", chunk_size)
        .parquet(output, mode="overwrite", compression="snappy")
    )
