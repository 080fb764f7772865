"""The versioned fact store that streaming/pipeline.incremental_fact_sink
MERGEs into: parquet snapshots in ``{store_dir}/v={N}`` directories.

Every merge writes a complete new snapshot ``v=N`` and readers take the
max version — snapshot isolation over plain parquet, since no table
format ships here. Versions older than the newest ``RETAIN_VERSIONS``
are pruned. Each merge rewrites the whole store: fine for the test
corpus, O(store) per batch at warehouse scale.

A table format (Delta, Iceberg) would replace the ``v=N`` directories with
its commit log, and the full rewrite with a MERGE that rewrites only the
files holding matched event_ids; the plans would not change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# Newest version = the live snapshot; one predecessor kept so an
# in-flight reader of the previous max never loses its files mid-scan.
RETAIN_VERSIONS = 2


def _fs_and_versions(spark: SparkSession, store_dir: str):
    """List v=N child dirs through the Hadoop FileSystem API, so the
    store can live on any supported filesystem (local, HDFS, GCS, S3),
    not just a local path."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(store_dir)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return fs, []
    versions = []
    for status in fs.listStatus(path):
        name = status.getPath().getName()
        if name.startswith("v="):
            try:
                versions.append(int(name.split("=", 1)[1]))
            except ValueError:
                continue
    return fs, versions


def _prune_versions(spark: SparkSession, store_dir: str, keep: int = RETAIN_VERSIONS) -> None:
    jvm = spark._jvm
    fs, versions = _fs_and_versions(spark, store_dir)
    for v in sorted(versions)[:-keep]:
        fs.delete(jvm.org.apache.hadoop.fs.Path(f"{store_dir}/v={v}"), True)


def read_fact_store(spark: SparkSession, store_dir: str) -> DataFrame | None:
    """Latest snapshot of the versioned fact store (max version dir), or
    None when the store does not exist yet."""
    _, versions = _fs_and_versions(spark, store_dir)
    if not versions:
        return None
    return spark.read.parquet(f"{store_dir}/v={max(versions)}")


def write_fact_store(fact: DataFrame, store_dir: str, version: int) -> None:
    """Write ``fact`` as snapshot ``version``, then prune old versions."""
    fact.write.mode("overwrite").parquet(f"{store_dir}/v={version}")
    _prune_versions(fact.sparkSession, store_dir)
