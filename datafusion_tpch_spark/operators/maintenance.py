"""Table-maintenance operators: compaction (bin-packing small files) and
sorted rewrite (clustering for data skipping).

The two OPTIMIZE-style jobs every long-lived parquet dataset needs at
100 TB:

- **compact**: streaming ingest / fine-grained writes leave thousands of
  small files per partition; scans then pay per-file open + footer-read +
  scheduling cost, and the driver pays listing.  Compaction rewrites the
  data into target-size files.  ``maxRecordsPerFile`` caps file size on
  the way out; ``coalesce`` (no shuffle) merges when the input is merely
  fragmented, ``repartition`` (one shuffle) when it is also skewed.
- **rewrite_sorted**: range-partition + sort-within-partitions by a
  cluster key so every output file covers a narrow key range.  Min/max
  footer stats then let scans skip whole files for selective predicates —
  the 1-D little sibling of the Z-order gate (``lineitem_zorder``), which
  covers multi-column clustering.

Both are pure DataFrame writes — no table format required; with
Delta/Iceberg the same plans run under their OPTIMIZE entry points.  Each
takes the dataset's ``schema`` (the one its writer declared), so reading
it back starts no schema-inference job.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def data_file_count(path: str, spark: SparkSession | None = None) -> int:
    """Number of parquet data files under ``path`` (driver-side listing,
    same cost the scan's file index pays).

    Scheme-qualified roots (``s3a://``, ``hdfs://``, ...) are listed via
    the Hadoop FileSystem recursive ``listFiles`` API — ``os.walk`` would
    silently return 0 there, which made the incremental-OPTIMIZE markers
    (``compact_src_files``) record 0 and permanently skip recompaction.
    """
    from datafusion_tpch_spark.operators import artifact_io

    def _is_data(name: str) -> bool:
        return name.endswith(".parquet") and not name.startswith(("_", "."))

    if artifact_io.path_scheme(path) is None:
        n = 0
        for root, _dirs, files in os.walk(path):
            n += sum(1 for f in files if _is_data(f))
        return n
    fs, _jvm, hpath = artifact_io._hadoop_fs(path, spark)
    if not fs.exists(hpath):
        return 0
    it = fs.listFiles(hpath, True)  # recursive
    n = 0
    while it.hasNext():
        status = it.next()
        if _is_data(status.getPath().getName()):
            n += 1
    return n


def sized_partitions(n_rows: int, target_records_per_file: int,
                     max_parts: int = 4096) -> int:
    """Partition count derived from data volume: ceil(rows / target),
    clamped — the number every compaction job should pass to
    ``repartition`` instead of a constant, so the same OPTIMIZE plan
    bin-packs a 1x and a 100x table correctly."""
    return max(1, min(max_parts, -(-int(n_rows) // int(target_records_per_file))))


def compact(
    spark: SparkSession,
    path: str,
    out_path: str,
    target_records_per_file: int = 1_000_000,
    shuffle: bool = False,
    *,
    schema: StructType | str,
) -> int:
    """Bin-pack the dataset at ``path`` into ~``target_records_per_file``
    files at ``out_path``; returns the output file count.

    ``shuffle=False`` coalesces (narrow — each output task concatenates
    input splits, no data movement between executors beyond locality);
    ``shuffle=True`` round-robin repartitions, paying one shuffle to also
    even out skewed input files.
    """
    df = spark.read.schema(schema).parquet(path)
    total = df.count()
    n_files = sized_partitions(total, target_records_per_file)
    df = df.repartition(n_files) if shuffle else df.coalesce(n_files)
    (
        df.write.mode("overwrite")
        .option("maxRecordsPerFile", target_records_per_file)
        .parquet(out_path)
    )
    return data_file_count(out_path)


def rewrite_sorted(
    spark: SparkSession,
    path: str,
    out_path: str,
    sort_cols: list[str],
    n_files: int | None = 8,
    target_records_per_file: int = 1_000_000,
    *,
    schema: StructType | str,
) -> int:
    """Cluster the dataset by ``sort_cols``: range-partition into
    ``n_files`` shards and sort within each, so parquet footer min/max on
    the sort key becomes a file-skipping index.  Returns the output file
    count.  ``n_files=None`` derives the shard count from the row count
    against ``target_records_per_file`` (``sized_partitions``) — the form
    a scheduled re-cluster job should use, so the same call packs a 1x
    and a 100x table correctly."""
    df = spark.read.schema(schema).parquet(path)
    if n_files is None:
        n_files = sized_partitions(df.count(), target_records_per_file)
    (
        df.repartitionByRange(n_files, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
        .parquet(out_path)
    )
    return data_file_count(out_path)


def key_ranges(spark: SparkSession, path: str, key: str, *,
               schema: StructType | str) -> DataFrame:
    """Per-file min/max of ``key`` — the skipping stats a clustered layout
    produces (each row = one file's coverage; disjoint ranges = good
    clustering)."""
    from pyspark.sql import functions as F

    return (
        spark.read.schema(schema).parquet(path)
        .withColumn("_file", F.input_file_name())
        .groupBy("_file")
        .agg(F.min(key).alias("min_key"), F.max(key).alias("max_key"))
    )
