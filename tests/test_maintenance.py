"""Compaction and sorted-rewrite maintenance operators."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from datafusion_tpch_spark.catalog import load_table
from datafusion_tpch_spark.operators.maintenance import (
    compact,
    data_file_count,
    key_ranges,
    rewrite_sorted,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def tmpdirs():
    d = tempfile.mkdtemp(prefix="maint-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture()
def orders_schema(spark):
    """The schema ``fragmented`` writes, which the maintenance operators
    read it back with."""
    return load_table(spark, SF_DIR, "orders").schema


@pytest.fixture()
def fragmented(spark, tmpdirs):
    """A deliberately over-fragmented copy of orders (64 tiny files)."""
    src = os.path.join(tmpdirs, "frag")
    load_table(spark, SF_DIR, "orders").repartition(64).write.parquet(src)
    assert data_file_count(src) == 64
    return src


def test_compact_reduces_file_count_keeps_rows(spark, tmpdirs, fragmented, orders_schema):
    out = os.path.join(tmpdirs, "compacted")
    n = compact(spark, fragmented, out, target_records_per_file=10_000,
                schema=orders_schema)
    assert n == data_file_count(out)
    assert n <= 2  # sf0.001 orders = 1500 rows -> one 10k-record file
    before = spark.read.parquet(fragmented)
    after = spark.read.parquet(out)
    assert after.count() == before.count()
    assert sorted(after.columns) == sorted(before.columns)
    # value-level equality via order-insensitive key sum
    s = lambda df: df.agg(F.sum("o_orderkey")).collect()[0][0]  # noqa: E731
    assert s(after) == s(before)


def test_compact_shuffle_mode(spark, tmpdirs, fragmented, orders_schema):
    out = os.path.join(tmpdirs, "compacted_sh")
    n = compact(spark, fragmented, out, target_records_per_file=500,
                shuffle=True, schema=orders_schema)
    # 1500 rows / 500 per file -> 3 partitions; round-robin imbalance may
    # push one partition past the cap and split it
    assert 3 <= n <= 4
    after = spark.read.parquet(out)
    assert after.count() == 1500


def test_rewrite_sorted_produces_disjoint_ranges(spark, tmpdirs, fragmented, orders_schema):
    out = os.path.join(tmpdirs, "clustered")
    n = rewrite_sorted(spark, fragmented, out, ["o_orderkey"], n_files=4,
                       schema=orders_schema)
    assert n >= 3  # range partitioner may merge sparse bounds
    ranges = sorted(
        (r["min_key"], r["max_key"])
        for r in key_ranges(spark, out, "o_orderkey", schema=orders_schema).collect()
    )
    # clustered layout: every file covers a disjoint key range
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2
    # rows survive
    assert spark.read.parquet(out).count() == 1500


def test_clustered_scan_skips_files(spark, tmpdirs, fragmented, orders_schema):
    """The point of clustering: a selective key predicate reads a subset
    of files (observable through input_file_name on the filtered scan)."""
    out = os.path.join(tmpdirs, "clustered2")
    rewrite_sorted(spark, fragmented, out, ["o_orderkey"], n_files=4,
                   schema=orders_schema)
    total = data_file_count(out)
    touched = (
        spark.read.parquet(out)
        .filter(F.col("o_orderkey") < 100)
        .withColumn("_f", F.input_file_name())
        .select("_f")
        .distinct()
        .count()
    )
    assert touched < total


def test_sized_partitions_derives_from_volume():
    from datafusion_tpch_spark.operators.maintenance import sized_partitions

    assert sized_partitions(0, 1_000_000) == 1
    assert sized_partitions(999_999, 1_000_000) == 1
    assert sized_partitions(1_000_001, 1_000_000) == 2
    # the 100x table gets 100x the files under the same target
    assert sized_partitions(5_000_000, 1_000_000) == 5
    assert sized_partitions(500_000_000, 1_000_000) == 500
    # clamped against a runaway row count
    assert sized_partitions(10**13, 1_000_000, max_parts=4096) == 4096


def test_data_file_count_scheme_qualified(spark, tmp_path):
    """A file: URI exercises the Hadoop listFiles path — the same code an
    s3a:// root would hit; os.walk would silently return 0 here and
    permanently disable incremental re-compaction."""
    local = str(tmp_path / "t")
    spark.range(100).repartition(3).write.parquet(local)
    n_posix = data_file_count(local)
    assert n_posix == 3
    assert data_file_count(f"file://{local}", spark=spark) == n_posix
    assert data_file_count(f"file://{local}/absent", spark=spark) == 0


def test_rewrite_sorted_derives_shards_from_volume(spark, tmpdirs, fragmented, orders_schema):
    out = os.path.join(tmpdirs, "clustered_auto")
    n = rewrite_sorted(spark, fragmented, out, ["o_orderkey"],
                       n_files=None, target_records_per_file=500, schema=orders_schema)
    # 1500 rows / 500 per file -> 3 range shards
    assert n == 3
