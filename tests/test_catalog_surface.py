"""Tier-B engine-surface parity (SURVEY §2.1 S5/S7/S8): catalog listing,
SHOW TABLES / information schema, in-memory tables, display/collection."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from datafusion_tpch_spark import FIXTURE_TABLES
from datafusion_tpch_spark.catalog import listing, load_table, register_tables
from datafusion_tpch_spark.sources.parquet_io import show_tables

SF_DIR = "/root/testdata/sf0.001"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURE_DIRS = [
    d for d in (
        *(os.path.join(os.path.dirname(SF_DIR), sf)
          for sf in ("sf0.001", "sf0.01", "sf0.1")),
        os.path.join(REPO, "perfbench", "data", "sf0.01"),
    )
    if os.path.isdir(d)
]


def test_show_tables_lists_registered_views(spark):
    register_tables(spark, SF_DIR)
    names = {r.tableName for r in show_tables(spark).collect()}
    for t in ("lineitem", "orders", "nation", "documents"):
        assert t in names
    # catalog API agrees with SQL surface (examples/parquet.rs:8-14 shape)
    api_names = {t.name for t in spark.catalog.listTables()}
    assert names <= api_names


def test_listing_shape_matches_reference(spark):
    """tpch() returns a 1-column table_name listing (src/lib.rs:294-306)."""
    df = listing(spark)
    assert df.columns == ["table_name"]
    assert df.count() == 10


def test_cached_table_scan(spark):
    """S5: the reference's MemTable == a cached temp view; queries resolve
    against the in-memory relation after .cache()."""
    dfs = register_tables(spark, SF_DIR, tables=("nation",))
    nation = dfs["nation"].cache()
    try:
        assert nation.count() == 25  # materialize
        got = spark.sql("SELECT COUNT(*) AS n FROM nation").collect()[0].n
        assert got == 25
        assert len(nation.limit(5).collect()) == 5  # S8 collect/show path
    finally:
        nation.unpersist()


def test_information_schema_columns_view(spark):
    """information_schema parity (examples/parquet.rs:8, tpchgen.rs:9): a
    queryable metadata view with ANSI type spellings, usable from SQL."""
    from datafusion_tpch_spark.catalog import information_schema_columns

    cols = information_schema_columns(spark, SF_DIR)
    cols.createOrReplaceTempView("information_schema_columns")
    row = spark.sql(
        "SELECT data_type FROM information_schema_columns "
        "WHERE table_name = 'lineitem' AND column_name = 'l_orderkey'"
    ).collect()
    assert [r.data_type for r in row] == ["BIGINT"]
    emb = {
        r.column_name: r.data_type
        for r in cols.filter(cols.table_name == "embeddings").collect()
    }
    assert emb["embedding"] == "FLOAT[]"
    # ordinal positions are 1-based and dense per table
    ords = [
        r.ordinal_position
        for r in cols.filter(cols.table_name == "orders")
        .orderBy("ordinal_position")
        .collect()
    ]
    assert ords == list(range(1, len(ords) + 1))


def test_information_schema_tables_view(spark):
    from datafusion_tpch_spark.catalog import information_schema_tables

    t = {r.table_name: r.n_columns for r in information_schema_tables(spark, SF_DIR).collect()}
    assert t["events"] == 6 and t["embeddings"] == 3


def test_parquet_example_flow_sql(spark, tmp_path):
    """End-to-end mirror of the reference's examples/parquet.rs: enable
    info schema, bulk tpch(sf), SHOW TABLES, COPY a generated table to
    parquet, and COPY straight from a tpch_<t>(sf) SQL call."""
    from datafusion_tpch_spark.sources.parquet_io import copy_to_parquet
    from datafusion_tpch_spark.sources.tpch_gen import register_tpch, register_tpch_udtfs

    register_tpch_udtfs(spark)
    assert spark.sql("SELECT * FROM tpch(0.001, '')").count() == 8
    register_tpch(spark, 0.001)
    names = {r.tableName for r in show_tables(spark).collect()}
    assert {"nation", "lineitem"} <= names
    n = copy_to_parquet(spark.table("nation"), str(tmp_path / "tpch_nation.parquet"))
    assert n == 25
    m = copy_to_parquet(
        spark.sql("SELECT * FROM tpch_supplier(0.001)"),
        str(tmp_path / "tpch_supplier.parquet"),
    )
    assert m == 10


# events reads through its own explicit schemas (TimestampType, never the
# inferred TIMESTAMP_NTZ), so only the footer-derived tables are compared
@pytest.mark.parametrize("sf_dir", FIXTURE_DIRS)
def test_load_table_schema_equals_spark_inference(spark, sf_dir):
    """The footer-derived schema is exactly what Spark's own inference
    would produce, for every fixture table in every fixture dir."""
    for t in FIXTURE_TABLES:
        if t == "events":
            continue
        inferred = spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet")).schema
        assert load_table(spark, sf_dir, t).schema == inferred, (sf_dir, t)


_FRESH_APP_LOADS = """
import sys
from datafusion_tpch_spark import FIXTURE_TABLES
from datafusion_tpch_spark.catalog import load_table
from datafusion_tpch_spark.session import build_session

spark = build_session("fresh-loads", master="local[1]")
sc = spark.sparkContext
sc.setJobGroup("loads", "loads")
for t in FIXTURE_TABLES:
    load_table(spark, sys.argv[1], t)
print("jobs", len(sc.statusTracker().getJobIdsForGroup("loads")))
spark.stop()
"""


def test_load_table_starts_no_jobs_in_fresh_app():
    """Loading every fixture table in a fresh application runs no Spark
    job: no schema inference, no distributed listing."""
    out = subprocess.run(
        [sys.executable, "-c", _FRESH_APP_LOADS, SF_DIR], cwd=REPO,
        capture_output=True, text=True, timeout=300, check=True,
    ).stdout
    assert len(FIXTURE_TABLES) == 10
    assert "jobs 0" in out.splitlines(), out
