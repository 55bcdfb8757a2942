"""SQL UDTF surface parity with the reference's own test suite
(/root/reference/src/lib.rs:323-477), run entirely through spark.sql:

- per-table ``tpch_<t>(sf)`` shape checks (their first two tests),
- the bulk ``tpch(sf)`` listing + bare-name registration (their third),
- plus two guarantees the reference does NOT have: value-identity between
  the SQL and DataFrame generator paths, and part/num_parts composition
  via LATERAL join (the distributed SQL spelling).
"""

from __future__ import annotations

import pytest

from datafusion_tpch_spark.sources.tpch_gen import GENERATORS, register_tpch
from datafusion_tpch_spark.sources.tpch_udtf import register_tpch_udtfs

SF = 0.001

# (table, rows at SF, columns) — column counts are the reference's asserted
# 4/8/9/16/9/5/7/3 (src/lib.rs:335-344); row counts are this repo's exact
# deterministic cardinalities at sf0.001 (see test_tpch_gen for the pin).
EXPECTED = [
    ("nation", 25, 4),
    ("customer", 150, 8),
    ("orders", 1500, 9),
    ("lineitem", 6005, 16),
    ("part", 200, 9),
    ("partsupp", 800, 5),
    ("supplier", 10, 7),
    ("region", 5, 3),
]


@pytest.fixture(scope="module", autouse=True)
def _registered(spark):
    register_tpch_udtfs(spark)


@pytest.mark.parametrize("table,n_rows,n_cols", EXPECTED, ids=[e[0] for e in EXPECTED])
def test_register_all_tpch_functions_sql(spark, table, n_rows, n_cols):
    """Mirror of test_register_all_tpch_functions (src/lib.rs:324-370):
    SELECT * FROM tpch_<t>(sf) straight from SQL, shape-asserted."""
    df = spark.sql(f"SELECT * FROM tpch_{table}({SF})")
    assert len(df.columns) == n_cols
    assert df.count() == n_rows


def test_tpch_provider_listing_sql(spark):
    """Mirror of test_register_tpch_provider (src/lib.rs:424-477): the bulk
    tpch(sf) call returns the 8-row, 1-column listing; the reference's
    plan-time side effect (bare-name registration) is the Python call
    register_tpch — same listing, same catalog result."""
    rows = spark.sql(f"SELECT * FROM tpch({SF}, '')").collect()
    assert len(rows) == 8 and rows[0].__fields__ == ["table_name"]
    listing = register_tpch(spark, SF)
    assert [r.table_name for r in listing.collect()] == [r.table_name for r in rows]
    for table, n_rows, n_cols in EXPECTED:
        df = spark.sql(f"SELECT * FROM {table}")
        assert len(df.columns) == n_cols
        assert df.count() == n_rows


@pytest.mark.parametrize("table", sorted(GENERATORS), ids=sorted(GENERATORS))
def test_sql_values_identical_to_dataframe_path(spark, table):
    """Beyond the reference: the SQL UDTF rows are byte-identical to the
    distributed Column-expression generator's rows (same xxhash64-derived
    cells through two independent implementations)."""
    got = sorted(tuple(r) for r in spark.sql(f"SELECT * FROM tpch_{table}({SF})").collect())
    want = sorted(tuple(r) for r in GENERATORS[table](spark, SF).collect())
    assert got == want


def test_lateral_parts_compose_sql(spark):
    """The distributed SQL spelling: a LATERAL join over part ids unions to
    exactly the whole table (one task per part — the reference validates
    part/num_parts but silently ignores them, src/lib.rs:93-106)."""
    whole = sorted(
        tuple(r) for r in spark.sql(f"SELECT * FROM tpch_orders({SF})").collect()
    )
    parts = sorted(
        tuple(r)
        for r in spark.sql(
            f"SELECT t.* FROM range(1, 5) AS r, "
            f"LATERAL tpch_orders({SF}, CAST(r.id AS INT), 4) AS t"
        ).collect()
    )
    assert parts == whole


@pytest.mark.parametrize("num_parts", [1, 2, 4, 7, 32])
@pytest.mark.parametrize("table", ["nation", "region"])
def test_lateral_parts_partition_fixed_tables_sql(spark, table, num_parts):
    """The fixed-size tables split by part too: the LATERAL union over
    any part count is the whole table, each row exactly once (more parts
    than rows leaves the surplus parts empty)."""
    whole = sorted(
        tuple(r) for r in spark.sql(f"SELECT * FROM tpch_{table}({SF})").collect()
    )
    parts = sorted(
        tuple(r)
        for r in spark.sql(
            f"SELECT t.* FROM range(1, {num_parts + 1}) AS r, "
            f"LATERAL tpch_{table}({SF}, CAST(r.id AS INT), {num_parts}) AS t"
        ).collect()
    )
    assert parts == whole


def test_tpch_path_flush(spark, tmp_path):
    """tpch(sf, path) flushes every table to <path>/<table>.parquet — the
    reference documents this arg (src/lib.rs:277-279) but its call() never
    reads it (src/lib.rs:282-290); implemented for real here."""
    out = str(tmp_path / "flush")
    spark.sql(f"SELECT * FROM tpch({SF}, '{out}')").collect()
    for table, n_rows, n_cols in EXPECTED:
        df = spark.read.parquet(f"{out}/{table}.parquet")
        assert df.count() == n_rows, table
        assert len(df.columns) == n_cols, table
