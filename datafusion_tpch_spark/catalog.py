"""Catalog registration: fixture parquet -> temp views.

Mirrors the reference's catalog surface — ``register_tpch_udtfs`` +
``tpch(sf)`` register tables under bare names into the session catalog
(``/root/reference/src/lib.rs:189-200`` and ``:203-310``) — but sourced from
the driver's parquet fixtures (TESTDATA.md) instead of eager in-memory
generation.  Parquet scans are splittable, so unlike the reference's
single-batch MemTable (``src/lib.rs:117-126``) every downstream query starts
from a parallel, column-pruned, predicate-pushed scan.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from . import FIXTURE_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# DataFrames are immutable plan objects and the fixture files never change
# within a session, so the (session, dir, table) -> DataFrame mapping is
# safe to memoize — it skips re-reading the footer and re-resolving the
# scan relation (file listing + analysis) on every query build.  Weak-keyed
# on the session so entries die with it (no stale plans against a stopped
# context).
_LOAD_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict[tuple[str, str], DataFrame]]" = None  # type: ignore[assignment]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a DataFrame (splittable parquet scan).

    ``events.ts`` is written as parquet TIMESTAMP(NANOS), which Spark's
    vectorized reader rejects; read it as int64 nanoseconds and rebuild a
    microsecond timestamp (floor division — the same truncation DuckDB
    applies when it narrows nanos to its native micros).
    """
    global _LOAD_CACHE
    if _LOAD_CACHE is None:
        _LOAD_CACHE = weakref.WeakKeyDictionary()
    per_session = _LOAD_CACHE.setdefault(spark, {})
    key = (os.path.normpath(sf_dir), name)
    cached = per_session.get(key)
    if cached is not None:
        return cached
    df = _load_table_uncached(spark, sf_dir, name)
    per_session[key] = df
    return df


# Some fixture generations write events.ts as parquet TIMESTAMP(NANOS),
# which Spark's vectorized reader rejects; others write plain
# TIMESTAMP(MICROS).  Sniff the footer and, only when the column really is
# nanos, read it through an explicit int64 schema (avoiding the
# session-global nanosAsLong legacy flag, which would silently turn every
# other nanos column in the session into bigint) and rebuild a microsecond
# timestamp with the same floor-truncation DuckDB applies.
EVENTS_RAW_SCHEMA = (
    "event_id bigint, ts bigint, user_id bigint, event_type string, "
    "value double, props string"
)

# Micros fixtures read through an explicit TIMESTAMP schema: pins the column
# to TimestampType (not the inferred TIMESTAMP_NTZ, which functions like
# unix_micros reject) — value-identical under the UTC session timezone.
EVENTS_MICROS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)


def events_ts_is_nanos(path: str) -> bool:
    try:
        import pyarrow.parquet as pq

        return str(pq.read_schema(path).field("ts").type) == "timestamp[ns]"
    except Exception:
        return False


def _footer_schema(spark: SparkSession, path: str) -> StructType:
    """The Spark schema of one parquet file, read from its footer on the
    driver (well under a millisecond) — the same types Spark's own
    inference yields, without the one-task inference job
    ``spark.read.parquet(path)`` starts.  Timestamps without a UTC
    adjustment map to TIMESTAMP_NTZ exactly when the session's inference
    would (``spark.sql.parquet.inferTimestampNTZ.enabled``)."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled")
    return from_arrow_schema(
        pq.read_schema(path), prefer_timestamp_ntz=ntz.lower() == "true"
    )


def _load_table_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        if events_ts_is_nanos(path):
            df = spark.read.schema(EVENTS_RAW_SCHEMA).parquet(path)
            return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        return spark.read.schema(EVENTS_MICROS_SCHEMA).parquet(path)
    return spark.read.schema(_footer_schema(spark, path)).parquet(path)


def register_tables(
    spark: SparkSession,
    sf_dir: str = DEFAULT_SF_DIR,
    tables: tuple[str, ...] = FIXTURE_TABLES,
) -> dict[str, DataFrame]:
    """Register every fixture table as a temp view under its bare name.

    Equivalent of the reference's bulk ``tpch(sf)`` side effect
    (``src/lib.rs:232-261``): after this, ``spark.sql("SELECT * FROM
    lineitem")`` resolves.  Returns the DataFrames keyed by name.
    """
    out: dict[str, DataFrame] = {}
    for name in tables:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def listing(spark: SparkSession, tables: tuple[str, ...] = FIXTURE_TABLES) -> DataFrame:
    """1-column ``table_name`` listing DataFrame — the reference's ``tpch()``
    result shape (``src/lib.rs:294-306``).  Inline VALUES (LocalRelation),
    not a parallelized RDD: catalog metadata should cost zero tasks."""
    from .inline import inline_table

    return inline_table(spark, [(t,) for t in tables], "table_name string")


# Spark simpleString -> ANSI/DuckDB information_schema type spelling, so the
# metadata view is directly comparable across engines.
_ANSI_TYPES = {
    "bigint": "BIGINT",
    "int": "INTEGER",
    "smallint": "SMALLINT",
    "tinyint": "TINYINT",
    "string": "VARCHAR",
    "double": "DOUBLE",
    "float": "FLOAT",
    "boolean": "BOOLEAN",
    "date": "DATE",
    "timestamp": "TIMESTAMP",
    # DuckDB's information_schema reports plain TIMESTAMP for both; the
    # tz-ness distinction is a Spark-internal spelling
    "timestamp_ntz": "TIMESTAMP",
    "binary": "BLOB",
}


def _ansi_type(dtype: str) -> str:
    if dtype.startswith("decimal"):
        return dtype.upper()
    if dtype.startswith("array<") and dtype.endswith(">"):
        return _ansi_type(dtype[len("array<") : -1]) + "[]"
    return _ANSI_TYPES.get(dtype, dtype.upper())


def information_schema_columns(
    spark: SparkSession,
    sf_dir: str = DEFAULT_SF_DIR,
    tables: tuple[str, ...] = FIXTURE_TABLES,
) -> DataFrame:
    """Queryable ``information_schema.columns`` equivalent over the catalog —
    parity with the reference enabling information_schema on its context
    (``examples/parquet.rs:8``, ``examples/tpchgen.rs:9``).

    Catalog metadata lives on the driver in every engine (DataFusion's
    information_schema is likewise built from in-memory catalog state), so
    this is a plan-time construction, not a distributed scan.  Type names
    use the ANSI spelling DuckDB's information_schema reports, making the
    view value-comparable across engines.
    """
    from .inline import inline_table

    rows = []
    for t in tables:
        df = load_table(spark, sf_dir, t)
        for i, (cname, dtype) in enumerate(df.dtypes, 1):
            rows.append((t, cname, i, _ansi_type(dtype)))
    return inline_table(
        spark,
        rows,
        "table_name string, column_name string, ordinal_position int, data_type string",
    )


def information_schema_tables(
    spark: SparkSession,
    sf_dir: str = DEFAULT_SF_DIR,
    tables: tuple[str, ...] = FIXTURE_TABLES,
) -> DataFrame:
    """``information_schema.tables`` equivalent: name + column count per
    registered table."""
    from .inline import inline_table

    rows = [
        (t, len(load_table(spark, sf_dir, t).columns)) for t in tables
    ]
    return inline_table(spark, rows, "table_name string, n_columns int")
