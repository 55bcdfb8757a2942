"""Persisted MinHash-LSH bucket index: build-to-parquet, validate, reload.

The near-dup admission family (``dedup_incremental_lsh``, the streaming
admission gates) probes a corpus (band, bkey) bucket index that until now
lived only as a session cache — rebuilt from the raw corpus every session.
A production crawl-ingest pipeline separates those lifetimes exactly the
way ``ann_index.py`` does for the IVF index: an INDEX BUILD JOB hashes the
corpus once and writes the bucket table to storage; any number of later
ADMISSION sessions hash only their incoming batch and semi-join it against
the stored cells.

- ``cells/`` — one row per occupied (band, bkey) cell with its corpus
  occupancy ``n_docs``, written ``partitionBy("band")`` so the band id is
  a PARTITION COLUMN: a probe restricted to a band subset is a statically
  partition-pruned scan (plan-asserted in ``tests/test_lsh_index.py``).
  Occupancy is stored rather than pre-filtered so the hot-cell cap stays a
  SERVE-side parameter (like nprobe for the ANN index): raising or
  lowering the boilerplate threshold never forces a rebuild.
- ``manifest.json`` — build parameters + a corpus fingerprint (row count,
  id-sum, value-sensitive text checksum).  Written LAST (via
  ``ann_index.write_manifest``), so a killed build leaves no manifest and
  the next session rebuilds instead of serving half-written cells.

All manifest IO routes through ``artifact_io`` — scheme-qualified index
roots (``s3a://...``) go through the Hadoop FileSystem connector.

No reference-engine counterpart: ``/root/reference/src/lib.rs`` has no
dedup tier; this extends the engine for the LLM-data-pipeline workload.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import ann_index, artifact_io

FORMAT_VERSION = 1

# The two cell-table forms ``write_lsh_index`` persists, with the types
# their writers declare (``band`` is a literal int per band).  Readers
# name the form they read, so no read starts a schema-inference job.
OCCUPANCY_SCHEMA = "band int, bkey string, n_docs bigint"
MEMBERSHIP_SCHEMA = "doc_id bigint, band int, bkey string, from_stream boolean"


def lsh_index_path(sf_dir: str, root: str | None = None) -> str:
    """Sibling of the ANN index dirs under the same artifact root, same
    basename+path-hash keying (two fixtures sharing a basename get
    distinct directories)."""
    return ann_index.index_path(sf_dir, root) + "_lsh"


def corpus_text_fingerprint(docs: DataFrame) -> str:
    """Cheap corpus identity for a (doc_id, text) table: row count,
    id-sum, and a value-sensitive term (sum of per-doc text CRC32s), so a
    regenerated corpus with the same shape but different text invalidates.
    One aggregate scan, three longs to the driver."""
    row = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").cast("long").alias("ids"),
        F.sum(F.crc32(F.col("text").cast("string"))).cast("long").alias("v"),
    ).collect()[0]
    return f"{row.n}:{row.ids}:{row.v}"


def write_lsh_index(
    cells: DataFrame,
    path: str,
    fingerprint: str,
    params: dict | None = None,
) -> None:
    """The index build job: persist a band-keyed bucket table — the
    (band, bkey, n_docs) occupancy form for batch admission, or the
    per-doc (doc_id, band, bkey, from_stream) MEMBERSHIP form the durable
    ingest loop appends to — band-partitioned, then the manifest LAST.
    On a REBUILD the stale manifest is deleted FIRST (same crash
    discipline as ``ann_index.write_index``): a kill between the cell
    overwrite and the new manifest must not leave yesterday's
    valid-looking manifest on top of destroyed cells."""
    from . import artifact_io

    spark = cells.sparkSession
    artifact_io.delete(path.rstrip("/") + "/manifest.json", spark=spark)
    cells.write.mode("overwrite").partitionBy("band").parquet(
        path.rstrip("/") + "/cells"
    )
    manifest = {"format": FORMAT_VERSION, "fingerprint": fingerprint,
                **(params or {})}
    ann_index.write_manifest(path, manifest, spark=spark)


def lsh_index_is_current(path: str, fingerprint: str,
                         params: dict | None = None,
                         spark: SparkSession | None = None) -> bool:
    """True iff a complete bucket index exists for exactly this corpus and
    these BUILD parameters (band/row geometry; the hot-cell cap is
    serve-side and never invalidates)."""
    m = ann_index.read_manifest(path, spark=spark)
    if m is None or m.get("format") != FORMAT_VERSION:
        return False
    if m.get("fingerprint") != fingerprint:
        return False
    return all(m.get(k) == v for k, v in (params or {}).items())


def load_lsh_cells(spark: SparkSession, path: str, schema: str,
                   bands: list[int] | None = None) -> DataFrame:
    """The stored bucket table in the form ``schema`` names
    (``OCCUPANCY_SCHEMA`` or ``MEMBERSHIP_SCHEMA``); with ``bands`` given,
    only those band directories are listed, under a static IN-filter on
    the partition column."""
    cells = path.rstrip("/") + "/cells"
    if bands is None:
        return spark.read.schema(schema).parquet(cells)
    return artifact_io.read_partitions(spark, cells, schema, "band", bands)
