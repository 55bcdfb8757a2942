"""Storage-agnostic small-artifact IO (index manifests, stage markers).

``ann_index.py`` documents ``SPARK_GRAFT_INDEX_DIR`` as "an object-store
prefix in a real deployment", but driver-local ``open()``/``os.remove``
cannot reach ``s3a://`` / ``hdfs://`` / ``abfs://``.  This module routes
every manifest/marker read, write, delete, and existence check through
the Hadoop FileSystem API (``org.apache.hadoop.fs``) whenever the path
carries a URI scheme — the same connector layer the executors' parquet IO
already uses, so any store Spark can scan, the manifests can live on too.

Schemeless paths (the local sandbox, pytest tmpdirs) stay on plain POSIX
IO: no JVM round-trip per manifest read, and the functions keep working
with no active SparkSession (e.g. unit tests that only touch manifests).

No reference-engine counterpart: ``/root/reference/src/lib.rs`` has no
persisted artifacts at all; this is deployment plumbing for the index
tier built on top of it.
"""

from __future__ import annotations

import functools
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*://")


def path_scheme(path: str) -> str | None:
    """URI scheme of ``path`` (``s3a``, ``hdfs``, ``file``, ...) or None
    for a bare local path."""
    m = _SCHEME_RE.match(path)
    return m.group(0)[:-3] if m else None


def _hadoop_fs(path: str, spark: SparkSession | None):
    """(FileSystem, Path) for a scheme-qualified path via the live JVM."""
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(
            f"{path!r} has a URI scheme; reaching it needs an active "
            "SparkSession (the Hadoop FileSystem connector lives in the JVM)"
        )
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jvm, hpath


def read_text(path: str, spark: SparkSession | None = None) -> str | None:
    """Full contents of a small text artifact, or None if absent/unreadable."""
    if path_scheme(path) is None:
        try:
            with open(path, encoding="utf-8") as fh:
                return fh.read()
        except OSError:
            return None
    fs, jvm, hpath = _hadoop_fs(path, spark)
    if not fs.exists(hpath):
        return None
    stream = fs.open(hpath)
    try:
        # commons-io ships on every Spark classpath
        return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def write_text(path: str, data: str, spark: SparkSession | None = None) -> None:
    """Overwrite a small text artifact, creating parent dirs as needed."""
    if path_scheme(path) is None:
        parent = os.path.dirname(path)
        if parent:
            os.makedirs(parent, exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(data)
        return
    fs, _, hpath = _hadoop_fs(path, spark)
    stream = fs.create(hpath, True)  # overwrite=True; mkdirs implied
    try:
        stream.write(bytearray(data.encode("utf-8")))
    finally:
        stream.close()


def delete(path: str, recursive: bool = False,
           spark: SparkSession | None = None) -> None:
    """Best-effort delete of a file (or, with ``recursive``, a tree);
    absent paths are a no-op — callers use this to clear stale manifests
    and half-built index directories before a rebuild."""
    if path_scheme(path) is None:
        if recursive:
            shutil.rmtree(path, ignore_errors=True)
        else:
            try:
                os.remove(path)
            except OSError:
                pass
        return
    fs, _, hpath = _hadoop_fs(path, spark)
    if fs.exists(hpath):
        fs.delete(hpath, recursive)


def exists(path: str, spark: SparkSession | None = None) -> bool:
    if path_scheme(path) is None:
        return os.path.exists(path)
    fs, _, hpath = _hadoop_fs(path, spark)
    return bool(fs.exists(hpath))


def read_partitions(spark: SparkSession, path: str, schema: str, column: str,
                    values) -> DataFrame:
    """The rows of the ``column``-partitioned parquet artifact at ``path``
    whose ``column`` is in ``values``, read with the schema its writer
    declares — no schema-inference job.

    Only the ``column=<v>`` directories that exist are named (a value
    with no rows has none), with ``basePath`` so ``column`` stays a
    partition column; nothing else under ``path`` is listed.  Spark lists
    up to ``spark.sql.sources.parallelPartitionDiscovery.threshold`` paths
    on the driver and starts a listing job beyond that, so a larger probe
    is a union of scans of at most that many directories each.  The
    ``isin`` filter stays, so every scan keeps a static PartitionFilter."""
    vals = sorted({int(v) for v in values})
    root = path.rstrip("/")
    dirs = [d for d in (f"{root}/{column}={v}" for v in vals)
            if exists(d, spark)]
    per_scan = int(spark.conf.get(
        "spark.sql.sources.parallelPartitionDiscovery.threshold"))
    reader = spark.read.schema(schema).option("basePath", root)
    scans = [reader.parquet(*dirs[i:i + per_scan])
             for i in range(0, len(dirs), per_scan)]
    df = functools.reduce(DataFrame.union, scans) if scans else reader.parquet()
    return df.filter(F.col(column).isin(vals))
