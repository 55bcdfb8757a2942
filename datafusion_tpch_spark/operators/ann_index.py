"""Persisted ANN index artifacts: build-to-parquet, validate, reload.

The in-session IVF family (``queries/extensions.py``) memoizes its trained
centroids and cell-assigned corpus per SparkSession — one session's memory.
A production vector pipeline separates those lifetimes: an INDEX BUILD JOB
trains once and writes the artifacts to storage, and any number of later
SERVE sessions read them back without retraining.  This module is that
separation:

- ``centroids/`` — the k trained centroid vectors (one small parquet file;
  every serve session collects it — k x d doubles, corpus-size-independent
  driver traffic).
- ``cells/`` — the cell-assigned corpus, written ``partitionBy("cell")`` so
  the cell id is a PARTITION COLUMN: a serve-time probe of nprobe cells is
  a statically partition-pruned scan that never touches the other k-nprobe
  directories.  At 100 TB this is the layout every IVF store uses — the
  inverted lists ARE the partition directories.
- ``manifest.json`` — index parameters + a corpus fingerprint (row count,
  id-sum, value-sensitive quantized sum of the leading dimension).  A
  serve session validates the manifest against the live corpus and only
  rebuilds when the corpus actually changed; a FRESH session over an
  unchanged corpus serves with zero training work
  (``tests/test_ann_index.py`` proves this by making training raise).

No reference-engine counterpart: ``/root/reference/src/lib.rs`` has no
vector indexing; this extends the engine for the LLM-data-pipeline tier.
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import artifact_io

FORMAT_VERSION = 2  # v2: fingerprint gained the all-dims L1 term

# The artifacts' schemas as their writers declare them (``cells`` is
# ``similarity.ivf_assign``'s output).  Readers name them, so no read
# starts a schema-inference job.
CENTROIDS_SCHEMA = "cid long, ce array<double>"
CELLS_SCHEMA = "vec_id long, embedding array<float>, cell long"


def default_index_root() -> str:
    """Repo-local artifact root (spark-warehouse/ is gitignored); override
    with SPARK_GRAFT_INDEX_DIR (a shared filesystem / object-store prefix
    in a real deployment)."""
    repo = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    return os.environ.get(
        "SPARK_GRAFT_INDEX_DIR", os.path.join(repo, "spark-warehouse", "ann_index")
    )


def index_path(sf_dir: str, root: str | None = None) -> str:
    """Artifact directory for one fixture.  Keyed on the basename (human-
    readable) PLUS a hash of the normalized absolute path, so two fixtures
    that share a basename under different parents (``/root/testdata/sf0.1``
    vs ``/tmp/other/sf0.1``) get distinct index directories instead of
    silently invalidating each other on every alternation."""
    norm = os.path.normpath(sf_dir)
    base = os.path.basename(norm)
    tag = hashlib.md5(os.path.abspath(norm).encode("utf-8")).hexdigest()[:8]
    return os.path.join(root or default_index_root(), f"{base}-{tag}")


def corpus_fingerprint(emb: DataFrame) -> str:
    """Cheap corpus identity: row count + id-sum + two value-sensitive
    terms — the quantized sum of the leading embedding dimension AND the
    quantized sum of full-vector L1 norms, so an edit confined to dims 2+
    (ids and count unchanged) still invalidates the index.  Still ONE
    aggregate scan; four longs to the driver."""
    l1 = F.aggregate(
        "embedding",
        F.lit(0.0),
        lambda acc, x: acc + F.abs(x.cast("double")),
    )
    row = emb.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("vec_id").cast("long").alias("ids"),
        F.sum(
            F.floor(F.element_at("embedding", 1).cast("double") * 1e6)
        ).cast("long").alias("v"),
        F.sum(F.floor(l1 * 1e6)).cast("long").alias("l1"),
    ).collect()[0]
    return f"{row.n}:{row.ids}:{row.v}:{row.l1}"


def write_index(
    emb: DataFrame,
    centroids: list[tuple[int, list[float]]],
    path: str,
    fingerprint: str,
    params: dict | None = None,
) -> None:
    """The index build job: persist centroids + the cell-partitioned
    corpus, then the manifest LAST — a killed build leaves no manifest, so
    serve sessions treat the directory as absent instead of reading a
    half-written index.  On a REBUILD the old manifest is deleted FIRST,
    for the same reason: a kill between the artifact overwrite and the new
    manifest must not leave yesterday's valid-looking manifest on top of
    destroyed artifacts."""
    from ..inline import inline_table
    from .similarity import ivf_assign

    spark = emb.sparkSession
    artifact_io.delete(_manifest_path(path), spark=spark)
    cent_df = inline_table(
        spark,
        [(int(cid), [float(x) for x in vec]) for cid, vec in sorted(centroids)],
        CENTROIDS_SCHEMA,
    )
    cent_df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "centroids")
    )
    ivf_assign(emb, centroids).write.mode("overwrite").partitionBy("cell").parquet(
        os.path.join(path, "cells")
    )
    manifest = {"format": FORMAT_VERSION, "fingerprint": fingerprint,
                "k": len(centroids), **(params or {})}
    write_manifest(path, manifest, spark=spark)


def _manifest_path(path: str) -> str:
    # object-store prefixes are URIs — never os.path.join a scheme'd path
    return path.rstrip("/") + "/manifest.json"


def write_manifest(path: str, manifest: dict,
                   spark: SparkSession | None = None) -> None:
    artifact_io.write_text(
        _manifest_path(path), json.dumps(manifest, sort_keys=True) + "\n",
        spark=spark,
    )


def update_manifest(path: str, spark: SparkSession | None = None,
                    **extra) -> None:
    """Merge keys into an existing manifest — e.g. the ingest gate marks
    ``ingested=True`` only AFTER its stream completes, so a killed ingest
    leaves an unmarked manifest and the next session rebuilds instead of
    serving a half-appended index."""
    m = read_manifest(path, spark=spark)
    if m is None:
        raise ValueError(f"no manifest to update at {path}")
    m.update(extra)
    write_manifest(path, m, spark=spark)


def read_manifest(path: str, spark: SparkSession | None = None) -> dict | None:
    text = artifact_io.read_text(_manifest_path(path), spark=spark)
    if text is None:
        return None
    try:
        return json.loads(text)
    except ValueError:
        return None


def index_is_current(path: str, fingerprint: str, params: dict | None = None,
                     spark: SparkSession | None = None) -> bool:
    """True iff a complete index exists at ``path`` for exactly this
    corpus AND these build parameters (an nprobe change is serve-side and
    does NOT invalidate; a k/iters change rebuilds)."""
    m = read_manifest(path, spark=spark)
    if m is None or m.get("format") != FORMAT_VERSION:
        return False
    if m.get("fingerprint") != fingerprint:
        return False
    return all(m.get(k) == v for k, v in (params or {}).items())


def load_centroids(spark: SparkSession, path: str) -> list[tuple[int, list[float]]]:
    """k rows to the driver — the bounded collect every probe needs."""
    rows = (
        spark.read.schema(CENTROIDS_SCHEMA)
        .parquet(os.path.join(path, "centroids")).collect()
    )
    return sorted((int(r.cid), [float(x) for x in r.ce]) for r in rows)


def load_cells(spark: SparkSession, path: str, cell_ids: list[int],
               subdir: str = "cells") -> DataFrame:
    """The probed inverted lists (of ``subdir``, e.g. a compacted copy):
    only the probed cell directories are listed, and a static IN-filter on
    the partition column stays."""
    return artifact_io.read_partitions(
        spark, os.path.join(path, subdir), CELLS_SCHEMA, "cell", cell_ids
    )
