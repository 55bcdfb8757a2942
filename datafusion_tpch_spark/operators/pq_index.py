"""Persisted product-quantization index: codebooks + m-byte codes on
storage, ADC serve from artifacts alone.

The round-13 persisted tier covered IVF (``ann_index.py``), LSH
(``lsh_index.py``) and BPE; the PQ family was the one index whose
lifetime was still session-bound — every serve session re-derived the
codebook and re-encoded the corpus.  This module gives PQ the same
build-job / serve-session separation, with the same manifest discipline
as ``ann_index.py`` (delete stale manifest FIRST, write artifacts, write
manifest LAST, fingerprint-validate before serving):

- ``codebooks/`` — the m x k sub-codebook rows ``(s, j, ce)`` (one tiny
  parquet file; a serve session collects m*k rows — corpus-size-
  independent driver traffic).
- ``codes/`` — ``(vec_id, codes array<int>)``: m small ints per corpus
  vector, the ~1/64-size artifact that makes PQ worth persisting at all
  (storing reconstructions would store the corpus back at full width).
  Written straight from the narrow encode pass — file count follows the
  source scan's partitioning, which Spark sizes by maxPartitionBytes.
- ``manifest.json`` — format version, corpus fingerprint, pq params.

Serve-side, the codes decode to reconstructions IN-PLAN: the codebook
rides in as array literals and ``recon = concat_s element_at(cb[s],
codes[s]+1)`` — a JVM-side narrow projection, no join, no shuffle, no
Python.  Because the reconstruction is exactly the concatenated codebook
rows, a persisted serve ranks BIT-IDENTICALLY to the in-session
``ann_pq_topk`` plan, which is what lets the two share one oracle.

The build is a batch job (PQ scans everything; there are no per-cell
append streams), so unlike the IVF/LSH artifacts there is no compaction
companion — nothing ever appends to ``codes/``.

No reference-engine counterpart: ``/root/reference/src/lib.rs`` has no
vector indexing; this extends the engine for the LLM-data-pipeline tier.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from . import ann_index, artifact_io

# The artifacts' schemas as their writers declare them (``codes`` is
# ``similarity.pq_codes``'s output, IVF-PQ ``cells`` is
# ``similarity.ivf_pq_codes``'s).  Readers name them, so no read starts a
# schema-inference job.
CODEBOOKS_SCHEMA = "s int, j int, ce array<double>"
CODES_SCHEMA = "vec_id long, codes array<int>"
IVFPQ_CELLS_SCHEMA = "vec_id long, cell long, codes array<int>"


def pq_index_path(sf_dir: str, root: str | None = None) -> str:
    """PQ artifact directory for one fixture — a sibling tier under the
    fixture's ann_index directory, so one fixture's vector artifacts
    (IVF cells, PQ codes) live under one root."""
    return ann_index.index_path(sf_dir, root).rstrip("/") + "/pq"


def write_pq_index(
    emb: DataFrame,
    codebook: "list[list[list[float]]]",
    path: str,
    fingerprint: str,
    params: dict | None = None,
) -> None:
    """The PQ index build job: persist sub-codebooks + the coded corpus,
    manifest LAST (killed build → no manifest → serve sessions rebuild
    instead of reading half-written artifacts; stale manifest deleted
    FIRST for the converse kill window)."""
    from ..inline import inline_table
    from .similarity import pq_codes

    spark = emb.sparkSession
    artifact_io.delete(ann_index._manifest_path(path), spark=spark)
    cb_rows = [
        (int(s), int(j), [float(x) for x in codebook[s][j]])
        for s in range(len(codebook))
        for j in range(len(codebook[s]))
    ]
    inline_table(
        spark, cb_rows, CODEBOOKS_SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "codebooks")
    )
    pq_codes(emb, codebook).write.mode("overwrite").parquet(
        os.path.join(path, "codes")
    )
    manifest = {
        "format": ann_index.FORMAT_VERSION,
        "fingerprint": fingerprint,
        **(params or {}),
    }
    ann_index.write_manifest(path, manifest, spark=spark)


def load_pq_codebook(spark: SparkSession, path: str) -> list:
    """m x k x sub nested list from ``codebooks/`` — the bounded collect
    (m*k rows) every serve session pays once."""
    rows = (
        spark.read.schema(CODEBOOKS_SCHEMA)
        .parquet(os.path.join(path, "codebooks")).collect()
    )
    by_s: dict[int, dict[int, list[float]]] = {}
    for r in rows:
        by_s.setdefault(int(r.s), {})[int(r.j)] = [float(x) for x in r.ce]
    return [
        [by_s[s][j] for j in sorted(by_s[s])] for s in sorted(by_s)
    ]


def load_pq_codes(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(CODES_SCHEMA).parquet(os.path.join(path, "codes"))


def ivfpq_index_path(sf_dir: str, root: str | None = None) -> str:
    """IVF-PQ artifact directory — sibling tier to ``pq/`` under the
    fixture's ann_index root."""
    return ann_index.index_path(sf_dir, root).rstrip("/") + "/ivfpq"


def write_ivfpq_index(
    emb: DataFrame,
    centroids: "list[tuple[int, list[float]]]",
    codebook: "list[list[list[float]]]",
    path: str,
    fingerprint: str,
    params: dict | None = None,
) -> None:
    """The IVF-PQ index build job — the FAISS IVFx,PQy layout on
    storage: coarse centroids (k rows), sub-codebooks (m*k rows), and
    the corpus as (vec_id, cell, m-int codes) written
    ``partitionBy("cell")`` so probes are statically partition-pruned
    AND each pruned read is ~1/64 the raw bytes.  One fused Arrow pass
    builds it (``similarity.ivf_pq_codes``); manifest discipline as
    everywhere (stale manifest deleted FIRST, new manifest LAST)."""
    from ..inline import inline_table
    from .similarity import ivf_pq_codes

    spark = emb.sparkSession
    artifact_io.delete(ann_index._manifest_path(path), spark=spark)
    inline_table(
        spark,
        [(int(cid), [float(x) for x in vec]) for cid, vec in sorted(centroids)],
        ann_index.CENTROIDS_SCHEMA,
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "centroids")
    )
    cb_rows = [
        (int(s), int(j), [float(x) for x in codebook[s][j]])
        for s in range(len(codebook))
        for j in range(len(codebook[s]))
    ]
    inline_table(
        spark, cb_rows, CODEBOOKS_SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "codebooks")
    )
    ivf_pq_codes(emb, centroids, codebook).write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(os.path.join(path, "cells"))
    manifest = {
        "format": ann_index.FORMAT_VERSION,
        "fingerprint": fingerprint,
        "k": len(centroids),
        **(params or {}),
    }
    ann_index.write_manifest(path, manifest, spark=spark)


def load_ivfpq_cells(spark: SparkSession, path: str,
                     cell_ids: "list[int]") -> DataFrame:
    """The probed inverted lists of codes: only the probed directories
    are listed, under a static IN-filter on the partition column, and each
    carries m ints per vector instead of the raw embedding."""
    return artifact_io.read_partitions(
        spark, os.path.join(path, "cells"), IVFPQ_CELLS_SCHEMA, "cell",
        cell_ids,
    )


def pq_recon_expr(codebook: "list[list[list[float]]]",
                  codes_col: str = "codes") -> Column:
    """The in-plan ADC decode: reconstruction = concatenated codebook
    rows selected by the stored codes.  Pure JVM expression over array
    literals (m element_at lookups + one concat) — the codebook values
    are EXACT doubles from the artifact, so the reconstruction is
    bit-identical to ``pq_encode``'s."""
    # backtick-quoted (doubling any embedded backtick) so a codes column
    # whose name needs quoting cannot break the spliced expression
    quoted = "`" + codes_col.replace("`", "``") + "`"
    subs = []
    for s, sub_cb in enumerate(codebook):
        rows = ",".join(
            "array(" + ",".join(_double_lit(x) for x in row) + ")"
            for row in sub_cb
        )
        subs.append(
            f"element_at(array({rows}), {quoted}[{s}] + 1)"
        )
    return F.expr("concat(" + ",".join(subs) + ")")


def _double_lit(x: float) -> str:
    """Exact SQL double literal: CAST of Python's shortest round-trip
    repr — Java's parseDouble is correctly rounded, so the JVM sees the
    bit-identical double that ``F.lit(float(x))`` would produce.
    Non-finite values get Spark's canonical token spelling (repr would
    emit 'inf'/'nan' and lean on the lenient string cast); centroids of
    finite data can't produce them, but the helper shouldn't rely on
    that."""
    v = float(x)
    if math.isnan(v):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(v):
        return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
    return f"CAST('{v!r}' AS DOUBLE)"
