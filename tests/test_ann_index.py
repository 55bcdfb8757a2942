"""Persisted ANN index: build→write→reload→serve lifecycle.

The production claim under test: the index artifacts on disk are
sufficient to serve — a session that never trained anything (and CANNOT
train, we make training raise) answers identically to the in-session
trained path, and the serve scan is statically partition-pruned to the
probed cells.
"""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from datafusion_tpch_spark.operators import ann_index as ai
from datafusion_tpch_spark.queries import extensions as ext

from tests.conftest import SF_DIR


@pytest.fixture()
def index_dir(tmp_path, monkeypatch):
    root = str(tmp_path / "ann_index")
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", root)
    return root


def _fresh_build(spark, index_dir):
    df = ext.ann_persisted_index_topk(spark, SF_DIR)
    rows = df.collect()
    return df, rows


def test_build_writes_artifacts_and_serves(spark, index_dir):
    _, rows = _fresh_build(spark, index_dir)
    assert len(rows) > 0
    path = ai.index_path(SF_DIR, index_dir)
    assert os.path.exists(os.path.join(path, "manifest.json"))
    assert os.path.isdir(os.path.join(path, "centroids"))
    # cell-partitioned layout: the inverted lists are directories
    cell_dirs = [d for d in os.listdir(os.path.join(path, "cells"))
                 if d.startswith("cell=")]
    assert len(cell_dirs) > 1


def test_matches_in_session_ivf(spark, index_dir):
    """Persistence changes the index's lifetime, not its answers."""
    _, rows = _fresh_build(spark, index_dir)
    expect = ext.ann_ivf_topk(spark, SF_DIR).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in expect]


def test_fresh_session_serves_without_retraining(spark, index_dir, monkeypatch):
    """Simulated fresh session: training memo cleared AND training made to
    raise — serve must succeed purely from the parquet artifacts."""
    _fresh_build(spark, index_dir)  # the build job, session 1

    # "session 2": no trained-centroid memo, training forbidden
    monkeypatch.setattr(ext, "_IVF_CENT_CACHE", {})

    def boom(*a, **k):  # pragma: no cover - failure path
        raise AssertionError("serve path attempted to retrain the index")

    monkeypatch.setattr(ext, "_ivf_trained_centroids", boom)
    rows = ext.ann_persisted_index_topk(spark, SF_DIR).collect()
    assert len(rows) > 0


def test_artifact_io_scheme_dispatch():
    """Keyed off the path scheme: bare local paths stay POSIX; any URI
    scheme routes to the Hadoop FileSystem connector."""
    from datafusion_tpch_spark.operators import artifact_io as aio

    assert aio.path_scheme("/tmp/x/manifest.json") is None
    assert aio.path_scheme("relative/path") is None
    assert aio.path_scheme("file:///tmp/x") == "file"
    assert aio.path_scheme("s3a://bucket/prefix/idx") == "s3a"
    assert aio.path_scheme("hdfs://nn:8020/idx") == "hdfs"
    assert aio.path_scheme("abfs://c@a.dfs.core.windows.net/p") == "abfs"


def test_artifact_io_scheme_without_session_raises(tmp_path):
    """A scheme-qualified path with NO active SparkSession must fail loudly
    (the connector lives in the JVM) — never fall back to POSIX and
    silently write s3a://... as a local relative directory."""
    from pyspark.sql import SparkSession

    from datafusion_tpch_spark.operators import artifact_io as aio

    if SparkSession.getActiveSession() is not None:
        import pytest

        pytest.skip("an active session would legitimately serve the call")
    import pytest

    with pytest.raises(RuntimeError, match="SparkSession"):
        aio.write_text("s3a://bucket/idx/manifest.json", "x")


def test_artifact_io_roundtrip_through_hadoop_fs(spark, tmp_path):
    """A ``file:`` URI exercises the real Hadoop FileSystem code path —
    the same connector layer an ``s3a://`` prefix would hit — end to end:
    write, read, exists, overwrite, delete."""
    from datafusion_tpch_spark.operators import artifact_io as aio

    uri = f"file://{tmp_path}/deep/nested/manifest.json"
    assert aio.read_text(uri, spark=spark) is None
    assert not aio.exists(uri, spark=spark)
    aio.write_text(uri, '{"a": 1}\n', spark=spark)
    assert aio.exists(uri, spark=spark)
    assert aio.read_text(uri, spark=spark) == '{"a": 1}\n'
    aio.write_text(uri, '{"a": 2}\n', spark=spark)      # overwrite
    assert aio.read_text(uri, spark=spark) == '{"a": 2}\n'
    aio.delete(uri, spark=spark)
    assert not aio.exists(uri, spark=spark)
    # recursive delete of a tree
    tree = f"file://{tmp_path}/deep"
    aio.write_text(tree + "/again.json", "x", spark=spark)
    aio.delete(tree, recursive=True, spark=spark)
    assert not aio.exists(tree, spark=spark)
    # and the POSIX fast path agrees with the connector path
    local = str(tmp_path / "local" / "manifest.json")
    aio.write_text(local, "posix\n")
    assert aio.read_text(local) == "posix\n"
    aio.delete(local)
    assert aio.read_text(local) is None


def test_manifest_io_reaches_scheme_qualified_paths(spark, tmp_path):
    """The full manifest lifecycle (write, read, update, current-check,
    delete) over a ``file:`` URI — proof the index metadata can live on
    whatever store the parquet artifacts do."""
    path = f"file://{tmp_path}/idx"
    ai.write_manifest(path, {"format": ai.FORMAT_VERSION,
                             "fingerprint": "f1", "k": 3}, spark=spark)
    assert ai.read_manifest(path, spark=spark)["k"] == 3
    assert ai.index_is_current(path, "f1", spark=spark)
    assert not ai.index_is_current(path, "f2", spark=spark)
    ai.update_manifest(path, spark=spark, ingested=True)
    assert ai.read_manifest(path, spark=spark)["ingested"] is True


def test_fingerprint_sensitive_to_non_leading_dims(spark):
    """An edit confined to dims 2+ (count, ids, and dim-1 unchanged) must
    still invalidate the index."""
    from pyspark.sql import functions as F

    emb = ext._t(spark, SF_DIR, "embeddings")[0]
    fp1 = ai.corpus_fingerprint(emb)
    bumped = emb.withColumn(
        "embedding",
        F.concat(
            F.slice("embedding", 1, 1),
            F.transform(
                F.slice("embedding", 2, 10_000),
                lambda x: x + F.lit(0.25).cast("float"),
            ),
        ),
    )
    fp2 = ai.corpus_fingerprint(bumped)
    assert fp1 != fp2
    n1, ids1, v1, _ = fp1.split(":")
    n2, ids2, v2, _ = fp2.split(":")
    # only the all-dims L1 term may move — that term IS the regression guard
    assert (n1, ids1, v1) == (n2, ids2, v2)


def test_index_path_distinguishes_same_basename(tmp_path):
    a = ai.index_path(str(tmp_path / "one" / "sf0.1"), "/idxroot")
    b = ai.index_path(str(tmp_path / "two" / "sf0.1"), "/idxroot")
    assert a != b
    assert "sf0.1" in a and "sf0.1" in b  # still human-readable


def test_corpus_change_invalidates(spark, index_dir):
    path = ai.index_path(SF_DIR, index_dir)
    emb = ext._t(spark, SF_DIR, "embeddings")[0]
    fp = ai.corpus_fingerprint(emb)
    params = {"ivf_k": ext._IVF_K, "ivf_iters": ext._IVF_ITERS}
    assert not ai.index_is_current(path, fp, params)  # nothing written yet
    _fresh_build(spark, index_dir)
    assert ai.index_is_current(path, fp, params)
    assert not ai.index_is_current(path, fp + "x", params)       # corpus moved
    assert not ai.index_is_current(path, fp, {"ivf_k": 7})       # params moved


def test_serve_scan_is_partition_pruned(spark, index_dir):
    """The probed-cell filter must reach the cells scan as a static
    partition filter — at scale this is the difference between reading
    nprobe directories and reading the corpus."""
    _fresh_build(spark, index_dir)
    path = ai.index_path(SF_DIR, index_dir)
    df = ext._serve_persisted_ivf_topk(spark, SF_DIR, path)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the cells scan is the only one with a partition column; Location
    # paths are truncated in plan strings, so key on the filter itself
    pruned = [ln for ln in plan.splitlines()
              if "PartitionFilters: [cell#" in ln]
    assert pruned, plan
    for ln in pruned:
        assert "INSET" in ln or "IN (" in ln, ln


def _parquet_jobs(sc, group: str) -> list[int]:
    """Jobs of ``group`` started by a ``.parquet(...)`` call itself:
    schema inference or parallel partition discovery."""
    tracker = sc.statusTracker()
    return [
        j for j in tracker.getJobIdsForGroup(group)
        if any(
            (si := tracker.getStageInfo(s)) is not None
            and si.name.startswith("parquet at")
            for s in tracker.getJobInfo(j).stageIds
        )
    ]


def _built_with_parquet_jobs(spark, build):
    """``build()``'s result and the parquet jobs building it started."""
    sc = spark.sparkContext
    group = f"artifact-reads-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "artifact reads must start no parquet jobs")
    try:
        return build(), _parquet_jobs(sc, group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_artifact_reads_start_no_parquet_jobs(spark, index_dir):
    """Against built indexes, serving reads each artifact with its
    declared schema and names only the probed cell directories: building
    the serve plan and the drift gate starts no schema-inference or
    partition-discovery job (more probed cells than Spark lists on the
    driver become a union of scans, each partition-pruned)."""
    from datafusion_tpch_spark.queries import stream as st

    _fresh_build(spark, index_dir)
    st.embeddings_drift_retrain(spark, SF_DIR).collect()  # v1, v2, swap
    path = ai.index_path(SF_DIR, index_dir)
    for build in (
        lambda: ext._serve_persisted_ivf_topk(spark, SF_DIR, path),
        lambda: st.embeddings_drift_retrain(spark, SF_DIR),
    ):
        _, jobs = _built_with_parquet_jobs(spark, build)
        assert jobs == []


def test_probed_cell_without_directory(spark, index_dir):
    """A probed cell with no members has no directory (the k-means update
    keeps empty cells): the cell read skips it, and the serve plan still
    builds without a parquet job and answers from the other cells."""
    import shutil

    from datafusion_tpch_spark.catalog import load_table

    _fresh_build(spark, index_dir)
    path = ai.index_path(SF_DIR, index_dir)
    emb = load_table(spark, SF_DIR, "embeddings")
    probed = sorted({
        int(r.qcell) for r in
        ext._ivf_query_probes(emb, ai.load_centroids(spark, path)).collect()
    })
    empty = probed[0]
    members = {r.vec_id for r in ai.load_cells(spark, path, [empty]).collect()}
    assert members
    shutil.rmtree(os.path.join(path, "cells", f"cell={empty}"))

    got = ai.load_cells(spark, path, probed).collect()
    want = (
        spark.read.parquet(os.path.join(path, "cells"))
        .filter(F.col("cell").isin(probed)).collect()
    )
    assert sorted(r.vec_id for r in got) == sorted(r.vec_id for r in want)
    assert empty not in {r.cell for r in got}

    served, jobs = _built_with_parquet_jobs(
        spark, lambda: ext._serve_persisted_ivf_topk(spark, SF_DIR, path)
    )
    assert jobs == []
    rows = served.collect()
    assert rows and not {r.cand_id for r in rows} & members


def test_persisted_ingest_durable_serve(spark, index_dir, monkeypatch):
    """build -> persist -> stream-append -> serve; then a simulated fresh
    session with BOTH training and streaming forcibly disabled must serve
    corpus + streamed rows from the artifacts alone."""
    from datafusion_tpch_spark.queries import stream as st
    from datafusion_tpch_spark.streaming import maintenance as mt

    rows1 = st.ann_persisted_ingest_topk(spark, SF_DIR).collect()
    assert any(r.from_stream for r in rows1), "streamed rows must be searchable"

    def boom(*a, **k):  # pragma: no cover - failure path
        raise AssertionError("durable serve touched training/streaming")

    monkeypatch.setattr(st, "_ingest_trained_centroids", boom)
    monkeypatch.setattr(mt, "run_foreach_batch", boom)
    rows2 = st.ann_persisted_ingest_topk(spark, SF_DIR).collect()
    assert [tuple(r) for r in rows2] == [tuple(r) for r in rows1]


def test_persisted_ingest_rebuilds_after_unclean_ingest(spark, index_dir):
    """A manifest without the ingested mark (killed mid-stream) must not
    be served: the gate rebuilds and re-ingests."""
    from datafusion_tpch_spark.operators import ann_index as ai
    from datafusion_tpch_spark.queries import stream as st

    rows1 = st.ann_persisted_ingest_topk(spark, SF_DIR).collect()
    path = ai.index_path(SF_DIR, index_dir) + "_ingest"
    m = ai.read_manifest(path)
    assert m and m.get("ingested") is True
    # simulate the kill: un-mark the manifest (appends may be partial)
    ai.update_manifest(path, ingested=False)
    rows2 = st.ann_persisted_ingest_topk(spark, SF_DIR).collect()
    assert ai.read_manifest(path).get("ingested") is True
    assert [tuple(r) for r in rows2] == [tuple(r) for r in rows1]


def test_persisted_compact_reduces_files_and_preserves_topk(spark, index_dir):
    """The vector-side OPTIMIZE: bin-packing the streamed cell directories
    must cut the file count, keep the cell partitioning (probe pruning
    still works), and serve bit-identical top-k."""
    from datafusion_tpch_spark.operators.maintenance import data_file_count
    from datafusion_tpch_spark.queries import stream as st

    rows = st.ann_persisted_compact(spark, SF_DIR).collect()
    expect = st.ann_persisted_ingest_topk(spark, SF_DIR).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in expect]

    path = ai.index_path(SF_DIR, index_dir) + "_ingest"
    n_before = data_file_count(os.path.join(path, "cells"))
    n_after = data_file_count(os.path.join(path, "cells_compact"))
    assert n_after < n_before, (n_after, n_before)

    from pyspark.sql import functions as F

    pruned_df = (
        spark.read.parquet(os.path.join(path, "cells_compact"))
        .filter(F.col("cell").isin([0, 1]))
    )
    plan = pruned_df._jdf.queryExecution().executedPlan().toString()
    assert any("PartitionFilters: [cell#" in ln for ln in plan.splitlines()), plan

    # incremental OPTIMIZE: an unchanged source layout skips the rewrite
    import glob

    before_mtimes = {f: os.path.getmtime(f) for f in glob.glob(
        os.path.join(path, "cells_compact", "**", "*.parquet"),
        recursive=True)}
    rows3 = st.ann_persisted_compact(spark, SF_DIR).collect()
    assert [tuple(r) for r in rows3] == [tuple(r) for r in rows]
    after_mtimes = {f: os.path.getmtime(f) for f in glob.glob(
        os.path.join(path, "cells_compact", "**", "*.parquet"),
        recursive=True)}
    assert after_mtimes == before_mtimes, "unchanged source must skip rewrite"
