"""Persisted LSH bucket index: build→write→reload→admit lifecycle.

The production claim under test: the band-partitioned bucket artifacts on
disk are sufficient to ADMIT — a session that never hashed the corpus
(and cannot, we make the build job raise) gives verdicts identical to the
session-cached path, and a band-restricted probe is statically
partition-pruned.
"""

from __future__ import annotations

import os

import pytest

from datafusion_tpch_spark.operators import ann_index as ai
from datafusion_tpch_spark.operators import lsh_index as li
from datafusion_tpch_spark.queries import extensions as ext

from tests.conftest import SF_DIR


@pytest.fixture()
def index_dir(tmp_path, monkeypatch):
    root = str(tmp_path / "idx")
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", root)
    return root


def test_build_writes_band_partitioned_artifacts(spark, index_dir):
    rows = ext.dedup_persisted_lsh(spark, SF_DIR).collect()
    assert len(rows) > 0
    path = li.lsh_index_path(SF_DIR, index_dir)
    assert os.path.exists(os.path.join(path, "manifest.json"))
    band_dirs = [d for d in os.listdir(os.path.join(path, "cells"))
                 if d.startswith("band=")]
    assert len(band_dirs) == ext._MH_BANDS


def test_matches_session_cached_admission(spark, index_dir):
    """Persistence changes the index's lifetime, not its verdicts."""
    rows = ext.dedup_persisted_lsh(spark, SF_DIR).collect()
    expect = ext.dedup_incremental_lsh(spark, SF_DIR).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in expect]


def test_fresh_session_admits_without_corpus_hashing(spark, index_dir,
                                                     monkeypatch):
    """Simulated fresh session: fingerprint memo cleared AND the corpus
    build job made to raise — admission must succeed purely from the
    parquet artifacts (only the incoming batch is hashed)."""
    rows1 = ext.dedup_persisted_lsh(spark, SF_DIR).collect()

    def boom(*a, **k):  # pragma: no cover - failure path
        raise AssertionError("admission path attempted to rebuild the index")

    monkeypatch.setattr(ext, "_build_lsh_bucket_index", boom)
    rows2 = ext.dedup_persisted_lsh(spark, SF_DIR).collect()
    assert [tuple(r) for r in rows2] == [tuple(r) for r in rows1]


def test_corpus_change_invalidates(spark, index_dir):
    docs = ext._t(spark, SF_DIR, "documents")[0]
    fp = li.corpus_text_fingerprint(docs)
    path = li.lsh_index_path(SF_DIR, index_dir)
    params = {"bands": ext._MH_BANDS, "rows": ext._MH_ROWS,
              "split": ext._INCR_SPLIT}
    assert not li.lsh_index_is_current(path, fp, params)  # nothing written
    ext.dedup_persisted_lsh(spark, SF_DIR).collect()
    assert li.lsh_index_is_current(path, fp, params)
    assert not li.lsh_index_is_current(path, fp + "x", params)   # corpus moved
    assert not li.lsh_index_is_current(path, fp, {"bands": 99})  # geometry moved


def test_killed_build_leaves_no_manifest(spark, index_dir, monkeypatch):
    """Crash discipline: a build killed after the cell write but before
    the manifest leaves an UNSERVABLE directory — the next session
    rebuilds instead of admitting against half-written cells."""
    path = li.lsh_index_path(SF_DIR, index_dir)

    real_write_manifest = ai.write_manifest

    def killed(*a, **k):
        raise RuntimeError("simulated kill before manifest")

    monkeypatch.setattr(ai, "write_manifest", killed)
    with pytest.raises(RuntimeError, match="simulated kill"):
        ext.dedup_persisted_lsh(spark, SF_DIR).collect()
    assert not os.path.exists(os.path.join(path, "manifest.json"))
    docs = ext._t(spark, SF_DIR, "documents")[0]
    fp = li.corpus_text_fingerprint(docs)
    assert not li.lsh_index_is_current(path, fp)

    monkeypatch.setattr(ai, "write_manifest", real_write_manifest)
    rows = ext.dedup_persisted_lsh(spark, SF_DIR).collect()  # rebuilds
    assert len(rows) > 0
    assert os.path.exists(os.path.join(path, "manifest.json"))


def test_band_probe_is_partition_pruned(spark, index_dir):
    """A band-restricted cell load must reach the scan as a static
    partition filter — at scale, only the probed band directories are
    listed."""
    ext.dedup_persisted_lsh(spark, SF_DIR).collect()
    path = li.lsh_index_path(SF_DIR, index_dir)
    df = li.load_lsh_cells(spark, path, li.OCCUPANCY_SCHEMA, bands=[0, 2])
    plan = df._jdf.queryExecution().executedPlan().toString()
    pruned = [ln for ln in plan.splitlines()
              if "PartitionFilters: [band#" in ln]
    assert pruned, plan
    for ln in pruned:
        assert "INSET" in ln or "IN (" in ln, ln


def test_serve_side_cap_changes_need_no_rebuild(spark, index_dir,
                                                monkeypatch):
    """The hot-cell cap is a SERVE parameter: occupancy is stored, the
    cap filters at read time, so retuning the boilerplate threshold never
    rebuilds the index."""
    ext.dedup_persisted_lsh(spark, SF_DIR).collect()

    def boom(*a, **k):  # pragma: no cover - failure path
        raise AssertionError("cap change must not rebuild")

    monkeypatch.setattr(ext, "_build_lsh_bucket_index", boom)
    monkeypatch.setattr(ext, "_LSH_MAX_BUCKET", 1)
    rows = ext.dedup_persisted_lsh(spark, SF_DIR).collect()
    # cap=1 keeps only singleton cells -> strictly fewer collisions
    assert len(rows) > 0


def test_persisted_ingest_stream_durable_serve(spark, index_dir, monkeypatch):
    """build -> stream-admit -> serve; then a simulated fresh session with
    BOTH batch hashing and streaming forcibly disabled must serve the
    verdict table from the artifacts alone, and the stored index must have
    GROWN by exactly the admitted docs' membership."""
    from datafusion_tpch_spark.queries import stream as st
    from datafusion_tpch_spark.streaming import maintenance as mt

    rows1 = st.dedup_persisted_ingest_stream(spark, SF_DIR).collect()
    assert rows1, "incoming slice must produce verdicts"
    # the admission contract matches the session-cached stream gate
    expect = st.docs_dedup_ingest_stream(spark, SF_DIR).orderBy("doc_id").collect()
    assert [tuple(r) for r in rows1] == [tuple(r) for r in expect]

    # index growth: admitted docs' membership appended as from_stream rows
    path = li.lsh_index_path(SF_DIR, index_dir) + "_ingest"
    stored = li.load_lsh_cells(spark, path, li.MEMBERSHIP_SCHEMA)
    grown = {r.doc_id for r in
             stored.filter("from_stream").select("doc_id").distinct().collect()}
    assert grown == {r.doc_id for r in rows1 if r.kept}

    def boom(*a, **k):  # pragma: no cover - failure path
        raise AssertionError("durable serve touched hashing/streaming")

    monkeypatch.setattr(mt, "run_foreach_batch", boom)
    from datafusion_tpch_spark.queries import extensions as ext
    monkeypatch.setattr(ext, "_buckets_of", boom)
    rows2 = st.dedup_persisted_ingest_stream(spark, SF_DIR).collect()
    assert [tuple(r) for r in rows2] == [tuple(r) for r in rows1]


def test_persisted_ingest_stream_rebuilds_after_unclean_ingest(spark,
                                                               index_dir):
    """A manifest without the ingested mark (killed mid-stream) must not
    be served: the gate rebuilds and re-ingests."""
    from datafusion_tpch_spark.queries import stream as st

    rows1 = st.dedup_persisted_ingest_stream(spark, SF_DIR).collect()
    path = li.lsh_index_path(SF_DIR, index_dir) + "_ingest"
    m = ai.read_manifest(path)
    assert m and m.get("ingested") is True
    ai.update_manifest(path, ingested=False)  # simulate the kill
    rows2 = st.dedup_persisted_ingest_stream(spark, SF_DIR).collect()
    assert ai.read_manifest(path).get("ingested") is True
    assert [tuple(r) for r in rows2] == [tuple(r) for r in rows1]


def test_persisted_compact_reduces_files_and_preserves_answers(spark,
                                                               index_dir):
    """The OPTIMIZE job: bin-packing the streamed band directories must
    cut the file count, keep the band partitioning (pruning still works),
    and serve bit-identical admission verdicts."""
    from datafusion_tpch_spark.operators.maintenance import data_file_count
    from datafusion_tpch_spark.queries import stream as st

    rows = st.dedup_persisted_compact(spark, SF_DIR).collect()
    expect = ext.dedup_incremental_lsh(spark, SF_DIR).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in expect]

    path = li.lsh_index_path(SF_DIR, index_dir) + "_ingest"
    n_before = data_file_count(os.path.join(path, "cells"))
    n_after = data_file_count(os.path.join(path, "cells_compact"))
    assert n_after < n_before, (n_after, n_before)
    band_dirs = [d for d in os.listdir(os.path.join(path, "cells_compact"))
                 if d.startswith("band=")]
    assert len(band_dirs) == ext._MH_BANDS
    # pruning on the compacted layout
    from pyspark.sql import functions as F

    pruned_df = (
        spark.read.parquet(os.path.join(path, "cells_compact"))
        .filter(F.col("band").isin([0, 2]))
    )
    plan = pruned_df._jdf.queryExecution().executedPlan().toString()
    assert any("PartitionFilters: [band#" in ln for ln in plan.splitlines()), plan

    # the OPTIMIZE job covers the verdicts table too: fewer files (the
    # stream appended one per micro-batch), identical rows
    nv_before = data_file_count(os.path.join(path, "verdicts"))
    nv_after = data_file_count(os.path.join(path, "verdicts_compact"))
    assert nv_after < nv_before, (nv_after, nv_before)
    orig = sorted(
        tuple(r)
        for r in spark.read.parquet(os.path.join(path, "verdicts")).collect()
    )
    packed = sorted(
        tuple(r)
        for r in spark.read.parquet(
            os.path.join(path, "verdicts_compact")
        ).collect()
    )
    assert packed == orig

    # incremental OPTIMIZE: an unchanged source layout skips the rewrite
    import glob

    def mtimes():
        return {
            f: os.path.getmtime(f)
            for d in ("cells_compact", "verdicts_compact")
            for f in glob.glob(os.path.join(path, d, "**", "*.parquet"),
                               recursive=True)
        }

    before = mtimes()
    rows2 = st.dedup_persisted_compact(spark, SF_DIR).collect()
    assert [tuple(r) for r in rows2] == [tuple(r) for r in rows]
    assert mtimes() == before, "unchanged source must skip rewrite"
