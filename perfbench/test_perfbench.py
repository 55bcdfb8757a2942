"""Tests for the benchmark's own arithmetic (no Spark needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest

import run
import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


# ---------------------------------------------------------------- percentiles

def test_nearest_rank_percentile():
    xs = [float(i) for i in range(1, 11)]  # 1..10
    assert stats.percentile(xs, 0.5) == 5.0
    assert stats.percentile(xs, 0.9) == 9.0
    assert stats.percentile(xs, 1.0) == 10.0
    assert stats.percentile(list(reversed(xs)), 0.9) == 9.0
    assert stats.samples_beyond(xs, 0.9) == 1


def test_harrell_davis_median():
    # three samples: Beta(2, 2) weights are 7/27, 13/27 and 7/27
    assert stats.harrell_davis_median([10.0, 1.0, 2.0]) == pytest.approx(103 / 27, rel=1e-6)
    assert stats.harrell_davis_median([1.0, 2.0, 3.0, 4.0]) == pytest.approx(2.5)
    assert stats.harrell_davis_median([5.0]) == pytest.approx(5.0)
    assert stats.harrell_davis_median([3.0] * 14) == pytest.approx(3.0)
    # every sample carries weight, unlike the sample median
    xs = [float(i) for i in range(14)]
    assert stats.harrell_davis_median(xs[:-1] + [100.0]) > stats.harrell_davis_median(xs)
    with pytest.raises(ValueError):
        stats.harrell_davis_median([])


@pytest.mark.parametrize("n", [11, 14, 22, 44, 99, 100, 101, 250])
def test_tail_percentile_keeps_ten_samples_beyond(n):
    xs = [float(i) for i in range(n)]
    q, value, beyond = stats.tail_percentile(xs)
    assert beyond >= stats.MIN_BEYOND
    assert sum(x > value for x in xs) == beyond
    assert q <= 0.9
    # the next sample up would leave fewer than ten beyond, unless capped
    if q < 0.9:
        assert beyond == stats.MIN_BEYOND


def test_tail_percentile_is_p90_from_100_samples():
    xs = [float(i) for i in range(100)]
    q, value, beyond = stats.tail_percentile(xs)
    assert (q, value, beyond) == (0.9, 89.0, 10)


@pytest.mark.parametrize("n", [0, 1, 10])
def test_tail_percentile_needs_more_than_ten_samples(n):
    q, _, beyond = stats.tail_percentile([1.0] * n)
    assert (q, beyond) == (0.0, 0)


# ---------------------------------------------------------- failed_ops_frac

def test_failed_frac_counts_every_kind_of_failure():
    assert stats.failed_frac(["ok"] * 8) == 0.0
    assert stats.failed_frac(["ok", "error", "timeout", "wrong"]) == 0.75
    assert stats.failed_frac(["ok"] * 14 + ["wrong"] * 2) == 2 / 16


def test_failed_frac_of_nothing_is_an_error():
    with pytest.raises(ValueError):
        stats.failed_frac([])


# ---------------------------------------------------- job-group attribution

def test_job_group_round_trip():
    g = stats.job_group("tpch22", "w1", "q3", "collect")
    assert g == "tpch22/w1/q3/collect"
    assert stats.parse_group(g) == ("tpch22", "w1", "q3", "collect")
    assert stats.parse_group("a1b2-run-id") is None
    assert stats.parse_group(None) is None
    with pytest.raises(ValueError):
        stats.job_group("tpch22", "w1", "a/b", "build")
    with pytest.raises(ValueError):
        stats.job_group("tpch22", "w1", "q3", "write")


def _job(jid, group, stages):
    return {"jobId": jid, "jobGroup": group, "stageIds": stages}


def _stage(sid, status="COMPLETE", attempt=0, **metrics):
    return {"stageId": sid, "attemptId": attempt, "status": status, **metrics}


def test_jobs_attributed_by_group_and_stream_run():
    jobs = [
        _job(0, "llm/cold/q/build", [0]),
        _job(1, "run-1234", [1]),          # streaming micro-batch
        _job(2, "llm/cold/q/collect", [2]),
        _job(3, "someone-else", [3]),      # not ours, no stream mapping
        _job(4, None, [4]),
    ]
    got = stats.attribute_jobs(jobs, {"run-1234": "llm/cold/q/build"})
    assert got == {0: "llm/cold/q/build", 1: "llm/cold/q/build",
                   2: "llm/cold/q/collect"}


def test_shared_stage_charged_once_to_earliest_job():
    jobs = [_job(5, "w/w1/b/collect", [7, 8]), _job(4, "w/w1/a/collect", [7])]
    groups = stats.attribute_jobs(jobs, {})
    assert stats.attribute_stages(jobs, groups) == {7: "w/w1/a/collect",
                                                   8: "w/w1/b/collect"}


def test_exec_totals_per_pass_op_phase():
    jobs = [
        _job(0, "w/cold/a/build", [0]),
        _job(1, "w/cold/a/collect", [1, 2]),
        _job(2, "w/w1/a/collect", [2, 3]),   # stage 2 reused: skipped here
    ]
    stages = [
        _stage(0, numCompleteTasks=1, executorRunTime=10, executorCpuTime=4_000_000),
        _stage(1, numCompleteTasks=4, executorRunTime=20, shuffleWriteBytes=100),
        _stage(2, numCompleteTasks=4, executorRunTime=30, shuffleReadBytes=100),
        _stage(2, attempt=1, numCompleteTasks=1, executorRunTime=5),  # retry
        _stage(3, numCompleteTasks=2, executorRunTime=7, jvmGcTime=3),
        _stage(9, numCompleteTasks=99),     # belongs to no job of ours
    ]
    t = stats.exec_totals(jobs, stages, {})
    assert set(t) == {("cold", "a", "build"), ("cold", "a", "collect"),
                      ("w1", "a", "collect")}
    b = t[("cold", "a", "build")]
    assert (b["jobs"], b["stages"], b["tasks"], b["run_ms"], b["cpu_ns"]) == (1, 1, 1, 10, 4_000_000)
    c = t[("cold", "a", "collect")]
    # two stages; stage 2's retry attempt adds its tasks and time
    assert (c["jobs"], c["stages"], c["tasks"], c["run_ms"]) == (1, 2, 9, 55)
    assert (c["shuffle_write_bytes"], c["shuffle_read_bytes"]) == (100, 100)
    w = t[("w1", "a", "collect")]
    assert (w["jobs"], w["stages"], w["tasks"], w["gc_ms"]) == (1, 1, 2, 3)


def test_skipped_stages_do_not_count():
    jobs = [_job(0, "w/w1/a/collect", [0, 1])]
    stages = [_stage(0, status="SKIPPED", numCompleteTasks=5), _stage(1, numCompleteTasks=1)]
    t = stats.exec_totals(jobs, stages, {})[("w1", "a", "collect")]
    assert (t["stages"], t["tasks"]) == (1, 1)


# ------------------------------------------------------------------ plans

AQE_TREE = """\
AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   ResultQueryStage 3
   +- *(5) SortMergeJoin [k#1], [k#2], Inner
      :- *(2) Sort [k#1 ASC NULLS FIRST], false, 0
      :  +- AQEShuffleRead coalesced
      :     +- ShuffleQueryStage 0
      :        +- Exchange hashpartitioning(k#1, 4), ENSURE_REQUIREMENTS, [plan_id=1]
      :           +- *(1) ColumnarToRow
      :              +- FileScan parquet [k#1] Batched: true
      +- *(4) Sort [k#2 ASC NULLS FIRST], false, 0
         +- MapInPandas run(k#2)#9, [k#2], false
            +- BroadcastHashJoin [k#2], [k#3], Inner, BuildRight, false
               :- ShuffleQueryStage 1
               :  +- ReusedExchange [k#2], Exchange hashpartitioning(k#1, 4)
               +- BroadcastQueryStage 2
                  +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, false]))
                     +- LocalTableScan [k#3]
+- == Initial Plan ==
   SortMergeJoin [k#1], [k#2], Inner
   :- Sort [k#1 ASC NULLS FIRST], false, 0
   :  +- Exchange hashpartitioning(k#1, 4), ENSURE_REQUIREMENTS, [plan_id=1]
   :     +- FileScan parquet [k#1] Batched: true
   +- FileScan parquet [k#2] Batched: true
"""


def test_plan_counts_read_only_the_final_plan():
    assert stats.plan_counts(AQE_TREE) == {
        "scans": 1, "exchanges": 2, "reused_exchanges": 1,
        "broadcast_exchanges": 1, "sort_merge_joins": 1, "python_nodes": 1,
    }


def test_plan_counts_skip_nested_initial_plans():
    nested = """\
Project [x#1]
+- Filter (x#1 > Subquery subquery#5)
   :  +- Subquery subquery#5
   :     +- AdaptiveSparkPlan isFinalPlan=true
   :        +- == Final Plan ==
   :           ResultQueryStage 0
   :           +- FileScan parquet [y#2]
   :        +- == Initial Plan ==
   :           FileScan parquet [y#2]
   +- FileScan parquet [x#1]
"""
    assert stats.plan_counts(nested)["scans"] == 2


# ------------------------------------------------------------- digests

def test_digest_ignores_row_and_column_order_and_negative_zero():
    a = pd.DataFrame({"b": [1.5, -0.0], "a": ["x", "y"]})
    b = pd.DataFrame({"a": ["y", "x"], "b": [0.0, 1.5]})
    assert stats.digest(a) == stats.digest(b)


def test_digest_sees_values_and_dtypes():
    a = pd.DataFrame({"k": pd.Series([1, 2], dtype="int64")})
    assert stats.digest(a) != stats.digest(a.astype("int32"))
    assert stats.digest(a) != stats.digest(a + 1)
    assert stats.digest_mismatch(stats.digest(a), stats.digest(a)) is None
    assert "rows" in stats.digest_mismatch(stats.digest(a), stats.digest(a.head(1)))


# ------------------------------------------------------------ BENCHMARK.json

def test_benchmark_json_matches_run_py():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert spec["command"][:2] == ["python3", "perfbench/run.py"]
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
