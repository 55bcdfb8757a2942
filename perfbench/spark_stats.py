"""Readers of Spark's own statistics, used only by traced runs.

Nothing here reaches inside the package under test: plans and planning
phases come from the ``QueryExecution`` of the DataFrame an operation
returned, jobs, stages and storage from the application's status REST API
on the loopback interface, and streaming counts from a
``StreamingQueryListener`` this module registers.
"""

from __future__ import annotations

import json
import time
import urllib.parse
import urllib.request

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQueryListener

import stats

CATALYST_PHASES = ("analysis", "optimization", "planning")

# The status store keeps 1000 jobs and stages by default; a traced run
# attributes every one of them, so it keeps them all.
TRACE_CONF = {
    "spark.ui.enabled": "true",
    "spark.ui.retainedJobs": "1000000",
    "spark.ui.retainedStages": "1000000",
    "spark.sql.ui.retainedExecutions": "1000000",
}


def catalyst_phases(df: DataFrame) -> dict[str, int]:
    """Milliseconds per planning phase recorded by the DataFrame's
    ``QueryPlanningTracker``."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in CATALYST_PHASES:
        opt = phases.get(name)
        out[name] = int(opt.get().durationMs()) if opt.isDefined() else 0
    return out


def executed_plan(df: DataFrame) -> str:
    return str(df._jdf.queryExecution().executedPlan().toString())


class _StreamCounter(StreamingQueryListener):
    def __init__(self, owner: "SparkStats") -> None:
        self.owner = owner

    def onQueryStarted(self, event) -> None:
        # called synchronously by DataStreamWriter.start(), so the group
        # current at this moment is the operation that started the query
        self.owner.stream_runs[str(event.runId)] = self.owner.current_group

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.owner.batches[(str(p.runId), int(p.batchId))] = float(
            p.durationMs.get("triggerExecution", 0))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        self.owner.terminated.add(str(event.runId))


class SparkStats:
    """One traced Spark application: the benchmark sets ``current_group``
    before each phase; the counts are read once, at the end of the run."""

    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark
        self.current_group: str | None = None
        self.stream_runs: dict[str, str | None] = {}
        self.batches: dict[tuple[str, int], float] = {}
        self.terminated: set[str] = set()
        self._listener = _StreamCounter(self)
        spark.streams.addListener(self._listener)
        sc = spark.sparkContext
        port = urllib.parse.urlparse(sc.uiWebUrl).port
        self._base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def close(self) -> None:
        self.spark.streams.removeListener(self._listener)

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=60) as resp:
            return json.load(resp)

    def drain(self, timeout_s: float = 30.0) -> None:
        """Wait until Spark's listener bus has delivered every event, so
        the status store and the streaming counters are complete."""
        deadline = time.monotonic() + timeout_s
        bus = self.spark.sparkContext._jsc.sc().listenerBus()
        bus.waitUntilEmpty(int(timeout_s * 1000))
        while (set(self.stream_runs) - self.terminated
               and time.monotonic() < deadline):
            time.sleep(0.05)

    def storage(self) -> tuple[int, int]:
        """(persisted RDDs holding blocks, bytes of them in memory)."""
        rdds = self._get("/storage/rdd")
        return len(rdds), sum(int(r.get("memoryUsed", 0)) for r in rdds)

    def exec_totals(self) -> dict[tuple[str, str, str], dict[str, float]]:
        self.drain()
        jobs = self._get("/jobs")
        stages = self._get("/stages")
        runs = {k: v for k, v in self.stream_runs.items() if v is not None}
        return stats.exec_totals(jobs, stages, runs)

    def streaming(self) -> dict[str, float]:
        return {
            "queries": len(self.stream_runs),
            "microbatches": len(self.batches),
            "batch_ms": sum(self.batches.values()),
        }
