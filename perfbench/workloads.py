"""The benchmark's workloads: which operations a pass runs, how one
operation runs, and how its result is checked.

An operation has two timed phases, each under its own Spark job group:
``build`` (the package call that returns a DataFrame) and ``collect``
(the action that produces the result).  Checks run after the timed phases.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURE_DIR = os.path.join(HERE, "data", "sf0.01")
EXPECTED_PATH = os.path.join(HERE, "expected.json")

TPCH22_OPS = tuple(f"q{i}" for i in range(1, 23))

LLM_PIPELINE_OPS = (
    "dedup_ngram_jaccard", "docs_containment", "dedup_lsh_recall_audit",
    "dedup_minhash_lsh",
    "lineitem_winsorize", "docs_pipeline_yield_full", "tfidf_top_terms",
    "multimodal_pixel_stats",
    "events_pagerank", "embeddings_kmeans", "embeddings_drift_retrain",
    "ann_ivf_topk",
    "events_session_stream", "events_stateful_sessions",
)


def fixture_sha256() -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(FIXTURE_DIR)):
        with open(os.path.join(FIXTURE_DIR, name), "rb") as fh:
            out[name] = hashlib.sha256(fh.read()).hexdigest()
    return out


class Outcome:
    """What one operation produced: phase times, result size, and the
    check's verdict (``status`` is ``"ok"`` or the kind of failure)."""

    def __init__(self, op: str) -> None:
        self.op = op
        self.build_s = 0.0
        self.collect_s = 0.0
        self.rows = 0
        self.status = "ok"
        self.detail = ""
        self.df: DataFrame | None = None
        # traced runs only: what ``probe`` read after the timed phases
        self.probe: dict[str, float] = {}

    @property
    def seconds(self) -> float:
        return self.build_s + self.collect_s

    def fail(self, status: str, detail: str) -> None:
        if self.status == "ok":
            self.status, self.detail = status, detail[:500]


def to_pandas(rows, df: DataFrame):
    """The frame ``df.toPandas()`` returns, built from rows already
    collected: the same per-column converters PySpark's own conversion
    applies, so no second execution is needed for the check."""
    import pandas as pd
    from pyspark.sql.pandas.types import _create_converter_to_pandas

    cols = df.columns
    if rows:
        pdf = pd.DataFrame.from_records(rows, index=range(len(rows)), columns=cols)
    else:
        pdf = pd.DataFrame(columns=cols)
    if not cols:
        return pdf
    tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
    return pd.concat(
        [
            _create_converter_to_pandas(
                field.dataType, field.nullable, timezone=tz,
                struct_in_pandas="dict", error_on_duplicated_field_names=False,
                timestamp_utc_localized=False,
            )(pser)
            for (_, pser), field in zip(pdf.items(), df.schema.fields)
        ],
        axis="columns",
    )


class QueryWorkload:
    """Registered queries over the fixture tables.  Each result must match
    its DuckDB oracle digest (``expected.json``) and, on warm passes, the
    cold pass's digest for the same operation."""

    def __init__(self, name: str, ops: tuple[str, ...]) -> None:
        from datafusion_tpch_spark.queries import all_queries

        self.name = name
        self.ops = ops
        specs = all_queries()
        self.specs = {op: specs[op] for op in ops}
        with open(EXPECTED_PATH) as fh:
            expected = json.load(fh)
        if expected["fixture_sha256"] != fixture_sha256():
            raise RuntimeError(f"fixtures under {FIXTURE_DIR} differ from the ones "
                               f"expected.json was made from; run {expected['command']}")
        self.expected = expected["ops"]
        missing = [op for op in ops if op not in self.expected]
        if missing:
            raise RuntimeError(f"expected.json has no oracle digest for {missing}")
        self.first_digest: dict[str, dict] = {}

    def prepare(self, spark: SparkSession) -> dict[str, float]:
        """Warm scan of every fixture table (file listing, footers and
        reader start-up are set-up cost, not query cost)."""
        from datafusion_tpch_spark import FIXTURE_TABLES
        from datafusion_tpch_spark.catalog import load_table

        t0 = time.perf_counter()
        for table in FIXTURE_TABLES:
            load_table(spark, FIXTURE_DIR, table).count()
        return {"warm_scan_s": time.perf_counter() - t0}

    def build(self, spark: SparkSession, op: str) -> DataFrame:
        return self.specs[op].build(spark, FIXTURE_DIR)

    def collect(self, df: DataFrame, op: str):
        return df.collect()

    def check(self, out: Outcome, result) -> None:
        out.rows = len(result)
        got = stats.digest(to_pandas(result, out.df))
        why = stats.digest_mismatch(got, self.expected[out.op])
        if why:
            out.fail("wrong", f"oracle {why}")
            return
        first = self.first_digest.setdefault(out.op, got)
        why = stats.digest_mismatch(got, first)
        if why:
            out.fail("wrong", f"differs from the first pass: {why}")

    def probe(self, spark: SparkSession, out: Outcome) -> dict[str, float]:
        """Traced runs: planning phases and the executed plan's shape of
        the DataFrame the operation returned."""
        import spark_stats

        got = {f"catalyst.{k}_ms": v for k, v in spark_stats.catalyst_phases(out.df).items()}
        counts = stats.plan_counts(spark_stats.executed_plan(out.df))
        got.update({f"plan.{k}": v for k, v in counts.items()})
        return got

    def end_pass(self, outcomes: list[Outcome], spark: SparkSession) -> None:
        pass


# TPC-H cardinalities at the generator scale used below.  lineitem's size
# is derived by the generator (1-7 lines per order), so it has no fixed
# count; its two legs must agree instead.
GEN_SF = 0.1
CARDINALITY = {
    "region": 5, "nation": 25, "supplier": 1_000, "customer": 15_000,
    "part": 20_000, "partsupp": 80_000, "orders": 150_000,
}


class CopyWorkload:
    """``tpchgen_copy``: generate each TPC-H table two ways, write it with
    ``copy_to_parquet`` and count it back.  ``df:<table>`` goes through
    ``call_tpch``; ``udtf:<table>`` through the documented distributed SQL
    form, a LATERAL join of ``tpch_<table>`` over ``nproc`` parts.  The
    ``collect`` phase of these operations is the ``copy_to_parquet`` call.
    """

    def __init__(self, name: str, work_dir: str, parts: int) -> None:
        from datafusion_tpch_spark import TPCH_TABLES

        self.name = name
        self.tables = TPCH_TABLES
        self.ops = tuple(f"{leg}:{t}" for t in TPCH_TABLES for leg in ("df", "udtf"))
        self.out_dir = os.path.join(work_dir, "copy")
        self.parts = parts
        self.first_hash: dict[str, int] = {}

    def prepare(self, spark: SparkSession) -> dict[str, float]:
        from datafusion_tpch_spark.sources.tpch_gen import register_tpch_udtfs

        t0 = time.perf_counter()
        register_tpch_udtfs(spark)
        return {"udtf_register_s": time.perf_counter() - t0}

    def build(self, spark: SparkSession, op: str) -> DataFrame:
        from datafusion_tpch_spark.sources.tpch_gen import call_tpch

        leg, table = op.split(":")
        if leg == "df":
            return call_tpch(spark, table, GEN_SF)
        n = self.parts
        return spark.sql(
            f"SELECT t.* FROM range(1, {n + 1}) AS r(part), "
            f"LATERAL tpch_{table}({GEN_SF}, CAST(r.part AS INT), {n}) AS t"
        )

    def path(self, op: str) -> str:
        return os.path.join(self.out_dir, op.replace(":", "_"))

    def collect(self, df: DataFrame, op: str) -> int:
        from datafusion_tpch_spark.sources.parquet_io import copy_to_parquet

        return copy_to_parquet(df, self.path(op))

    def check(self, out: Outcome, result: int) -> None:
        out.rows = int(result)
        table = out.op.split(":")[1]
        want = CARDINALITY.get(table)
        if want is not None and result != want:
            out.fail("wrong", f"read back {result} rows, TPC-H has {want} at sf={GEN_SF}")

    def probe(self, spark: SparkSession, out: Outcome) -> dict[str, float]:
        """Traced runs: generation alone (the same DataFrame written to the
        no-op sink), a second read-back, and the files written."""
        t0 = time.perf_counter()
        out.df.write.format("noop").mode("overwrite").save()
        t1 = time.perf_counter()
        spark.read.parquet(self.path(out.op)).count()
        t2 = time.perf_counter()
        files = [os.path.join(d, f) for d, _, fs in os.walk(self.path(out.op))
                 for f in fs if f.endswith(".parquet")]
        return {
            "generate_s": t1 - t0,
            "readback_s": t2 - t1,
            "bytes_written": sum(os.path.getsize(f) for f in files),
            "files_written": len(files),
        }

    def end_pass(self, outcomes: list[Outcome], spark: SparkSession) -> None:
        """Cross-leg checks once both legs of a table have run: equal row
        counts and equal order-insensitive value hashes, and the same hash
        on every pass.  A disagreement already explained by one leg's own
        cardinality check is not charged to the other leg as well."""
        by_op = {o.op: o for o in outcomes}
        for table in self.tables:
            legs = [by_op.get(f"{leg}:{table}") for leg in ("df", "udtf")]
            if any(o is None or o.status not in ("ok", "wrong") for o in legs):
                continue
            hashes = [self._value_hash(spark, o.op) for o in legs]
            for o, h in zip(legs, hashes):
                if self.first_hash.setdefault(o.op, h) != h:
                    o.fail("wrong", "value hash differs from the first pass")
            if any(o.status != "ok" for o in legs):
                continue
            if legs[0].rows != legs[1].rows:
                for o in legs:
                    o.fail("wrong", f"{table}: df leg {legs[0].rows} rows, "
                                    f"udtf leg {legs[1].rows}")
            elif hashes[0] != hashes[1]:
                for o in legs:
                    o.fail("wrong", f"{table}: df and udtf legs hash differently")

    def _value_hash(self, spark: SparkSession, op: str) -> int:
        df = spark.read.parquet(self.path(op))
        h = F.xxhash64(*[F.col(c) for c in sorted(df.columns)])
        return int(df.select(F.sum(h.cast("decimal(38,0)"))).first()[0] or 0)
