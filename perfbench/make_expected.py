"""Regenerate ``expected.json``: the DuckDB oracle's answer for every
operation of the ``tpch22`` and ``llm_pipeline`` workloads over the
benchmark's fixture copy, canonicalized as ``tools/verify_oracle.py``
does, stored as digests (``stats.digest``).

    python3 perfbench/make_expected.py

The oracle is slow on the largest gates, so the benchmark reads the
stored digests instead of running it on every run.  Regenerate only when
the fixtures or a gate's oracle SQL change.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import duckdb  # noqa: E402

import stats  # noqa: E402
from datafusion_tpch_spark import FIXTURE_TABLES  # noqa: E402
from datafusion_tpch_spark.queries import all_queries  # noqa: E402
from workloads import (  # noqa: E402
    EXPECTED_PATH, FIXTURE_DIR, LLM_PIPELINE_OPS, TPCH22_OPS, fixture_sha256,
)


def main() -> int:
    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        path = os.path.join(FIXTURE_DIR, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    specs = all_queries()
    ops = {}
    for op in TPCH22_OPS + LLM_PIPELINE_OPS:
        ops[op] = stats.digest(con.execute(specs[op].oracle).fetchdf())
        print(f"{op}: {ops[op]['rows']} rows", file=sys.stderr)
    doc = {
        "command": "python3 perfbench/make_expected.py",
        "fixture_sha256": fixture_sha256(),
        "ops": ops,
    }
    with open(EXPECTED_PATH, "w") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
