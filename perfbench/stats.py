"""Arithmetic of the benchmark: no Spark session, no JVM.

Everything here is a function of plain Python values so that
``test_perfbench.py`` can pin it without starting a JVM.  Result digests
canonicalize with the repository's oracle tool, ``tools/verify_oracle.py``,
which loads without starting Spark.
"""

from __future__ import annotations

import functools
import hashlib
import importlib.util
import json
import math
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ORACLE_TOOL = os.path.join(ROOT, "tools", "verify_oracle.py")

# Percentile rule (choosing-metrics guide, section 1): report the highest
# percentile that still has at least this many samples beyond it.
MIN_BEYOND = 10


def _rank(n: int, q: float) -> int:
    """1-based nearest rank of quantile ``q`` in ``n`` sorted samples."""
    return min(n, max(1, math.ceil(q * n - 1e-9)))


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``q`` of
    the samples at or below it (``q`` in (0, 1])."""
    if not values:
        raise ValueError("percentile of no samples")
    return float(sorted(values)[_rank(len(values), q) - 1])


# Midpoint-rule steps per rank when integrating the Beta weights of
# :func:`harrell_davis_median`; the weights are within 1e-6 of exact.
HD_STEPS_PER_RANK = 400


def harrell_davis_median(values: list[float]) -> float:
    """Harrell-Davis estimate of the median: a weighted mean of every
    sorted sample, rank ``i`` of ``n`` weighted by the Beta((n+1)/2,
    (n+1)/2) probability of ((i-1)/n, i/n].  With few samples it varies
    less than the sample median, which for 14 samples is the mean of two
    of them."""
    if not values:
        raise ValueError("median of no samples")
    xs = sorted(values)
    n = len(xs)
    a = (n + 1) / 2
    log_norm = 2 * math.lgamma(a) - math.lgamma(2 * a)
    steps = n * HD_STEPS_PER_RANK
    mass = [0.0] * n
    for k in range(steps):
        x = (k + 0.5) / steps
        mass[k // HD_STEPS_PER_RANK] += math.exp(
            (a - 1) * (math.log(x) + math.log1p(-x)) - log_norm)
    return sum(m * x for m, x in zip(mass, xs)) / sum(mass)


def samples_beyond(values: list[float], q: float) -> int:
    """How many samples lie above the nearest rank of ``q``."""
    return len(values) - _rank(len(values), q)


def tail_percentile(values: list[float], want: float = 0.9,
                    min_beyond: int = MIN_BEYOND) -> tuple[float, float, int]:
    """The highest percentile, capped at ``want``, with ``min_beyond``
    samples beyond it.  Returns ``(q, value, beyond)``; ``q`` is 0.0 when
    there are too few samples for any percentile to qualify."""
    n = len(values)
    if n <= min_beyond:
        return 0.0, float("nan"), 0
    q = min(want, (n - min_beyond) / n)
    return q, percentile(values, q), samples_beyond(values, q)


def failed_frac(outcomes: list[str]) -> float:
    """Share of attempted operations that did not return a correct result.

    ``outcomes`` holds one status per attempted operation: ``"ok"``, or
    anything else (``"error"``, ``"timeout"``, ``"wrong"``, ...).  No status
    is exempt; an empty run is an error, not a perfect score."""
    if not outcomes:
        raise ValueError("no operations attempted")
    return sum(1 for o in outcomes if o != "ok") / len(outcomes)


# --------------------------------------------------------------------------
# Job-group attribution
# --------------------------------------------------------------------------

PHASES = ("build", "collect")


def job_group(workload: str, pass_label: str, op: str, phase: str) -> str:
    """Spark job group for one phase of one operation:
    ``<workload>/<pass>/<op>/<phase>``."""
    if phase not in PHASES:
        raise ValueError(f"unknown phase {phase!r}")
    for part in (workload, pass_label, op):
        if "/" in part:
            raise ValueError(f"job-group component {part!r} contains '/'")
    return f"{workload}/{pass_label}/{op}/{phase}"


def parse_group(group: str | None) -> tuple[str, str, str, str] | None:
    """Inverse of :func:`job_group`; ``None`` for any other group (for
    example a streaming query's run id)."""
    if not group:
        return None
    parts = group.split("/")
    if len(parts) != 4 or parts[3] not in PHASES:
        return None
    return parts[0], parts[1], parts[2], parts[3]


def attribute_jobs(jobs: list[dict], stream_runs: dict[str, str]) -> dict[int, str]:
    """Map each job id to the benchmark job group it ran under.

    A job carries the group the benchmark set before the phase that
    submitted it.  Streaming micro-batch jobs instead carry their query's
    run id as their group; ``stream_runs`` maps each run id to the group
    that was current when the query started (``onQueryStarted`` is called
    synchronously by ``DataStreamWriter.start``).  Jobs under neither are
    left out."""
    out: dict[int, str] = {}
    for job in jobs:
        group = job.get("jobGroup")
        if parse_group(group) is None:
            group = stream_runs.get(group or "")
        if group is not None and parse_group(group) is not None:
            out[int(job["jobId"])] = group
    return out


def attribute_stages(jobs: list[dict], job_groups: dict[int, str]) -> dict[int, str]:
    """Map each stage id to one group.  A shuffle-map stage reused by a
    later job appears in that job's stage list too (as skipped); it is
    charged once, to the earliest job that lists it."""
    out: dict[int, str] = {}
    for job in sorted(jobs, key=lambda j: int(j["jobId"])):
        group = job_groups.get(int(job["jobId"]))
        if group is None:
            continue
        for sid in job.get("stageIds", ()):
            out.setdefault(int(sid), group)
    return out


STAGE_SUMS = {
    "tasks": "numCompleteTasks",
    "run_ms": "executorRunTime",
    "cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "spill_bytes": "diskBytesSpilled",
}


def exec_totals(jobs: list[dict], stages: list[dict], stream_runs: dict[str, str],
                ) -> dict[tuple[str, str, str], dict[str, float]]:
    """Per ``(pass, op, phase)`` totals of jobs, executed stages and stage
    statistics (every attempt of a stage counts; skipped stages do not)."""
    job_groups = attribute_jobs(jobs, stream_runs)
    stage_groups = attribute_stages(jobs, job_groups)
    out: dict[tuple[str, str, str], dict[str, float]] = {}

    def slot(group: str) -> dict[str, float]:
        _, pass_label, op, phase = parse_group(group)
        key = (pass_label, op, phase)
        if key not in out:
            out[key] = {"jobs": 0, "stages": 0, **{k: 0 for k in STAGE_SUMS}}
        return out[key]

    for group in job_groups.values():
        slot(group)["jobs"] += 1
    seen: set[int] = set()
    for st in stages:
        sid = int(st["stageId"])
        group = stage_groups.get(sid)
        if group is None or st.get("status") == "SKIPPED":
            continue
        s = slot(group)
        if sid not in seen:
            seen.add(sid)
            s["stages"] += 1
        for name, field in STAGE_SUMS.items():
            s[name] += st.get(field, 0) or 0
    return out


# --------------------------------------------------------------------------
# Plan shape
# --------------------------------------------------------------------------

_TREE_CHARS = " :+-|"
_CODEGEN = re.compile(r"^\*\(\d+\)\s*")

PLAN_NODES = ("scans", "exchanges", "reused_exchanges", "broadcast_exchanges",
              "sort_merge_joins", "python_nodes")


def _content_col(line: str) -> int:
    i = 0
    while i < len(line) and line[i] in _TREE_CHARS:
        i += 1
    return i


def final_plan_nodes(tree: str) -> list[str]:
    """Operator names of an executed plan's tree string, reading only the
    final plan of every adaptive plan in it (``== Initial Plan ==``
    sections, including nested ones, are skipped)."""
    names: list[str] = []
    skip_from: int | None = None
    for line in tree.splitlines():
        col = _content_col(line)
        if col >= len(line):
            continue
        if skip_from is not None:
            if col >= skip_from:
                continue
            skip_from = None
        body = line[col:]
        if body.startswith("== Initial Plan =="):
            skip_from = col
            continue
        if body.startswith("=="):
            continue
        body = _CODEGEN.sub("", body)
        names.append(body.split(" ", 1)[0].split("(", 1)[0])
    return names


def plan_counts(tree: str) -> dict[str, int]:
    """Clock-free plan fingerprint: data-source scans, exchanges (shuffle
    and broadcast), reused exchanges, broadcast exchanges, sort-merge joins
    and Python-evaluation nodes."""
    c = dict.fromkeys(PLAN_NODES, 0)
    for name in final_plan_nodes(tree):
        if name in ("FileScan", "BatchScan", "Scan"):
            c["scans"] += 1
        elif name in ("Exchange", "BroadcastExchange"):
            c["exchanges"] += 1
            if name == "BroadcastExchange":
                c["broadcast_exchanges"] += 1
        elif name == "ReusedExchange":
            c["reused_exchanges"] += 1
        elif name == "SortMergeJoin":
            c["sort_merge_joins"] += 1
        elif "Python" in name or "InPandas" in name or "InArrow" in name:
            c["python_nodes"] += 1
    return c


# --------------------------------------------------------------------------
# Result digests
# --------------------------------------------------------------------------

@functools.cache
def oracle_tool():
    """``tools/verify_oracle.py`` loaded by path (``tools`` is not a
    package), with this checkout's root first on ``sys.path`` while it
    loads; the tool's own ``sys.path`` edit is undone."""
    spec = importlib.util.spec_from_file_location("verify_oracle", ORACLE_TOOL)
    mod = importlib.util.module_from_spec(spec)
    saved = list(sys.path)
    sys.path.insert(0, ROOT)
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod


def digest(df) -> dict:
    """Fingerprint of a frame after ``verify_oracle.canon``: columns,
    dtypes, row count and a SHA-256 of the values.  Two frames get the
    same digest exactly when the oracle comparison (column names, dtypes,
    row count, ``DataFrame.equals``) accepts them; floats are written at
    full precision and ``-0.0`` is folded into ``0.0`` as ``equals`` does."""
    c = oracle_tool().canon(df)
    for col in c.columns:
        if c[col].dtype.kind == "f":
            c[col] = c[col] + 0.0
    body = c.to_csv(index=False, header=False, float_format="%.17g", na_rep="<NA>")
    head = json.dumps([list(map(str, c.columns)), [str(t) for t in c.dtypes]])
    return {
        "rows": int(len(c)),
        "columns": [str(x) for x in c.columns],
        "dtypes": [str(t) for t in c.dtypes],
        "sha256": hashlib.sha256((head + "\n" + body).encode()).hexdigest(),
    }


def digest_mismatch(got: dict, want: dict) -> str | None:
    """``None`` when two digests agree, else a one-line reason."""
    for key in ("columns", "dtypes", "rows", "sha256"):
        if got.get(key) != want.get(key):
            return f"{key}: got {got.get(key)!r}, expected {want.get(key)!r}"
    return None
