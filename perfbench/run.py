"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload tpch22 --seed 1 --seconds 10 --trace 0

One run is one fresh process and a fresh Spark application, driven by one
closed-loop client (the next operation starts when the previous returns):

1. set-up, repeated ``SETUPS`` times (each a new Spark application in the
   same JVM); ``setup_s`` is the median;
2. one cold pass over the workload's operations in the last application;
3. warm passes, whole passes only, for about ``--seconds`` seconds.

The seed sets the order of the operations within each pass.  Every result
is checked after its timed phases.  The last line of standard output is
the result object; the line before it is a report with the pinned
environment, the host calibration and every metric (see README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUPS = 3
DRIVER_MEM = "2g"
OP_TIMEOUT_S = 60.0
WORKLOADS = ("tpch22", "llm_pipeline", "tpchgen_copy")

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "op_p50_s": "s",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MiB",
}
COPY_END_TO_END = {"rows_written_per_s": "rows/s"}

# Per-layer metrics of the two query workloads.  Unless the name ends in
# ``.cold`` or says otherwise in README.md, a figure is per warm pass.
PER_LAYER = {
    "session.build_s": "s",
    "session.first_setup_s": "s",
    "catalog.warm_scan_s": "s",
    "queries.build_s": "s",
    "queries.build_s.cold": "s",
    "queries.build_jobs": "count",
    "queries.build_jobs.cold": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.jobs": "count",
    "exec.jobs.cold": "count",
    "exec.stages": "count",
    "exec.stages.cold": "count",
    "exec.tasks": "count",
    "exec.run_ms": "ms",
    "exec.cpu_ms": "ms",
    "exec.python_gap_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "plan.scans": "count",
    "plan.exchanges": "count",
    "plan.reused_exchanges": "count",
    "plan.broadcast_exchanges": "count",
    "plan.sort_merge_joins": "count",
    "plan.python_nodes": "count",
    "collect.s": "s",
    "collect.rows": "rows",
    "cache.persisted_rdds.cold": "count",
    "cache.memory_bytes.cold": "bytes",
    "cache.persisted_rdds": "count",
    "cache.memory_bytes": "bytes",
    "streaming.queries": "count",
    "streaming.microbatches": "count",
    "streaming.batch_ms": "ms",
    **{f"traced.{k}": u for k, u in END_TO_END.items()},
}
COPY_PER_LAYER = {
    "session.build_s": "s",
    "session.first_setup_s": "s",
    "sources.udtf_register_s": "s",
    "queries.build_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.run_ms": "ms",
    "exec.cpu_ms": "ms",
    "sources.df_rows_per_s": "rows/s",
    "sources.udtf_rows_per_s": "rows/s",
    "parquet_io.write_s": "s",
    "parquet_io.readback_s": "s",
    "parquet_io.bytes_written": "bytes",
    "parquet_io.files_written": "count",
    **{f"traced.{k}": u for k, u in {**END_TO_END, **COPY_END_TO_END}.items()},
}


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment(work: str) -> dict[str, str]:
    """Environment shared by the driver, the JVM it launches and the
    JVM's Python workers; set before numpy or pyspark load."""
    ncpu = len(os.sched_getaffinity(0))
    pinned = {
        "SPARK_GRAFT_CPUS": str(ncpu),
        # bounded driver heap: the program's 16g default exceeds the memory
        # of small hosts, and so large a heap makes peak memory follow the
        # collector's sizing decisions rather than the workload
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        # one BLAS/OpenMP thread per process, as bench.py pins them
        **{v: "1" for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS",
                            "MKL_NUM_THREADS", "VECLIB_MAXIMUM_THREADS",
                            "NUMEXPR_NUM_THREADS")},
        # the workers import the package too, wherever the run starts
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p),
        "SPARK_GRAFT_SF_DIR": os.path.join(HERE, "data", "sf0.01"),
        "SPARK_GRAFT_INDEX_DIR": os.path.join(work, "index"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
    }
    for key in ("SPARK_GRAFT_INDEX_DIR", "SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(pinned[key], exist_ok=True)
    os.environ.update(pinned)
    return pinned


class Runner:
    """Runs operations in one Spark application and keeps their outcomes."""

    def __init__(self, workload, spark, tracer) -> None:
        self.wl = workload
        self.spark = spark
        self.tracer = tracer
        self.passes: list[tuple[str, list]] = []

    def run_pass(self, label: str, rng: random.Random) -> None:
        order = list(self.wl.ops)
        rng.shuffle(order)
        outcomes = [self.run_op(label, op) for op in order]
        self.wl.end_pass(outcomes, self.spark)
        self.passes.append((label, outcomes))

    def _phase(self, group: str, op: str) -> None:
        self.spark.sparkContext.setJobGroup(group, op)
        if self.tracer is not None:
            self.tracer.current_group = group

    def run_op(self, label: str, op: str):
        import stats
        from workloads import Outcome

        out = Outcome(op)
        build_g, collect_g = (stats.job_group(self.wl.name, label, op, ph)
                              for ph in stats.PHASES)
        sc = self.spark.sparkContext
        expired = threading.Event()

        def cancel() -> None:
            expired.set()
            for g in (build_g, collect_g):
                sc.cancelJobGroup(g)

        timer = threading.Timer(OP_TIMEOUT_S, cancel)
        timer.start()
        t0 = t1 = time.perf_counter()
        try:
            self._phase(build_g, op)
            out.df = self.wl.build(self.spark, op)
            t1 = time.perf_counter()
            self._phase(collect_g, op)
            result = self.wl.collect(out.df, op)
            t2 = time.perf_counter()
        except Exception as exc:  # noqa: BLE001 - every failure is counted
            t2 = time.perf_counter()
            out.build_s, out.collect_s = t1 - t0, t2 - t1
            kind = "timeout" if expired.is_set() else "error"
            out.fail(kind, f"{type(exc).__name__}: {exc}")
            return out
        finally:
            timer.cancel()
            sc.setLocalProperty("spark.jobGroup.id", None)
            if self.tracer is not None:
                self.tracer.current_group = None
        out.build_s, out.collect_s = t1 - t0, t2 - t1
        if expired.is_set():
            out.fail("timeout", f"exceeded {OP_TIMEOUT_S:.0f} s")
        try:
            self.wl.check(out, result)
            if self.tracer is not None:
                out.probe = self.wl.probe(self.spark, out)
        except Exception as exc:  # noqa: BLE001
            out.fail("error", f"check raised {type(exc).__name__}: {exc}")
        return out


def make_workload(name: str, work: str):
    from workloads import LLM_PIPELINE_OPS, TPCH22_OPS, CopyWorkload, QueryWorkload

    if name == "tpch22":
        return QueryWorkload(name, TPCH22_OPS)
    if name == "llm_pipeline":
        return QueryWorkload(name, LLM_PIPELINE_OPS)
    return CopyWorkload(name, work, parts=int(os.environ["SPARK_GRAFT_CPUS"]))


def session_conf(work: str, traced: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if traced:
        import spark_stats

        conf.update(spark_stats.TRACE_CONF)
    return conf


def stop_spark(spark) -> list[int]:
    """Stop the application and the JVM, then wait for every process the
    run started.  Returns the pids that had to be killed."""
    import procs
    from pyspark import SparkContext

    spark.stop()
    pids = procs.descendants(os.getpid())
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits at end of input
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    return procs.wait_ended(pids)


def e2e_metrics(setups: list[dict], runner: Runner, peak_rss: int) -> dict[str, float]:
    import stats

    cold = runner.passes[0][1]
    warm = [o for _, outs in runner.passes[1:] for o in outs]
    returned = [o.seconds for o in warm if o.status in ("ok", "wrong")]
    busy = sum(o.seconds for o in warm)
    m = {
        "setup_s": statistics.median([s["total_s"] for s in setups]),
        "cold_pass_s": sum(o.seconds for o in cold),
        "op_p50_s": stats.harrell_davis_median(returned) if returned else float("nan"),
        "ops_per_s": sum(o.status == "ok" for o in warm) / busy if busy else 0.0,
        "peak_rss_mb": peak_rss / 2**20,
    }
    if runner.wl.name == "tpchgen_copy":
        rows = sum(o.rows for o in warm if o.status in ("ok", "wrong"))
        m["rows_written_per_s"] = rows / busy if busy else 0.0
    return m


def layer_metrics(setups: list[dict], runner: Runner, tracer, cache: dict) -> dict[str, float]:
    """Per-layer figures of a traced run; per warm pass unless ``.cold``."""
    import stats

    labels = [label for label, _ in runner.passes]
    warm_labels = set(labels[1:])
    n_warm = len(warm_labels)
    cold = runner.passes[0][1]
    warm = [o for _, outs in runner.passes[1:] for o in outs]
    per_warm = lambda xs: sum(xs) / n_warm  # noqa: E731

    totals = tracer.exec_totals()

    def exec_sum(field: str, passes: set[str], phases=stats.PHASES) -> float:
        return sum(v[field] for (p, _, ph), v in totals.items()
                   if p in passes and ph in phases)

    m: dict[str, float] = {
        "session.build_s": statistics.median([s["build_s"] for s in setups]),
        "session.first_setup_s": setups[0]["total_s"],
        "queries.build_s": per_warm(o.build_s for o in warm),
        "exec.jobs": exec_sum("jobs", warm_labels) / n_warm,
        "exec.stages": exec_sum("stages", warm_labels) / n_warm,
        "exec.tasks": exec_sum("tasks", warm_labels) / n_warm,
        "exec.run_ms": exec_sum("run_ms", warm_labels) / n_warm,
        "exec.cpu_ms": exec_sum("cpu_ns", warm_labels) / 1e6 / n_warm,
    }
    if runner.wl.name == "tpchgen_copy":
        m["sources.udtf_register_s"] = statistics.median([s["udtf_register_s"] for s in setups])
        for leg in ("df", "udtf"):
            legs = [o for o in warm if o.op.startswith(leg + ":") and o.probe]
            gen = sum(o.probe["generate_s"] for o in legs)
            m[f"sources.{leg}_rows_per_s"] = sum(o.rows for o in legs) / gen if gen else 0.0
        m["parquet_io.write_s"] = per_warm(o.collect_s for o in warm)
        for key in ("readback_s", "bytes_written", "files_written"):
            m[f"parquet_io.{key}"] = per_warm(o.probe.get(key, 0) for o in warm)
        return m

    cold_label = {labels[0]}
    m.update({
        "catalog.warm_scan_s": statistics.median([s["warm_scan_s"] for s in setups]),
        "queries.build_s.cold": sum(o.build_s for o in cold),
        "queries.build_jobs": exec_sum("jobs", warm_labels, ("build",)) / n_warm,
        "queries.build_jobs.cold": exec_sum("jobs", cold_label, ("build",)),
        "exec.jobs.cold": exec_sum("jobs", cold_label),
        "exec.stages.cold": exec_sum("stages", cold_label),
        "exec.gc_ms": exec_sum("gc_ms", warm_labels) / n_warm,
        "exec.shuffle_write_bytes": exec_sum("shuffle_write_bytes", warm_labels) / n_warm,
        "exec.shuffle_read_bytes": exec_sum("shuffle_read_bytes", warm_labels) / n_warm,
        "exec.spill_bytes": exec_sum("spill_bytes", warm_labels) / n_warm,
        "collect.s": per_warm(o.collect_s for o in warm),
        "collect.rows": per_warm(o.rows for o in warm),
        **cache,
        **{f"streaming.{k}": v for k, v in tracer.streaming().items()},
    })
    m["exec.python_gap_ms"] = m["exec.run_ms"] - m["exec.cpu_ms"]
    probe_keys = [k for k in PER_LAYER if k.startswith(("catalyst.", "plan."))]
    for key in probe_keys:
        m[key] = per_warm(o.probe.get(key, 0) for o in warm)
    return m


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not (os.path.isfile(os.path.join(ROOT, "datafusion_tpch_spark", "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "bench.py"))):
        print(f"perfbench: no datafusion_tpch_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    env = pin_environment(work)
    sys.path.insert(0, ROOT)
    try:
        return _run(args, work, env)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args: argparse.Namespace, work: str, env: dict[str, str]) -> int:
    import procs
    import stats
    from bench import host_calibration
    from datafusion_tpch_spark.session import build_session

    traced = bool(args.trace)
    wl = make_workload(args.workload, work)
    cal_pre = host_calibration()
    rng = random.Random(args.seed)
    setups: list[dict] = []
    spark = tracer = None
    cache: dict[str, float] = {}
    clock = {"start": time.perf_counter()}
    host0 = procs.host_cpu_ticks()
    with procs.PeakRss() as rss:
        try:
            for _ in range(SETUPS):
                if spark is not None:
                    spark.stop()
                t0 = time.perf_counter()
                spark = build_session(f"perfbench-{wl.name}",
                                      extra_conf=session_conf(work, traced))
                t1 = time.perf_counter()
                spark.range(1).count()
                prepared = wl.prepare(spark)
                setups.append({"build_s": t1 - t0, **prepared,
                               "total_s": time.perf_counter() - t0})
            if traced:
                import spark_stats

                tracer = spark_stats.SparkStats(spark)
            runner = Runner(wl, spark, tracer)
            clock["setup_done"] = time.perf_counter()
            runner.run_pass("cold", rng)
            clock["cold_done"] = time.perf_counter()
            if tracer is not None:
                n, mem = tracer.storage()
                cache.update({"cache.persisted_rdds.cold": n, "cache.memory_bytes.cold": mem})
            t_warm = time.perf_counter()
            k = 0
            while True:
                k += 1
                runner.run_pass(f"w{k}", rng)
                elapsed = time.perf_counter() - t_warm
                # whole passes only; stop at the pass count closest to --seconds
                if elapsed + elapsed / k / 2 >= args.seconds:
                    break
            clock["warm_done"] = time.perf_counter()
            layers = {}
            if tracer is not None:
                n, mem = tracer.storage()
                cache.update({"cache.persisted_rdds": n, "cache.memory_bytes": mem})
                layers = layer_metrics(setups, runner, tracer, cache)
                tracer.close()
        finally:
            killed = stop_spark(spark) if spark is not None else []
    clock["stopped"] = time.perf_counter()
    host1 = procs.host_cpu_ticks()
    e2e = e2e_metrics(setups, runner, rss.peak)
    cal_post = host_calibration()

    outcomes = [o for _, outs in runner.passes for o in outs]
    statuses = [o.status for o in outcomes]
    warm_times = [o.seconds for _, outs in runner.passes[1:] for o in outs
                  if o.status in ("ok", "wrong")]
    q, tail, beyond = stats.tail_percentile(warm_times)
    failed = sum(s != "ok" for s in statuses)
    report = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "environment": env,
        "host_calibration": {"pre": cal_pre, "post": cal_post},
        "passes": len(runner.passes), "warm_samples": len(warm_times),
        "failed_ops_frac": stats.failed_frac(statuses),
        # op_p50_s is a Harrell-Davis estimate; this is the plain median
        "op_sample_median_s": statistics.median(warm_times) if warm_times else None,
        # op_p90_s with how many samples lie beyond it, and the highest
        # percentile that has ten samples beyond it (quantile 0 if none)
        "op_p90_s": {"seconds": stats.percentile(warm_times, 0.9),
                     "samples_beyond": stats.samples_beyond(warm_times, 0.9)}
        if warm_times else None,
        "op_tail": {"quantile": q, "seconds": tail if q else None,
                    "samples_beyond": beyond},
        "killed_pids": killed,
        "peak_rss_mb_by_command": {k: round(v / 2**20, 1) for k, v in rss.peak_by_command.items()},
        "wall_s": {k: round(v - clock["start"], 3) for k, v in clock.items()},
        "host_cpu_ticks": {k: host1[k] - host0[k] for k in host0},
        "op_seconds": {label: {o.op: round(o.seconds, 4) for o in outs}
                       for label, outs in runner.passes},
        "failures": [f"{label}/{o.op}: {o.status}: {o.detail}"
                     for label, outs in runner.passes for o in outs if o.status != "ok"][:20],
        "end_to_end": e2e, "per_layer": layers,
    }
    print(json.dumps(report, sort_keys=True, default=str))

    if traced:
        layers.update({f"traced.{k}": v for k, v in e2e.items()})
        units = COPY_PER_LAYER if wl.name == "tpchgen_copy" else PER_LAYER
        values = layers
    else:
        units = {**END_TO_END, **(COPY_END_TO_END if wl.name == "tpchgen_copy" else {})}
        values = e2e
    result = {
        "correct": failed == 0,
        "attempted": len(statuses),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    sys.stdout.flush()
    print(json.dumps(result))
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
