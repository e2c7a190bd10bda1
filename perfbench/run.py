"""Benchmark entry point: run one workload, check its answers, print metrics.

    python3 perfbench/run.py --workload llm_curation --seed 1 --seconds 1 --trace 0

Run from the repository root. One client in one process sends operations
one after another (closed loop) against a ``local[4]`` session built by
``session.get_spark`` with every ``SPARK_GRAFT_*`` knob unset. A run:

1. generates the workload's inputs from ``--seed`` (untimed);
2. builds the session and imports the registry five times (``setup_s`` is
   the median CPU time of a build; the first build also launches the JVM,
   whose wall time is ``session.start_s``);
3. runs a first round in the fresh session, then checks its answers
   (untimed). ``first_round_cpu_s`` is the CPU time the round used in this
   process, the JVM and the Python workers;
4. starts further rounds until ``--seconds`` have passed since the first
   began, so ``--seconds 1`` measures the fresh-session round alone.

The end-to-end metrics are CPU times because on a shared 4-core host the
wall time of the same round moved by a quarter with the neighbours' load;
wall times are in the detail line and among the per-layer metrics.

With ``--trace 1`` the same rounds run traced: the counters are read around
every operation, outside its timing, and ``trace.overhead_pct`` is the time
that reading took as a share of the operations' time. Comparing the traced
run's ``round_s`` with an untraced run's ``first_round_s`` (detail line)
gives the same gap from outside.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import random
import shutil
import statistics
import sys
import tempfile
import time
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4
SETUPS = 5

SPARK_COUNTERS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.busy_s", "driver.self_s",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
    "spark.input_bytes", "spark.output_bytes", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.spill_bytes",
    "python.bytes_to_worker", "python.bytes_from_worker",
)
PLAN_COUNTERS = (
    "plan.scans", "plan.dup_wide_scans", "plan.exchanges", "plan.python_nodes", "plan.bnlj",
)
SNAPSHOT_OPS = (
    "commit", "merge", "delete", "delete_keys", "compact", "expire", "read", "scan", "changes",
)
PIPELINE_OPS = ("backfill", "replay")


def pin_environment(run_dir: str) -> None:
    """Everything the run writes stays under ``run_dir``; the Python workers
    can import the repository; no tuning knob leaks in from the caller."""
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    tmp, local = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.chdir(run_dir)


class Context:
    def __init__(self, args, run_dir: str, cache_dir: str):
        self.seed = args.seed
        self.trace = False
        self.run_dir = run_dir
        self.cache_dir = cache_dir
        self.spark = None
        self.registry = None


def cpu_s() -> float:
    """CPU seconds used so far by this process and, once it is launched, by
    the JVM and the Python workers below it."""
    from perfbench.probe import tree_cpu_s

    pyspark = sys.modules.get("pyspark")
    gateway = pyspark.SparkContext._gateway if pyspark else None
    return time.process_time() + (tree_cpu_s(gateway.proc.pid) if gateway else 0.0)


def build_session(ctx: Context) -> tuple[float, float]:
    """Stop any previous session, then build a new one and import the
    registry afresh. Returns the wall and CPU seconds taken."""
    if ctx.spark is not None:
        ctx.spark.stop()
    for name in [m for m in sys.modules if m.startswith("etl_ipl_data_analysis_pipeline_spark")]:
        del sys.modules[name]
    c0, t0 = cpu_s(), time.perf_counter()
    from etl_ipl_data_analysis_pipeline_spark.plans import load_all
    from etl_ipl_data_analysis_pipeline_spark.session import get_spark

    ctx.spark = get_spark("perfbench", master=f"local[{CORES}]")
    ctx.registry = load_all()
    return time.perf_counter() - t0, cpu_s() - c0


def shutdown(ctx: Context) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if ctx.spark is not None:
        ctx.spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.terminate()
            proc.wait(timeout=60)


def run(args) -> dict:
    work = os.path.join(ROOT, ".perfbench_work")
    cache_dir = os.path.join(work, "cache")
    run_dir = os.path.join(work, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    os.makedirs(cache_dir, exist_ok=True)
    sys.path.insert(0, ROOT)
    pin_environment(run_dir)
    try:
        return _run(args, run_dir, cache_dir)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, run_dir: str, cache_dir: str) -> dict:
    from perfbench.probe import RssSampler, SparkProbe
    from perfbench.workloads import WORKLOADS, Timer

    ctx = Context(args, run_dir, cache_dir)
    workload = WORKLOADS[args.workload]()
    extras: dict = {}
    phases: dict[str, float] = {}
    t_phase = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = now - t_phase
        t_phase = now

    try:
        setups = [build_session(ctx) for _ in range(SETUPS)]
        phase("setup")
        workload.prepare(ctx)
        phase("prepare")
        env = {
            "pyspark": ctx.spark.version,
            "python": platform.python_version(),
            "java": ctx.spark._jvm.java.lang.System.getProperty("java.version"),
            "cores": CORES,
            "nproc": os.cpu_count(),
        }
        jvm_pid = ctx.spark.sparkContext._gateway.proc.pid
        plain, traced = Timer(), Timer(SparkProbe(ctx.spark))
        # peak RSS is a per-layer metric: untraced runs skip the poller
        with RssSampler(jvm_pid, enabled=bool(args.trace)) as rss:
            rounds: list[list] = []
            ctx.trace = bool(args.trace)
            cpu0 = cpu_s()
            t0 = time.perf_counter()
            while not rounds or time.perf_counter() - t0 < args.seconds:
                rng = random.Random(args.seed * 1000 + len(rounds)) if rounds else None
                ops = workload.round(ctx, traced if ctx.trace else plain, rng)
                if not rounds:
                    round_cpu = cpu_s() - cpu0
                    phase("first_round")
                    workload.check(ctx, ops)
                    phase("check")
                rounds.append(ops)
                if ctx.trace:
                    extras = round_extras(workload)
        phase("later_rounds")
    finally:
        shutdown(ctx)
    phase("shutdown")
    return summarize(args, env, setups, round_cpu, rounds, extras, rss.peak_bytes, phases)


def round_extras(workload) -> dict:
    """Storage-side numbers of the round just finished (ipl_etl only)."""
    last = getattr(workload, "last_round", None)
    if not last:
        return {}
    from perfbench.workloads import walk_sizes

    paths, io = last["paths"], last["io"]
    landed = io.bytes["out"]
    table_bytes = sum(walk_sizes([paths["table"]]).values())
    head = sum(os.path.getsize(_local(p)) for p in last["head_files"])
    scanned, total = last["scan_files"]
    return {
        "io.files_written": io.files,
        "io.bytes_written": sum(io.bytes.values()),
        "write_amp": io.bytes["table"] / landed if landed else 0.0,
        "space_amp": table_bytes / head if head else 0.0,
        "snapshots.scan_file_frac": scanned / total if total else 0.0,
    }


def _local(uri: str) -> str:
    from urllib.parse import unquote, urlparse

    return unquote(urlparse(uri).path)


def _tail(values: list[float]) -> tuple[float, float]:
    """Highest percentile with at least ten samples above it."""
    s = sorted(values)
    k = max(len(s) - 11, 0)
    return s[k], 100.0 * (k + 1) / len(s)


def _geomean(values) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


def summarize(args, env, setups, round_cpu, rounds, extras, peak_rss, phases) -> dict:
    all_ops = [op for ops in rounds for op in ops]
    failed = [op for op in all_ops if not op.ok]
    by_name: dict[str, list[float]] = {}
    for op in all_ops:
        if op.ok:
            by_name.setdefault(op.name, []).append(op.seconds)
    medians = {n: statistics.median(v) for n, v in by_name.items()}
    detail = {
        "env": env,
        "workload": args.workload,
        "seed": args.seed,
        "setups_s": [w for w, _ in setups],
        "setups_cpu_s": [c for _, c in setups],
        "phases_s": phases,
        "rounds": len(rounds),
        "op_medians_s": medians,
        "first_round_s": sum(op.seconds for op in rounds[0]),
        "first_round_ops_s": _sum_by_name(rounds[0]),
        "geomean_s": _geomean(medians.values()) if medians else None,
        "errors": sorted({f"{op.name}: {op.error}" for op in failed}),
    }
    if args.trace:
        metrics = per_layer(setups, rounds, extras, all_ops, failed)
        metrics["geomean_s"] = (_geomean(medians.values()) if medians else 0.0, "s")
        metrics["peak_rss_mb"] = (peak_rss / 2**20, "MB")
        detail["op_jobs"] = _sum_by_name(all_ops, "spark.jobs")
    else:
        metrics = {
            "setup_s": (statistics.median(c for _, c in setups), "s"),
            "first_round_cpu_s": (round_cpu, "s"),
        }
    print(json.dumps(detail, sort_keys=True))
    return {
        "correct": not failed,
        "attempted": len(all_ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def _sum_by_name(ops, counter: str | None = None) -> dict:
    out: Counter = Counter()
    for op in ops:
        out[op.name] += op.counters.get(counter, 0) if counter else op.seconds
    return dict(out)


def per_layer(setups, rounds, extras, all_ops, failed) -> dict:
    """Per-layer metrics per round, averaged over the traced rounds;
    ``extras`` holds the storage numbers of the last one."""
    from perfbench.workloads import IPL_MATCHES

    n = len(rounds)
    wall = sum(op.seconds for op in all_ops)
    c: Counter = Counter()
    layer_s: Counter = Counter()
    for op in all_ops:
        c.update(op.counters)
        layer_s[op.layer] += op.seconds
        layer_s[op.name] += op.seconds
        layer_s.update(op.parts)
        if op.layer == "snapshots":
            layer_s["snapshots.driver"] += op.counters.get("driver.self_s", 0.0)
    c = Counter({k: v / n for k, v in c.items()})
    pct = lambda key: (100.0 * layer_s[key] / wall, "%")  # noqa: E731
    jobs = lambda ops: (statistics.fmean(op.counters["spark.jobs"] for op in ops) if ops else 0.0, "count")  # noqa: E731

    m: dict[str, tuple[float, str]] = {"session.start_s": (setups[0][0], "s")}
    m["plans.build_pct"] = pct("plans.build")
    m["plans.exec_pct"] = pct("plans.exec")
    for key in PLAN_COUNTERS:
        m[key] = (c[key], "count")
    for key in SPARK_COUNTERS:
        unit = "s" if key.endswith("_s") else "count" if key in ("spark.jobs", "spark.stages", "spark.tasks") else "B"
        m[key] = (c[key], unit)
    busy = c["spark.busy_s"]
    m["spark.slot_util"] = (c["spark.executor_run_s"] / (CORES * busy) if busy else 0.0, "ratio")
    for name in SNAPSHOT_OPS:
        m[f"snapshots.{name}_pct"] = pct(f"snap.{name}")
    m["snapshots.jobs_per_write"] = jobs([op for op in all_ops if op.layer == "snapshots" and op.is_write])
    m["snapshots.driver_pct"] = pct("snapshots.driver")
    for name in PIPELINE_OPS:
        m[f"pipeline.{name}_pct"] = pct(f"ingest.{name}")
        m[f"pipeline.jobs_per_{name}"] = jobs([op for op in all_ops if op.name == f"ingest.{name}"])
    backfill = next((op for op in all_ops if op.name == "ingest.backfill"), None)
    rows = backfill.counters.get("rows", 0) if backfill else 0
    m["pipeline.rows_per_doc"] = (rows / IPL_MATCHES, "count")
    m["ingest_rows_per_s"] = (rows / backfill.seconds if backfill else 0.0, "1/s")
    for key in ("io.files_written", "io.bytes_written", "write_amp", "space_amp", "snapshots.scan_file_frac"):
        unit = {"io.files_written": "count", "io.bytes_written": "B"}.get(key, "ratio")
        m[key] = (extras.get(key, 0.0), unit)
    for layer in ("plans", "snapshots", "pipeline"):
        m[f"layer.{layer}_pct"] = pct(layer)
    lat = [op.seconds for op in all_ops if op.ok]
    tail, pctile = _tail(lat) if lat else (0.0, 0.0)
    m["round_s"] = (wall / n, "s")
    m["op_p50_s"] = (statistics.median(lat) if lat else 0.0, "s")
    m["op_tail_s"] = (tail, "s")
    m["op_tail_pctile"] = (pctile, "%")
    m["failed_frac"] = (len(failed) / len(all_ops), "ratio")
    m["trace.overhead_pct"] = (100.0 * sum(op.trace_s for op in all_ops) / wall, "%")
    return m


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    raise SystemExit(main())
