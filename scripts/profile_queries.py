"""Profile registry queries layer by layer, one JSON entry per query.

Each query runs once to warm up and once measured through ``bench.py``'s
session and noop sink. The measured run records:

- ``wall_s``;
- the Spark layer from ``perfbench.probe.SparkProbe`` (jobs, non-skipped
  stages, tasks, executor time, shuffle, input and spill bytes, ...);
- ``driver.actions``: SQL executions started, so one action that AQE splits
  into a job per query stage still counts once;
- the plan layer, ``perfbench.probe.plan_counts`` of the returned frame,
  plus ``plan.codegen_stages``: the whole-stage-codegen subtrees of the
  plans the run executed (the distinct ``codegen id`` values of each SQL
  execution's plan description in the status store), a count that depends
  on the plans alone;
- the driver layer: ``manifest.<fn>.calls`` and ``manifest.<fn>.s`` for each
  snapshot manifest primitive the query called (nested calls count in both);
- the JVM layer: ``jvm.jit_s`` (JIT compilation time) and
  ``jvm.classes_loaded``, each read from the JVM before and after the run;
- ``jobs``: every job's description, read from the status store.

Each frame's ``explain("formatted")`` plan goes to ``<out stem>.plans/``.
Nothing here launches a Spark job of its own.

Beside the query entries, a ``_meta`` entry of the same shape holds one
counter, ``catalog_read_cpu_s``: the CPU seconds of the first read of
``plans.load_all()``, which imports the plan modules (``load_all`` itself
imports none).

Usage:
    SPARK_GRAFT_SF_DIR=<parquet dir> python scripts/profile_queries.py OUT.json [query ...]
    python scripts/profile_queries.py diff OLD.json NEW.json

No query names means ``bench.HEADLINE``. ``SPARK_GRAFT_CPUS`` (default 32)
sizes the session as it does for ``bench.py``. ``diff`` prints, per query,
every counter whose value changed.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

MANIFEST_PRIMITIVES = (
    "_read_manifest",
    "_commit_manifest",
    "snapshot_versions",
    "_head_version",
    "_write_head_hint",
    "_stage_files",
    "_file_stats",
)


_CODEGEN_ID = re.compile(r"\[codegen id : (\d+)\]")


def jvm_counters(spark) -> dict:
    """JIT seconds and classes loaded so far in the driver JVM, read
    through py4j (no job)."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return {
        "jvm.jit_s": beans.getCompilationMXBean().getTotalCompilationTime() / 1000.0,
        "jvm.classes_loaded": beans.getClassLoadingMXBean().getTotalLoadedClassCount(),
    }


def codegen_stages(probe, first: int, last: int) -> int:
    """Whole-stage-codegen subtrees of the executed plans of SQL
    executions ``first``..``last``: the distinct codegen ids in each plan
    description of the status store (the read the tier-1 plan-shape gate
    makes; no job). Unlike the count of classes the driver compiled, it
    does not depend on what earlier queries left in the codegen cache."""
    n = 0
    for eid in range(first, last + 1):
        ex = probe._sql.execution(eid)
        if ex.isDefined():
            n += len(set(_CODEGEN_ID.findall(ex.get().physicalPlanDescription())))
    return n


class ManifestTimer:
    """Calls and seconds inside the snapshot manifest primitives, counted
    by replacing the module attributes with timed wrappers while the
    context is open. Calls made through a name imported before entry are
    not seen."""

    def __init__(self) -> None:
        self.counts: Counter = Counter()
        self._saved: dict = {}

    def __enter__(self) -> ManifestTimer:
        from etl_ipl_data_analysis_pipeline_spark import snapshots

        self._module = snapshots
        for name in MANIFEST_PRIMITIVES:
            self._saved[name] = getattr(snapshots, name)
            setattr(snapshots, name, self._timed(name, self._saved[name]))
        return self

    def __exit__(self, *exc) -> None:
        for name, fn in self._saved.items():
            setattr(self._module, name, fn)

    def _timed(self, name, fn):
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.counts[f"manifest.{name}.calls"] += 1
                self.counts[f"manifest.{name}.s"] += time.perf_counter() - t0

        return timed


def profile_query(spark, sf_dir: str, fn, probe, manifest: ManifestTimer) -> dict:
    """Warm ``fn`` up, run it once more under the probe and return the
    entry: ``counters``, ``jobs`` and the formatted ``plan``."""
    import bench
    from perfbench.probe import plan_counts

    bench.run_once(fn, spark, sf_dir)
    frames = []

    def kept(spark, sf_dir):
        frames.append(fn(spark, sf_dir))
        return frames[-1]

    manifest.counts.clear()
    mark = probe.start()
    jvm0 = jvm_counters(spark)
    wall = bench.run_once(kept, spark, sf_dir)
    counters = probe.stop(mark, wall)
    counters.update({k: v - jvm0[k] for k, v in jvm_counters(spark).items()})
    counters["wall_s"] = wall
    last_exec = probe._max_execution()
    counters["driver.actions"] = last_exec - mark[1]
    counters["plan.codegen_stages"] = codegen_stages(probe, mark[1] + 1, last_exec)
    counters.update(manifest.counts)
    counters.update(plan_counts(frames[0]))
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = []
    for jid in range(mark[0] + 1, mark[0] + 1 + counters["spark.jobs"]):
        try:
            job = store.job(jid)
        except Exception:  # evicted from the store
            jobs.append(None)
            continue
        desc = job.description()
        jobs.append(desc.get() if desc.isDefined() else job.name())
    df = frames[0]
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    return {"counters": {k: round(v, 6) for k, v in sorted(counters.items())}, "jobs": jobs, "plan": plan}


def profile(out: str, names: list[str]) -> int:
    import bench
    from etl_ipl_data_analysis_pipeline_spark.plans import load_all
    from perfbench.probe import SparkProbe

    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
    spark = bench.build_spark(int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    registry = load_all()
    c0 = time.process_time()
    len(registry)  # the first read imports the plan modules
    entries: dict = {"_meta": {"counters": {"catalog_read_cpu_s": round(time.process_time() - c0, 6)}}}
    probe = SparkProbe(spark)
    plans_dir = os.path.splitext(out)[0] + ".plans"
    os.makedirs(plans_dir, exist_ok=True)
    with ManifestTimer() as manifest:
        for name in names or bench.HEADLINE:
            try:
                entry = profile_query(spark, sf_dir, registry[name].fn, probe, manifest)
            except Exception as e:
                entries[name] = {"error": f"{type(e).__name__}: {str(e)[:300]}"}
                print(f"{name:36s} FAILED {entries[name]['error']}", flush=True)
            else:
                with open(os.path.join(plans_dir, f"{name}.txt"), "w") as f:
                    f.write(entry.pop("plan"))
                entries[name] = entry
                c = entry["counters"]
                print(
                    f"{name:36s} {c['wall_s']:7.2f}s {c['spark.jobs']:4d} jobs "
                    f"{c['driver.actions']:3d} actions",
                    flush=True,
                )
            with open(out, "w") as f:
                json.dump(entries, f, indent=1)
    return 0


def diff(old_path: str, new_path: str) -> int:
    with open(old_path) as f:
        old = json.load(f)
    with open(new_path) as f:
        new = json.load(f)
    for name in list(old) + [n for n in new if n not in old]:
        if name not in new or name not in old:
            print(f"{name}: only in {old_path if name in old else new_path}")
            continue
        a, b = old[name].get("counters"), new[name].get("counters")
        if a is None or b is None:
            print(f"{name}: {old[name].get('error', 'ok')} -> {new[name].get('error', 'ok')}")
            continue
        for key in sorted(set(a) | set(b)):
            x, y = a.get(key, 0), b.get(key, 0)
            if x != y:
                print(f"{name:36s} {key:36s} {x:>14g} -> {y:<14g} {y - x:+g}")
    return 0


def main(argv: list[str]) -> int:
    if len(argv) == 3 and argv[0] == "diff":
        return diff(argv[1], argv[2])
    if not argv or argv[0] == "diff":
        print(__doc__, file=sys.stderr)
        return 2
    return profile(argv[0], argv[1:])


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
