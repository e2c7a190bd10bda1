"""scripts/profile_queries.py: counters of a tiny known query, no job of
its own, the manifest layer, and the diff form."""

from __future__ import annotations

import importlib.util
import json
import os

import pyspark.sql.functions as F
import pytest

_SCRIPT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "scripts",
    "profile_queries.py",
)


@pytest.fixture(scope="module")
def pq():
    spec = importlib.util.spec_from_file_location("profile_queries", _SCRIPT)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def probe(spark):
    from perfbench.probe import SparkProbe

    return SparkProbe(spark)


def _grouped(spark, sf_dir):
    return spark.range(0, 1000, numPartitions=4).groupBy((F.col("id") % 7).alias("k")).agg(F.count("*").alias("n"))


def _max_job(spark) -> int:
    return max(spark.sparkContext.statusTracker().getJobIdsForGroup(None), default=-1)


def test_one_aggregation_counters(spark, pq, probe):
    with pq.ManifestTimer() as manifest:
        entry = pq.profile_query(spark, "", _grouped, probe, manifest)
    c = entry["counters"]
    assert c["driver.actions"] == 1
    assert c["spark.stages"] == 2
    assert c["spark.shuffle_write_bytes"] > 0
    assert c["plan.exchanges"] >= 1
    assert not any(k.startswith("manifest.") for k in c)
    assert len(entry["jobs"]) == c["spark.jobs"]
    assert "Exchange" in entry["plan"]


def test_profiler_adds_no_job(spark, pq, probe):
    import bench

    j0 = _max_job(spark)
    bench.run_once(_grouped, spark, "")
    plain = _max_job(spark) - j0
    j0 = _max_job(spark)
    with pq.ManifestTimer() as manifest:
        entry = pq.profile_query(spark, "", _grouped, probe, manifest)
    # the warm-up run and the measured run, nothing more
    assert _max_job(spark) - j0 == 2 * plain
    assert entry["counters"]["spark.jobs"] == plain


def test_manifest_primitives_are_counted_and_restored(spark, pq, probe, tmp_path):
    from etl_ipl_data_analysis_pipeline_spark import snapshots as sn

    before = sn._commit_manifest
    path = str(tmp_path / "t")

    def commit_and_read(spark, sf_dir):
        sn.snapshot_commit(spark.range(3), path, "overwrite")
        return sn.snapshot_read(spark, path)

    with pq.ManifestTimer() as manifest:
        c = pq.profile_query(spark, "", commit_and_read, probe, manifest)["counters"]
    assert sn._commit_manifest is before
    assert c["manifest._commit_manifest.calls"] == 1
    assert c["manifest._commit_manifest.s"] > 0


def test_diff_prints_changed_counters(pq, tmp_path, capsys):
    old = {
        "q_a": {"counters": {"spark.jobs": 10, "plan.scans": 2, "wall_s": 1.5}, "jobs": []},
        "q_b": {"counters": {"spark.jobs": 3}, "jobs": []},
        "q_gone": {"counters": {}, "jobs": []},
    }
    new = {
        "q_a": {"counters": {"spark.jobs": 7, "plan.scans": 2, "wall_s": 1.5, "driver.actions": 3}, "jobs": []},
        "q_b": {"error": "ValueError: boom"},
        "q_new": {"counters": {}, "jobs": []},
    }
    a, b = tmp_path / "a.json", tmp_path / "b.json"
    a.write_text(json.dumps(old))
    b.write_text(json.dumps(new))
    assert pq.main(["diff", str(a), str(b)]) == 0
    lines = [" ".join(line.split()) for line in capsys.readouterr().out.splitlines()]
    assert lines == [
        "q_a driver.actions 0 -> 3 +3",
        "q_a spark.jobs 10 -> 7 -3",
        "q_b: ok -> ValueError: boom",
        f"q_gone: only in {a}",
        f"q_new: only in {b}",
    ]
