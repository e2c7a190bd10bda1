"""Tests of the benchmark's own machinery: the cricsheet model, and the
correctness gate's accounting of wrong answers.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import zipfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import cricsheet, run, workloads  # noqa: E402


def hand_match() -> dict:
    """Two players in one roster and one in the other, one date, two teams,
    one player of the match: each delivery fans out to 1*2*1*(2+1) = 6 rows.
    One over: a single (1 row, 1 run) and a run-out with two fielders (2
    rows, 0 runs). An empty second innings keeps one row of its own."""
    return {
        "meta": {"data_version": "1.1.0", "created": "2023-06-01", "revision": 1},
        "info": {
            "city": "Chennai",
            "dates": ["2023-04-01"],
            "season": "2023",
            "venue": "MA Chidambaram Stadium",
            "gender": "male",
            "match_type": "T20",
            "overs": 1,
            "teams": ["CSK", "MI"],
            "event": {"name": "Indian Premier League", "match_number": 7},
            "toss": {"decision": "bat", "winner": "CSK"},
            "outcome": {"winner": "CSK", "by": {"runs": 1}},
            "player_of_match": ["CSK a"],
            "players": {"CSK": ["CSK a", "CSK b"], "MI": ["MI a"]},
        },
        "innings": [
            {
                "team": "CSK",
                "overs": [
                    {
                        "over": 0,
                        "deliveries": [
                            {"batter": "CSK a", "bowler": "MI a", "non_striker": "CSK b",
                             "runs": {"batter": 1, "extras": 0, "total": 1}},
                            {"batter": "CSK b", "bowler": "MI a", "non_striker": "CSK a",
                             "runs": {"batter": 0, "extras": 0, "total": 0},
                             "wickets": [{"kind": "run out", "player_out": "CSK b",
                                          "fielders": [{"name": "MI a"}, {"name": "MI b"}]}]},
                        ],
                    }
                ],
            },
            {"team": "MI", "overs": []},
        ],
    }


def test_model_counts_a_hand_sized_match():
    m = hand_match()
    assert cricsheet.info_fanout(m) == 6
    # (1 + 2) delivery rows in the first innings + 1 row for the empty one
    assert cricsheet.match_stats(m) == (24, 6)
    assert cricsheet.match_stats(m, over=0, innings_idx=0) == (18, 6)


def test_table_model_tracks_versions():
    m = hand_match()
    t = cricsheet.TableModel()
    t.append(0, [m])
    t.add_runs(1, m, 18, 1)
    t.drop(2, m)
    assert t.totals(0) == (24, 6)
    assert t.totals(1) == (24, 24)
    assert t.totals(1, season="2022") == (0, 0)
    assert t.totals(2) == (0, 0)


def test_generator_is_seeded():
    a = cricsheet.make_matches(5, 2, overs=2)
    assert a == cricsheet.make_matches(5, 2, overs=2)
    assert a != cricsheet.make_matches(6, 2, overs=2)


def test_model_matches_the_pipeline(tmp_path):
    """The model's count for the hand-sized match is what run_ingest lands."""
    pyspark = pytest.importorskip("pyspark")  # noqa: F841
    from pyspark.sql import SparkSession, functions as F

    from etl_ipl_data_analysis_pipeline_spark.pipeline import run_ingest

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    archive = str(tmp_path / "m.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("2023_7.json", json.dumps(hand_match()))
    res = run_ingest(
        spark, archive, str(tmp_path / "landing"), str(tmp_path / "out"),
        str(tmp_path / "ledger"), str(tmp_path / "schemas"), cricsheet.JSON_SCHEMA,
    )
    got = spark.read.parquet(str(tmp_path / "out")).agg(
        F.count(F.lit(1)), F.sum(cricsheet.RUNS_COL)
    ).first()
    assert (res.rows_written, got[0], got[1]) == (24, 24, 6)


class _FakeWriter:
    def format(self, _):
        return self

    def mode(self, _):
        return self

    def save(self):
        return None


class _FakeFrame:
    columns = ["x"]
    write = _FakeWriter()

    def __init__(self, value):
        self.value = value

    def collect(self):
        return [(self.value,)]


class _Spec:
    def __init__(self, value):
        self.fn = lambda spark, sf_dir: _FakeFrame(value)


def test_wrong_answer_counts_as_failed(capsys):
    """An operation whose answer differs from its oracle fails in the gate,
    stays failed in every later round, and is left out of the latencies."""
    from perfbench import tables

    wl = workloads.QueryWorkload(("good", "bad"))
    wl.registry = {"good": _Spec(1), "bad": _Spec(2)}
    wl.sf_dir = "unused"
    expect_one = tables.spark_answer([(1,)], ["x"])
    wl.expected = {"good": expect_one, "bad": expect_one}  # "bad" returns 2
    ctx = argparse.Namespace(spark=None, trace=False)
    timer = workloads.Timer()
    first = wl.round(ctx, timer, None)
    wl.check(ctx, first)
    later = wl.round(ctx, timer, random.Random(1))
    assert {op.name: op.ok for op in first} == {"good": True, "bad": False}
    args = argparse.Namespace(workload="t", seed=0, trace=0)
    out = run.summarize(args, {}, [(1.0, 1.0)] * 3, 1.0, [first, later], {}, 0, {})
    assert (out["correct"], out["attempted"], out["failed"]) == (False, 4, 2)
    detail = json.loads(capsys.readouterr().out.splitlines()[-1])
    good = [op.seconds for op in first + later if op.name == "good"]
    assert detail["geomean_s"] == pytest.approx(statistics.median(good))
