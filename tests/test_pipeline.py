"""End-to-end pipeline integration (SURVEY §5.4): run-twice idempotency,
drift gate semantics, retry util."""

import json
import os
import zipfile

import pytest

from etl_ipl_data_analysis_pipeline_spark.io import retry
from etl_ipl_data_analysis_pipeline_spark.pipeline import run_ingest


def make_zip(tmp_path, name, files):
    path = str(tmp_path / name)
    with zipfile.ZipFile(path, "w") as zf:
        for fname, records in files.items():
            zf.writestr(fname, json.dumps(records))
    return path


@pytest.fixture()
def pipe_args(tmp_path):
    return dict(
        landing_dir=str(tmp_path / "landing"),
        out_dir=str(tmp_path / "out"),
        ledger_path=str(tmp_path / "ledger.parquet"),
        schema_registry_path=str(tmp_path / "registry.parquet"),
    )


def test_run_twice_is_idempotent(spark, tmp_path, pipe_args):
    z = make_zip(tmp_path, "b1.zip", {
        "f1.json": [{"id": 1, "user": {"name": "u1", "tags": ["a", "b"]}}],
        "f2.json": [{"id": 2, "user": {"name": "u2", "tags": ["c"]}}],
    })
    r1 = run_ingest(spark, z, **pipe_args)
    assert (r1.processed_files, r1.rows_written, r1.skipped) == (2, 3, False)
    r2 = run_ingest(spark, z, **pipe_args)
    assert r2.skipped and r2.processed_files == 0
    assert spark.read.parquet(pipe_args["out_dir"]).count() == 3  # unchanged


def test_incremental_batch_appends_only_new(spark, tmp_path, pipe_args):
    z1 = make_zip(tmp_path, "b1.zip", {"f1.json": [{"id": 1, "v": "a"}]})
    z2 = make_zip(tmp_path, "b2.zip", {
        "f1.json": [{"id": 1, "v": "a"}],   # already processed
        "f3.json": [{"id": 3, "v": "c"}],   # new
    })
    run_ingest(spark, z1, **pipe_args)
    r = run_ingest(spark, z2, **pipe_args)
    assert r.processed_files == 1
    assert spark.read.parquet(pipe_args["out_dir"]).count() == 2


def test_drift_warn_records_and_proceeds(spark, tmp_path, pipe_args):
    run_ingest(spark, make_zip(tmp_path, "b1.zip", {"f1.json": [{"id": 1}]}), **pipe_args)
    r = run_ingest(
        spark,
        make_zip(tmp_path, "b2.zip", {"f2.json": [{"id": 2, "extra": "x"}]}),
        **pipe_args,
    )
    assert r.drift and "added: extra" in r.drift
    assert r.processed_files == 1


def test_drift_block_raises_and_file_stays_eligible(spark, tmp_path, pipe_args):
    run_ingest(spark, make_zip(tmp_path, "b1.zip", {"f1.json": [{"id": 1, "v": "s"}]}), **pipe_args)
    z2 = make_zip(tmp_path, "b2.zip", {"f2.json": [{"id": 2, "v": 3}]})
    with pytest.raises(RuntimeError, match="type_changed"):
        run_ingest(spark, z2, on_drift="block", **pipe_args)
    # blocked file left out of the ledger -> warn-mode retry processes it
    r = run_ingest(spark, z2, on_drift="warn", **pipe_args)
    assert r.processed_files == 1


def test_retry_backoff_and_reraise():
    delays, calls = [], {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise OSError("transient")
        return "ok"

    assert retry(flaky, sleep=delays.append) == "ok"
    assert delays == [1.0, 2.0]  # 2^n seconds

    with pytest.raises(ValueError):
        retry(
            lambda: (_ for _ in ()).throw(ValueError("permanent")),
            sleep=delays.append,
        )
    assert delays[2:] == [1.0, 2.0, 4.0, 8.0]  # retried 4 times then re-raised


def test_quarantine_diverts_corrupt_files(spark, tmp_path, pipe_args):
    path = str(tmp_path / "bq.zip")
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("ok.json", json.dumps({"id": 1, "v": "fine"}))
        zf.writestr("broken.json", '{"id": 2, "v": ')  # truncated
    qdir = str(tmp_path / "quarantine")
    r = run_ingest(
        spark, path, **pipe_args, json_schema="id long, v string", quarantine_dir=qdir
    )
    assert not r.skipped
    assert r.quarantined == 1
    assert r.rows_written == 1  # only the clean doc reached the sink
    q = spark.read.parquet(qdir)
    assert q.count() == 1 and q.columns == ["path", "raw"]
    # second run: both files are ledgered (incl. the quarantined one), no rework
    r2 = run_ingest(
        spark, path, **pipe_args, json_schema="id long, v string", quarantine_dir=qdir
    )
    assert r2.skipped


SPECIAL_NAMES = {
    "team rosters.json": "space",
    "pct%20literal.json": "percent",
    "a+b.json": "plus",
    "m[1].json": "bracket",
    "a{b}.json": "brace",
    "q?.json": "question",
    "star*.json": "star",
    "back\\slash.json": "backslash",
}


@pytest.mark.parametrize("mode", ["infer", "pinned", "quarantine"])
def test_special_char_filenames_survive_discovery(spark, tmp_path, pipe_args, mode):
    # Every fresh file is read by its exact path, and the file sources
    # treat each path as a Hadoop glob: unescaped, `m[1].json` or
    # `a{b}.json` would match nothing and contribute zero rows while being
    # marked ingested (silent loss). Spaces, % and + exercise the URI
    # encoding between Python paths and Spark's file index. Three modes
    # because they read differently: inference reads binaryFile, the
    # pinned-schema and quarantine modes the JSON source.
    z = make_zip(tmp_path, "b1.zip", {
        name: [{"id": i, "v": v}] for i, (name, v) in enumerate(SPECIAL_NAMES.items())
    })
    extra = {}
    if mode in ("pinned", "quarantine"):
        extra["json_schema"] = "id long, v string"
    if mode == "quarantine":
        extra["quarantine_dir"] = str(tmp_path / "quarantine")
    r = run_ingest(spark, z, **pipe_args, **extra)
    n = len(SPECIAL_NAMES)
    assert (r.processed_files, r.rows_written) == (n, n)
    vals = {
        row.v for row in spark.read.parquet(pipe_args["out_dir"]).collect()
    }
    assert vals == set(SPECIAL_NAMES.values())
    assert run_ingest(spark, z, **pipe_args, **extra).skipped


def test_colliding_member_names_raise(spark, tmp_path, pipe_args):
    # members land under their basename: two documents sharing one would
    # overwrite each other and land one row under one ledger key
    z = make_zip(tmp_path, "b1.zip", {
        "2023/x.json": [{"id": 1}],
        "2024/x.json": [{"id": 2}],
    })
    with pytest.raises(ValueError, match="'2023/x.json' and '2024/x.json'"):
        run_ingest(spark, z, **pipe_args)
    assert not os.path.exists(pipe_args["out_dir"])
    assert not os.path.exists(pipe_args["ledger_path"])


def test_second_run_rescans_only_new_extractions(spark, tmp_path, pipe_args):
    # each run reads only the files it extracted itself; correctness across
    # runs comes from the ledger join
    z1 = make_zip(tmp_path, "b1.zip", {"old1.json": [{"id": 1}]})
    z2 = make_zip(tmp_path, "b2.zip", {"new1.json": [{"id": 2}], "new2.json": [{"id": 3}]})
    run_ingest(spark, z1, **pipe_args)
    r = run_ingest(spark, z2, **pipe_args)
    assert r.processed_files == 2
    assert spark.read.parquet(pipe_args["out_dir"]).count() == 3


def test_lagging_filesystem_clock_does_not_lose_batch(spark, tmp_path, pipe_args, monkeypatch):
    # the silent-loss shape: filesystem mtimes lag the driver clock (NFS
    # landing dir, VM clock drift). A scan bounded by a now()-based mtime
    # watermark would exclude this run's own extractions while step 6
    # marks them ingested. The batch is read by exact path, so no mtime
    # can exclude it.
    import etl_ipl_data_analysis_pipeline_spark.pipeline as pl

    real_expand = pl.expand_zip

    def lagging_expand(*a, **kw):
        members = real_expand(*a, **kw)
        past = os.path.getmtime(members[0]) - 120  # fs clock 2 min behind
        for m in members:
            os.utime(m, (past, past))
        return members

    monkeypatch.setattr(pl, "expand_zip", lagging_expand)
    z = make_zip(tmp_path, "b1.zip", {"f1.json": [{"id": 1}], "f2.json": [{"id": 2}]})
    r = run_ingest(spark, z, **pipe_args)
    assert (r.processed_files, r.rows_written, r.skipped) == (2, 2, False)
    assert spark.read.parquet(pipe_args["out_dir"]).count() == 2


def test_extracted_files_land_whatever_their_mtime(spark, tmp_path, pipe_args, monkeypatch):
    # the hazard an mtime-bounded scan has (listing caches, clock skew,
    # truncated mtimes): extracted files whose mtime falls outside any
    # window derived from the run. Stamp every member a year ahead, then a
    # year back; each batch must land in full rather than be written as
    # nothing while marked done.
    import etl_ipl_data_analysis_pipeline_spark.pipeline as pl

    real_expand = pl.expand_zip
    year = 365 * 24 * 3600
    shift = {"s": 0}

    def shifted_expand(*a, **kw):
        members = real_expand(*a, **kw)
        for m in members:
            t = os.path.getmtime(m) + shift["s"]
            os.utime(m, (t, t))
        return members

    monkeypatch.setattr(pl, "expand_zip", shifted_expand)
    schema = "id long, v string"
    shift["s"] = year
    z1 = make_zip(tmp_path, "b1.zip", {"f1.json": [{"id": 1, "v": "x"}], "f2.json": [{"id": 2, "v": "y"}]})
    r1 = run_ingest(spark, z1, **pipe_args, json_schema=schema)
    assert (r1.processed_files, r1.rows_written, r1.skipped) == (2, 2, False)
    shift["s"] = -year
    z2 = make_zip(tmp_path, "b2.zip", {"f3.json": [{"id": 3, "v": "z"}]})
    r2 = run_ingest(spark, z2, **pipe_args, json_schema=schema)
    assert (r2.processed_files, r2.rows_written, r2.skipped) == (1, 1, False)
    got = sorted(r.id for r in spark.read.parquet(pipe_args["out_dir"]).collect())
    assert got == [1, 2, 3]


def _jobs_during(spark, fn):
    """(result, descriptions of the Spark jobs ``fn`` launched), counted by
    job-ID delta around the call."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    store = sc._jsc.sc().statusStore()

    def last_job():
        bus.waitUntilEmpty()
        ids = sc.statusTracker().getJobIdsForGroup(None)
        return max(ids) if ids else -1

    first = last_job()
    out = fn()
    descs = []
    for jid in range(first + 1, last_job() + 1):
        d = store.job(jid).description()
        descs.append(d.get() if d.isDefined() else None)
    return out, descs


def test_ingest_job_counts_and_descriptions(spark, tmp_path, pipe_args):
    # a backfill is three writes (schema registry, data, ledger) and no
    # other job; a replay is the ledger anti-join (broadcast + collect)
    schema = "id long, v string"
    z = make_zip(tmp_path, "b1.zip", {
        f"d{i}.json": [{"id": i, "v": "x"}, {"id": 10 + i, "v": "y"}] for i in range(4)
    })
    sc = spark.sparkContext
    sc.setJobDescription("caller")
    try:
        r, descs = _jobs_during(spark, lambda: run_ingest(spark, z, **pipe_args, json_schema=schema))
        assert (r.processed_files, r.rows_written) == (4, 8)
        assert descs == ["run_ingest:registry", "run_ingest:write", "run_ingest:ledger"]
        assert sc.getLocalProperty("spark.job.description") == "caller"
        r, descs = _jobs_during(spark, lambda: run_ingest(spark, z, **pipe_args, json_schema=schema))
        assert r.skipped
        assert descs == ["run_ingest:discover"] * 2
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setLocalProperty("spark.job.description", None)

    # 100 paths cross Spark's parallel-listing threshold: one more job,
    # which Spark itself describes
    big = make_zip(tmp_path, "big.zip", {f"f{i:03d}.json": [{"id": i, "v": "x"}] for i in range(100)})
    big_args = {k: v + "_big" for k, v in pipe_args.items()}
    r, descs = _jobs_during(spark, lambda: run_ingest(spark, big, **big_args, json_schema=schema))
    assert (r.processed_files, r.rows_written) == (100, 100)
    assert len(descs) <= 4
    ours = [d for d in descs if not d.startswith("Listing leaf files")]
    assert ours == ["run_ingest:registry", "run_ingest:write", "run_ingest:ledger"], descs
    assert spark.read.parquet(big_args["out_dir"]).count() == 100


def test_control_tables_append_one_file_per_run(spark, tmp_path, pipe_args):
    """The ledger is append-only: a second run over a disjoint archive
    leaves the first run's ledger file in place (same name, same size)
    and adds one file holding exactly the second archive's keys — keys,
    not paths, so rerunning that archive lands nothing. With no drift
    the schema registry is not written at all."""
    from etl_ipl_data_analysis_pipeline_spark.operators.ledger import LEDGER_SCHEMA

    def files(key):
        d = pipe_args[key]
        return {f: os.path.getsize(os.path.join(d, f)) for f in os.listdir(d) if f.endswith(".parquet")}

    run_ingest(spark, make_zip(tmp_path, "z1.zip", {"a1.json": [{"id": 1}], "a2.json": [{"id": 2}]}), **pipe_args)
    ledger1, registry1 = files("ledger_path"), files("schema_registry_path")
    assert len(ledger1) == 1
    z2 = make_zip(tmp_path, "z2.zip", {f"b{i}.json": [{"id": 10 + i}] for i in range(3)})
    run_ingest(spark, z2, **pipe_args)
    ledger2 = files("ledger_path")
    assert {f: ledger2.get(f) for f in ledger1} == ledger1
    (added,) = set(ledger2) - set(ledger1)
    keys = spark.read.schema(LEDGER_SCHEMA).parquet(os.path.join(pipe_args["ledger_path"], added))
    assert sorted(r.file_key for r in keys.collect()) == ["b0", "b1", "b2"]
    assert files("schema_registry_path") == registry1
    assert run_ingest(spark, z2, **pipe_args).skipped
    assert spark.read.parquet(pipe_args["out_dir"]).count() == 5


def test_control_tables_torn_by_a_first_append_start_empty(spark, tmp_path, pipe_args):
    """An append that dies before its first commit leaves the table's
    directory behind with only `_temporary` in it. The next run treats
    such a registry as new (version 1, no drift, even under 'block') and
    such a ledger as empty, and a rerun after it lands nothing."""
    from etl_ipl_data_analysis_pipeline_spark.operators.schema_diff import SNAPSHOT_SCHEMA

    for key in ("schema_registry_path", "ledger_path"):
        os.makedirs(os.path.join(pipe_args[key], "_temporary", "0"))
    z = make_zip(tmp_path, "t.zip", {"t1.json": [{"id": 1, "v": "a"}]})
    res = run_ingest(spark, z, on_drift="block", **pipe_args)
    assert (res.processed_files, res.rows_written, res.drift) == (1, 1, None)
    registry = spark.read.schema(SNAPSHOT_SCHEMA).parquet(pipe_args["schema_registry_path"])
    assert {r.version_id for r in registry.collect()} == {1}
    assert run_ingest(spark, z, on_drift="block", **pipe_args).skipped


def test_compact_after_bounds_small_files(spark, tmp_path, pipe_args):
    """compact_after keeps the append-mode out_dir and ledger from
    accumulating one sliver per run: after 3 ingests with compaction each
    holds one file, rows identical to the uncompacted accumulation."""
    from etl_ipl_data_analysis_pipeline_spark import io as gio

    for i in range(3):
        z = make_zip(tmp_path, f"c{i}.zip", {
            f"f{i}.json": [{"id": 10 * i + j, "v": f"x{i}"} for j in range(4)],
        })
        run_ingest(spark, z, compact_after=True, **pipe_args)
    files = gio._list_data_files(spark, pipe_args["out_dir"])
    assert len(files) == 1, files
    got = sorted(
        r["id"] for r in spark.read.parquet(pipe_args["out_dir"]).collect()
    )
    assert got == sorted(10 * i + j for i in range(3) for j in range(4))
    assert len(gio._list_data_files(spark, pipe_args["ledger_path"])) == 1
    ledger = spark.read.parquet(pipe_args["ledger_path"])
    assert sorted(r.file_key for r in ledger.collect()) == ["f0", "f1", "f2"]


class _Crash(Exception):
    """The process dies here: a fault injected into one ingest run."""


def _crash_on_call(fn, n):
    """``fn``, except that its ``n``-th call raises before doing anything."""
    calls = []

    def dies(*a, **kw):
        calls.append(a)
        if len(calls) == n:
            raise _Crash(fn.__name__)
        return fn(*a, **kw)

    return dies


def _crash_after(fn):
    def dies(*a, **kw):
        fn(*a, **kw)
        raise _Crash(fn.__name__)

    return dies


def _crash_in_ledger_write(fn):
    def dies(df, *a, **kw):
        if df.sparkSession.sparkContext.getLocalProperty("spark.job.description") == "run_ingest:ledger":
            raise _Crash("ledger write")
        return fn(df, *a, **kw)

    return dies


def _crash_after_first_move(fn):
    """``_fan_out`` whose first call (a commit's moves) moves one file and dies."""
    calls = []

    def dies(move, items):
        calls.append(items)
        if len(calls) == 1:
            move(items[0])
            raise _Crash("after the first move")
        return fn(move, items)

    return dies


# (module attribute, fault, compact_after, the rerun finds the batch landed)
INGEST_FAULTS = {
    "after_expand_zip": ("pipeline.expand_zip", _crash_after, False, False),
    "staged_data_no_ledger_keys": ("pipeline.write_parquet", _crash_in_ledger_write, False, False),
    "staged_before_manifest": ("io._move", lambda f: _crash_on_call(f, 1), False, False),
    "manifest_before_moves": ("io._finish_commit", lambda f: _crash_on_call(f, 1), False, True),
    "after_first_move": ("io._fan_out", _crash_after_first_move, False, True),
    "inside_compaction": ("io._finish_commit", lambda f: _crash_on_call(f, 2), True, True),
}


@pytest.mark.parametrize("fault", list(INGEST_FAULTS))
def test_ingest_lands_exactly_once_after_a_crash(spark, tmp_path, pipe_args, monkeypatch, fault):
    """One fault per run at each step of a run: the rerun leaves exactly
    the batch's rows, each ledger key once, the quarantine rows once and
    one registry version, and a third run finds nothing to do. The rows,
    quarantine rows, registry version and ledger keys land in one commit,
    so a crash before its manifest lands nothing and one after it is
    finished by the next run's recovery."""
    import etl_ipl_data_analysis_pipeline_spark.io as gio
    import etl_ipl_data_analysis_pipeline_spark.pipeline as pl
    from etl_ipl_data_analysis_pipeline_spark.operators.schema_diff import SNAPSHOT_SCHEMA

    docs = {f"m{i}.json": [{"id": 10 * i + j, "v": f"x{i}"} for j in range(2)] for i in range(3)}
    path = make_zip(tmp_path, "b.zip", docs)
    with zipfile.ZipFile(path, "a") as zf:
        zf.writestr("broken.json", '{"id": 99, "v": ')  # truncated
    qdir = str(tmp_path / "quarantine")
    target, fault_of, compact_after, landed = INGEST_FAULTS[fault]
    owner, attr = target.split(".")

    def run():
        return run_ingest(
            spark, path, **pipe_args, json_schema="id long, v string",
            quarantine_dir=qdir, compact_after=compact_after,
        )

    with monkeypatch.context() as m:
        mod = pl if owner == "pipeline" else gio
        m.setattr(mod, attr, fault_of(getattr(mod, attr)))
        with pytest.raises(_Crash):
            run()
    rerun = run()
    assert rerun.skipped == landed
    want = sorted(r["id"] for rows in docs.values() for r in rows)
    assert sorted(r.id for r in spark.read.parquet(pipe_args["out_dir"]).collect()) == want
    keys = [r.file_key for r in spark.read.parquet(pipe_args["ledger_path"]).collect()]
    assert sorted(keys) == ["broken", "m0", "m1", "m2"]
    assert spark.read.parquet(qdir).count() == 1
    registry = spark.read.schema(SNAPSHOT_SCHEMA).parquet(pipe_args["schema_registry_path"])
    assert {r.version_id for r in registry.collect()} == {1}
    assert registry.count() == registry.select("name").distinct().count()
    assert run().skipped
