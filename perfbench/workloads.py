"""The three workloads. Each round is a list of timed operations; every
operation's answer is checked, and the layer each operation calls into is
recorded so the harness can attribute time to it.

- ``sql_analytics`` and ``llm_curation`` call registry queries: the timed
  operation is ``fn(spark, sf_dir)`` (layer ``plans.build``) then the noop
  sink on the returned frame (``plans.exec``). After the first round, each
  answer is collected, untimed, and compared with its DuckDB oracle.
- ``ipl_etl`` calls ``pipeline.run_ingest`` and the ``snapshot_*`` functions
  directly, and checks every read against ``cricsheet.TableModel``.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass, field

from perfbench import cricsheet

SQL_ANALYTICS = (
    "q1_pricing_summary",
    "q3_top_revenue",
    "q5_region_revenue",
    "asof_join_events",
    "flatten_json_props",
)
LLM_CURATION = (
    "embedding_quantize_int8",
    "multimodal_decode_gif",
    "nb_lang_confusion",
)
TABLES_SF = 0.01
TABLES_SEED = 42

# ipl_etl sizing: one backfill archive of T20 matches, then one over of a
# republished match corrected by MERGE, one match deleted copy-on-write and
# one by merge-on-read equality delete.
IPL_MATCHES = 4
IPL_OVERS = 20


@dataclass
class Op:
    name: str
    layer: str  # "plans", "pipeline" or "snapshots"
    seconds: float = 0.0
    ok: bool = True
    error: str | None = None
    parts: dict = field(default_factory=dict)  # sub-layer seconds, e.g. plans.build
    counters: dict = field(default_factory=dict)
    is_write: bool = False
    trace_s: float = 0.0  # time tracing added around the operation


class Timer:
    """Times one operation; with a probe attached, also reads the Spark
    counters the operation caused."""

    def __init__(self, probe=None):
        self.probe = probe

    def run(self, op: Op, fn, *args):
        t_mark = time.perf_counter()
        mark = self.probe.start() if self.probe else None
        t0 = time.perf_counter()
        try:
            out = fn(*args)
        except Exception as e:  # an operation that raises counts as failed
            op.seconds = time.perf_counter() - t0
            op.ok, op.error = False, f"{type(e).__name__}: {str(e)[:300]}"
            out = None
        else:
            op.seconds = time.perf_counter() - t0
        if self.probe:
            t1 = time.perf_counter()
            op.counters.update(self.probe.stop(mark, op.seconds))
            op.trace_s += t0 - t_mark + time.perf_counter() - t1
        return out


# --------------------------------------------------------------------------
# query workloads
# --------------------------------------------------------------------------


class QueryWorkload:
    def __init__(self, names: tuple[str, ...]):
        self.names = names
        self.wrong: set[str] = set()

    def prepare(self, ctx) -> None:
        from perfbench import tables

        key = f"sf{TABLES_SF}-seed{TABLES_SEED}"
        self.sf_dir = os.path.join(ctx.cache_dir, key)
        if not os.path.exists(os.path.join(self.sf_dir, "_DONE")):
            shutil.rmtree(self.sf_dir, ignore_errors=True)
            tables.generate(self.sf_dir, TABLES_SEED, TABLES_SF)
            open(os.path.join(self.sf_dir, "_DONE"), "w").close()
        self.registry = ctx.registry
        missing = [n for n in self.names if self.registry[n].oracle is None]
        if missing:
            raise ValueError(f"workload operations need an oracle: {missing}")
        self.expected = tables.oracle_answers(
            self.sf_dir, {n: self.registry[n].oracle for n in self.names}
        )

    def check(self, ctx, ops: list[Op]) -> None:
        """Correctness gate, untimed, once per run: collect each answer and
        compare it with its DuckDB oracle. A wrong or failing operation is
        marked failed here and in every later round."""
        from perfbench import tables

        for op in ops:
            if op.name in self.wrong or not op.ok:
                self.wrong.add(op.name)
                op.ok = False
                continue
            try:
                df = self.registry[op.name].fn(ctx.spark, self.sf_dir)
                got = tables.spark_answer(df.collect(), df.columns)
            except Exception as e:  # a failing gate is a failed operation
                got = f"{type(e).__name__}: {e}"
            if got != self.expected[op.name]:
                self.wrong.add(op.name)
                op.ok, op.error = False, "answer differs from the DuckDB oracle"

    def round(self, ctx, timer: Timer, rng: random.Random | None) -> list[Op]:
        """Runs every operation once: in listed order when ``rng`` is None
        (the fresh-session round, where the first operation also pays the
        session's first-job costs), else in an order ``rng`` permutes."""
        from perfbench.probe import plan_counts

        order = list(self.names)
        if rng is not None:
            rng.shuffle(order)
        ops = []
        for name in order:
            op = Op(name, "plans")
            df = timer.run(op, self._build_and_sink, name, op, ctx)
            if ctx.trace and df is not None:
                t0 = time.perf_counter()
                op.counters.update(plan_counts(df))
                op.trace_s += time.perf_counter() - t0
            if name in self.wrong:
                op.ok, op.error = False, "answer differed from the oracle in this run"
            ops.append(op)
        return ops

    def _build_and_sink(self, name: str, op: Op, ctx):
        t0 = time.perf_counter()
        df = self.registry[name].fn(ctx.spark, self.sf_dir)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        op.parts = {"plans.build": t1 - t0, "plans.exec": t2 - t1}
        return df


# --------------------------------------------------------------------------
# ipl_etl
# --------------------------------------------------------------------------


class IplWorkload:
    """A round is one daily job: land an archive, load it into a
    season-partitioned table, correct it, delete from it, maintain it and
    read it back, checking every read against the model."""

    def prepare(self, ctx) -> None:
        rng = random.Random(ctx.seed)
        self.matches = cricsheet.make_matches(ctx.seed, IPL_MATCHES, overs=IPL_OVERS)
        self.republished, self.cow_deleted, self.mor_deleted = rng.sample(self.matches, 3)
        self.scan_season = self.republished["info"]["season"]
        self.input_dir = os.path.join(ctx.run_dir, "inputs")
        os.makedirs(self.input_dir)
        self.backfill_zip = os.path.join(self.input_dir, "backfill.zip")
        cricsheet.write_zip(self.backfill_zip, self.matches)
        self.corrected_rows, _ = cricsheet.match_stats(self.republished, over=0, innings_idx=0)
        self.round_no = 0

    def check(self, ctx, ops: list[Op]) -> None:
        """Every read in ``round`` is already checked against the model."""

    def round(self, ctx, timer: Timer, rng: random.Random | None) -> list[Op]:
        import pyspark.sql.functions as F

        from etl_ipl_data_analysis_pipeline_spark import snapshots as sn
        from etl_ipl_data_analysis_pipeline_spark.pipeline import run_ingest

        spark = ctx.spark
        self.round_no += 1
        d = os.path.join(ctx.run_dir, f"round_{self.round_no}")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        paths = {k: os.path.join(d, k) for k in ("landing", "out", "ledger", "schemas", "table")}
        table = paths["table"]
        ops: list[Op] = []
        model = cricsheet.TableModel()
        io = IoWatch(paths) if ctx.trace else None

        def watch_io(op: Op) -> None:
            if io:
                t0 = time.perf_counter()
                io.scan()
                op.trace_s += time.perf_counter() - t0
        self.last_round = {"paths": paths, "io": io}

        def ingest(kind: str, archive: str, expect_rows: int | None):
            op = Op(f"ingest.{kind}", "pipeline", is_write=True)
            res = timer.run(
                op, run_ingest, spark, archive, paths["landing"], paths["out"],
                paths["ledger"], paths["schemas"], cricsheet.JSON_SCHEMA,
            )
            if op.ok:
                if expect_rows is None and not res.skipped:
                    op.ok, op.error = False, "replay ingested files again"
                elif expect_rows is not None and res.rows_written != expect_rows:
                    op.ok, op.error = False, f"rows {res.rows_written} != model {expect_rows}"
                op.counters["rows"] = res.rows_written
            watch_io(op)
            ops.append(op)

        def write(name: str, fn, *args):
            op = Op(f"snap.{name}", "snapshots", is_write=True)
            out = timer.run(op, fn, *args)
            watch_io(op)
            ops.append(op)
            return out

        def check_read(name: str, frame_fn, expect):
            op = Op(f"snap.{name}", "snapshots")
            got = timer.run(op, lambda: frame_fn().collect())
            if op.ok:
                rows = [tuple(r) for r in got]
                if rows != expect:
                    op.ok, op.error = False, f"{name}: got {rows}, model {expect}"
            ops.append(op)

        def agg(df):
            return df.agg(F.count(F.lit(1)).alias("n"), F.sum(cricsheet.RUNS_COL).alias("runs"))

        ingest("backfill", self.backfill_zip, sum(cricsheet.match_stats(m)[0] for m in self.matches))
        ingest("replay", self.backfill_zip, None)
        v = write(
            "commit", lambda: sn.snapshot_commit(
                spark.read.parquet(paths["out"]).withColumn("row_id", F.monotonically_increasing_id()),
                table, partition_by=[cricsheet.SEASON_COL],
            ),
        )
        versions = [v]
        model.append(v, self.matches)

        m = self.republished
        first_team = m["innings"][0]["team"]
        updates = lambda: (  # noqa: E731
            sn.snapshot_read(spark, table)
            .filter(
                (F.col(cricsheet.SEASON_COL) == m["info"]["season"])
                & (F.col(cricsheet.MATCH_COL) == m["info"]["event"]["match_number"])
                & (F.col(cricsheet.INNINGS_TEAM_COL) == first_team)
                & (F.col(cricsheet.OVER_COL) == 0)
            )
            .withColumn(cricsheet.RUNS_COL, F.col(cricsheet.RUNS_COL) + 1)
        )
        v = write("merge", lambda: sn.snapshot_merge(updates(), table, ["row_id"]))
        versions.append(v)
        model.add_runs(v, m, self.corrected_rows, 1)

        m = self.cow_deleted
        v = write(
            "delete", sn.snapshot_delete, spark, table,
            (F.col(cricsheet.SEASON_COL) == m["info"]["season"])
            & (F.col(cricsheet.MATCH_COL) == m["info"]["event"]["match_number"]),
        )
        versions.append(v)
        model.drop(v, m)

        m = self.mor_deleted
        keys = spark.createDataFrame(
            [(m["info"]["season"], m["info"]["event"]["match_number"])],
            f"{cricsheet.SEASON_COL} string, {cricsheet.MATCH_COL} long",
        )
        v = write("delete_keys", sn.snapshot_delete_keys, keys, table)
        versions.append(v)
        model.drop(v, m)

        v = write("compact", sn.snapshot_compact, spark, table)
        versions.append(v)
        model.commit(v)

        for ver in versions:
            check_read("read", lambda ver=ver: agg(sn.snapshot_read(spark, table, version=ver)), [model.totals(ver)])
        season = self.scan_season
        check_read(
            "scan",
            lambda: agg(sn.snapshot_scan(spark, table, filter=F.col(cricsheet.SEASON_COL) == season)),
            [model.totals(versions[-1], season)],
        )
        deleted = sum(
            cricsheet.match_stats(x)[0] for x in (self.cow_deleted, self.mor_deleted)
        )
        check_read(
            "changes",
            lambda: sn.snapshot_changes(spark, table, versions[0], versions[-1])
            .groupBy("_change_type").count().orderBy("_change_type"),
            [("delete", deleted + self.corrected_rows), ("insert", self.corrected_rows)],
        )
        if ctx.trace:  # untimed: what the scan pruned, before expire drops versions
            scanned = sn.snapshot_scan(spark, table, filter=F.col(cricsheet.SEASON_COL) == season)
            self.last_round["scan_files"] = (len(scanned.inputFiles()), len(sn.snapshot_read(spark, table).inputFiles()))
        op_expire = len(ops)
        removed = write("expire", sn.snapshot_expire, spark, table, 2, 0.0)
        if ops[op_expire].ok and removed[0] != len(versions) - 2:
            ops[op_expire].ok = False
            ops[op_expire].error = f"expire removed {removed[0]} versions, expected {len(versions) - 2}"
        if ctx.trace:
            self.last_round["head_files"] = sn.snapshot_read(spark, table).inputFiles()
        return ops


class IoWatch:
    """Files and bytes that appeared under named directories, by polling
    after each writing operation."""

    def __init__(self, roots: dict[str, str]) -> None:
        self.roots = roots
        self.seen: set[str] = set()
        self.files = 0
        self.bytes: dict[str, int] = dict.fromkeys(roots, 0)

    def scan(self) -> None:
        for name, root in self.roots.items():
            for path, size in walk_sizes([root]).items():
                if path not in self.seen:
                    self.seen.add(path)
                    self.files += 1
                    self.bytes[name] += size


def walk_sizes(roots) -> dict[str, int]:
    out = {}
    for root in roots:
        for dirpath, _, files in os.walk(root):
            for f in files:
                p = os.path.join(dirpath, f)
                try:
                    out[p] = os.path.getsize(p)
                except OSError:
                    pass
    return out


WORKLOADS = {
    "sql_analytics": lambda: QueryWorkload(SQL_ANALYTICS),
    "llm_curation": lambda: QueryWorkload(LLM_CURATION),
    "ipl_etl": IplWorkload,
}
