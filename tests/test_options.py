"""Every option has a caller.

A defaulted parameter of a package function is an option. This gate parses
the package and its callers with ``ast`` (it imports nothing) and fails when
an option is passed by no caller outside ``tests/``: such an option selects
values, or whole branches, that only a test runs. Make it a constant, work it
out from the input, or list it in ``ALLOWED`` with one of the reasons below.

Column bindings are exempt by name (``*_col``, ``*_cols``, ``key_cols``,
``u``/``v``, ``id_a``/``id_b``): they bind an operator to its caller's
schema, the way a path binds it to storage.

A call passes a parameter when it names it as a keyword, passes at least as
many positional arguments as its position needs, or forwards ``*args`` /
``**kwargs`` (which cannot be told apart statically). Callees are matched by
name, following ``from m import f as g`` aliases, so a call to any function
of that name counts; ``functools.partial(f, ...)`` counts as a call of ``f``.
"""

from __future__ import annotations

import ast
from functools import cache
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "etl_ipl_data_analysis_pipeline_spark"
CALLERS = [PKG, ROOT / "scripts", ROOT / "perfbench", ROOT / "bench.py", ROOT / "__spark_entry__.py"]

REASONS = ("safety", "deployment", "test seam", "table-format entry", "scale fallback")

# "<module>.<function>.<param>" -> "<reason>: <why>"
ALLOWED = {
    "session.get_spark.extra_conf": "deployment: confs of the session a caller builds",
    "session.cluster_conf.executor_mem_gb": "deployment: executor memory of the target cluster",
    "io.write_bucketed.path": "deployment: storage location of an external bucketed table",
    "io.retry.sleep": "test seam: the backoff sleep, replaced so a test does not wait",
    "pipeline.run_ingest.on_drift": "safety: block or quarantine a batch whose schema drifted",
    "pipeline.run_ingest.quarantine_dir": "safety: where unparseable members are set aside",
    "pipeline.run_ingest.compact_after": "table-format entry: an ingest run's way into compact_table's commit",
    "snapshots.snapshot_read.as_of_ts": "table-format entry: time travel by commit time",
    "snapshots.snapshot_row_count.version": "table-format entry: time travel by version",
    "snapshots.snapshot_compact.target_mb": "table-format entry: the file size a compaction writes",
    "snapshots.snapshot_optimize.cluster_method": "table-format entry: range or Z-order clustering",
    "snapshots.snapshot_optimize.cluster_tiebreak": "table-format entry: the Z-order tiebreak column",
    "snapshots.snapshot_optimize.target_files": "table-format entry: the file count a clustering writes",
    "snapshots.snapshot_expire.dry_run": "safety: list what expiry would delete without deleting it",
    "streaming.cdc.run_snapshot_cdc_stream.checkpoint": "deployment: the stream's checkpoint location",
    "operators.incremental.upsert.broadcast_updates": "scale fallback: shuffle join once the updates outgrow a broadcast",
    "operators.profile.grouped_exact_quantiles.broadcast_groups": "scale fallback: distributed offsets once the groups outgrow a collect",
    "operators.graphs.two_hop_reach.max_degree": "scale fallback: bar hubs as the middle hop",
    "operators.multimodal.jpeg_encode_gray.restart_every": "test seam: the only source of restart-marker streams for the decoder",
}


@cache
def _tree(path: Path) -> ast.Module:
    return ast.parse(path.read_text())


def _files(paths):
    for p in paths:
        yield from ([p] if p.is_file() else sorted(p.rglob("*.py")))


def _is_column_binding(name: str) -> bool:
    return name.endswith(("_col", "_cols")) or name in ("key_cols", "u", "v", "id_a", "id_b")


def _options():
    """(key, function name, param, positional index or None, is method)
    for every defaulted parameter of every package function."""
    out = []
    for path in _files([PKG]):
        module = ".".join(path.relative_to(PKG).with_suffix("").parts)
        module = module.removesuffix(".__init__")

        def walk(stmts, qual, in_class):
            # a def is a statement, so only statement bodies are searched
            for st in stmts:
                if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    a = st.args
                    pos = a.posonlyargs + a.args
                    first = len(pos) - len(a.defaults)
                    params = [(arg.arg, first + i) for i, arg in enumerate(pos[first:])]
                    params += [(arg.arg, None) for arg, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
                    for name, idx in params:
                        key = ".".join([module, *qual, st.name, name])
                        out.append((key, st.name, name, idx, in_class))
                    walk(st.body, [*qual, st.name], False)
                elif isinstance(st, ast.ClassDef):
                    walk(st.body, [*qual, st.name], True)
                else:
                    for block in ("body", "orelse", "finalbody"):
                        walk(getattr(st, block, []), qual, in_class)
                    for handler in getattr(st, "handlers", []):
                        walk(handler.body, qual, in_class)

        walk(_tree(path).body, [], False)
    return out


def _calls(names):
    """function name -> [(keywords, n positional, forwards *args/**kwargs)]
    over every call of one of ``names`` outside tests/."""
    calls: dict[str, list] = {}

    def name_of(func, alias):
        if isinstance(func, ast.Name):
            return alias.get(func.id, func.id)
        return func.attr if isinstance(func, ast.Attribute) else None

    for path in _files(CALLERS):
        alias, found = {}, []
        for n in ast.walk(_tree(path)):
            if isinstance(n, ast.ImportFrom):
                alias.update((a.asname, a.name) for a in n.names if a.asname)
            elif isinstance(n, ast.Call):
                found.append(n)
        for n in found:
            name, npos = name_of(n.func, alias), len(n.args)
            if name == "partial" and n.args:
                name, npos = name_of(n.args[0], alias), npos - 1
            if name not in names:
                continue
            kws = {k.arg for k in n.keywords if k.arg}
            star = any(k.arg is None for k in n.keywords) or any(
                isinstance(a, ast.Starred) for a in n.args
            )
            calls.setdefault(name, []).append((kws, npos, star))
    return calls


@cache
def _passed():
    options = _options()
    calls = _calls({fn for _, fn, _, _, _ in options})
    out = {}
    for key, fn, param, idx, method in options:
        passed = any(
            param in kws or star or (idx is not None and npos + method > idx)
            for kws, npos, star in calls.get(fn, [])
        )
        out[key] = passed
    return out


def test_every_option_has_a_caller():
    passed = _passed()
    missing = sorted(
        key
        for key, ok in passed.items()
        if not ok and not _is_column_binding(key.rsplit(".", 1)[1]) and key not in ALLOWED
    )
    assert not missing, (
        "options no caller outside tests/ passes; make each a constant, "
        "derive it from the input, or allow-list it with a reason:\n  "
        + "\n  ".join(missing)
    )


def test_allow_list_is_current():
    passed = _passed()
    stale = sorted(key for key in ALLOWED if passed.get(key, True))
    assert not stale, (
        "allow-listed options that no longer exist or now have a caller:\n  "
        + "\n  ".join(stale)
    )
    bad = sorted(k for k, why in ALLOWED.items() if why.split(":", 1)[0] not in REASONS)
    assert not bad, f"allow-list reasons must start with one of {REASONS}: {bad}"
