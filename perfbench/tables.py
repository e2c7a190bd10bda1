"""Seeded generator for the query workloads' input tables, plus their
DuckDB oracle answers.

Writes the ten tables the registry reads (TPC-H-shaped star schema, an
``events`` stream, a text ``documents`` corpus and an ``embeddings`` table)
as one parquet file each, with the column types and value domains of the
repository's fixtures (FIXTURES.md). Row counts follow the fixtures' scale
factor: ``sf=0.01`` gives 60k lineitem rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

_VOCAB = (
    "a the data table row column key value join agg scan filter sort hash group "
    "window query spark stream batch merge order line part customer vector "
    "small big fast slow"
).split()
_LANGS = ("en", "zh", "es", "de", "fr")
_LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
_DIM = 64


def _ts(days: np.ndarray, base: str) -> pa.Array:
    us = (np.datetime64(base, "us") + (days * 86_400_000_000).astype("timedelta64[us]"))
    return pa.array(us, type=pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def generate(out_dir: str, seed: int, sf: float) -> None:
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_orders, n_events, n_docs, n_emb = int(1_500_000 * sf), int(1_000_000 * sf), 500, 500

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"], n_cust
        ),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    adjectives = ["small", "red", "blue", "hot", "old", "large", "green", "cold"]
    nouns = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "spring"]
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{adjectives[a]} {nouns[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"], n_part),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": retail,
    })

    order_days = rng.integers(0, 2404, n_orders)
    lines_per_order = rng.integers(1, 8, n_orders)
    n_lines = int(lines_per_order.sum())
    l_order = np.repeat(np.arange(n_orders, dtype=np.int64), lines_per_order)
    l_linenumber = (np.arange(n_lines) - np.repeat(np.cumsum(lines_per_order) - lines_per_order, lines_per_order) + 1)
    l_part = rng.integers(0, n_part, n_lines)
    l_qty = rng.integers(1, 51, n_lines).astype(np.float64)
    l_price = np.round(l_qty * retail[l_part] * rng.uniform(0.98, 1.02, n_lines), 2)
    l_ship_days = order_days[l_order] + rng.integers(1, 91, n_lines)
    cutoff = 1800  # ship dates after this day are still open
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": rng.choice(["P", "F", "O"], n_orders),
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_orders), 2),
        "o_orderdate": _ts(order_days, "1995-01-01"),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders
        ),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": l_order,
        "l_partkey": l_part.astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_lines).astype(np.int64),
        "l_linenumber": l_linenumber.astype(np.int32),
        "l_quantity": l_qty,
        "l_extendedprice": l_price,
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_lines),
        "l_linestatus": np.where(l_ship_days > cutoff, "O", "F"),
        "l_shipdate": _ts(l_ship_days, "1995-01-01"),
    })

    ev_seconds = np.sort(rng.uniform(0, 30 * 86_400, n_events))
    _write(out_dir, "events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(
            np.datetime64("2024-01-01", "us") + (ev_seconds * 1e6).astype("timedelta64[us]"),
            type=pa.timestamp("us"),
        ),
        "user_id": rng.integers(0, max(n_events // 66, 10), n_events).astype(np.int64),
        "event_type": rng.choice(["error", "click", "view", "signup", "purchase"], n_events),
        "value": np.round(rng.exponential(30.0, n_events) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })

    # Each language prefers its own slice of the vocabulary, so language
    # and source statistics differ; every twentieth document is a near-copy
    # of an earlier one tagged "dup".
    langs = rng.choice(len(_LANGS), n_docs, p=_LANG_P)
    weights = []
    for li in range(len(_LANGS)):
        w = np.ones(len(_VOCAB))
        w[rng.choice(len(_VOCAB), 6, replace=False)] += 1.5
        weights.append(w / w.sum())
    texts: list[str] = []
    for i in range(n_docs):
        if i % 20 == 8 and i > 20:
            base = texts[int(rng.integers(0, i))].split()
            texts.append(" ".join(base[: max(len(base) - 1, 1)] + ["dup"]))
            continue
        n_tok = int(rng.integers(10, 100))
        texts.append(" ".join(np.array(_VOCAB)[rng.choice(len(_VOCAB), n_tok, p=weights[langs[i]])]))
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [_LANGS[li] for li in langs],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, _DIM))
    vecs = centers[labels] * 0.15 + rng.normal(0, 1, (n_emb, _DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })


def oracle_answers(sf_dir: str, oracles: dict[str, str]) -> dict[str, tuple]:
    """(row count, sorted column names, value hash) of each oracle query on
    DuckDB, hashed with the repository's own ``value_hash``."""
    import duckdb

    from scripts.verify_local import value_hash

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, t)}.parquet')"
            )
        out = {}
        for name, sql in oracles.items():
            res = con.execute(sql)
            rows = res.fetchall()
            cols = [d[0] for d in res.description]
            out[name] = (len(rows), sorted(cols), value_hash(rows, cols))
        return out
    finally:
        con.close()


def spark_answer(rows, cols) -> tuple:
    from scripts.verify_local import value_hash

    return (len(rows), sorted(cols), value_hash([tuple(r) for r in rows], cols))
