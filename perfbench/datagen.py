"""Seeded generator for the benchmark's input tables.

Builds the six Parquet tables the workloads read (``customer``,
``orders``, ``lineitem``, ``events``, ``documents``, ``embeddings``)
with the column names, Parquet physical types, row counts and value
ranges of the engine's reference test tables, so the registered
queries and their DuckDB oracles run on them unchanged. The comparison
with the reference tables is in ``perfbench/README.md``. The same
``(seed, sf)`` always gives the same rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_US_PER_DAY = 86_400_000_000


def _days(rng, start: str, n_days: int, size: int) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    us = base + rng.integers(0, n_days, size) * _US_PER_DAY
    return pa.array(us, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def _choice(rng, values, size, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), size, p=p)])


def _sizes(sf: float) -> dict[str, int]:
    """Row counts for ``sf``, as in the reference tables: TPC-H-like
    (6M lineitem rows per unit); documents and embeddings keep a floor
    of 500 rows. ``part`` and ``supplier`` are not built; their sizes
    bound ``lineitem``'s keys."""
    return {
        "customer": max(10, round(150_000 * sf)),
        "supplier": max(10, round(10_000 * sf)),
        "part": max(10, round(200_000 * sf)),
        "orders": max(10, round(1_500_000 * sf)),
        "lineitem": max(10, round(6_000_000 * sf)),
        "events": max(10, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _customer(rng, n) -> pa.Table:
    return pa.table(
        {
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n["customer"])]),
            "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": _choice(rng, _SEGMENTS, n["customer"]),
        }
    )


def _orders(rng, n) -> pa.Table:
    m = n["orders"]
    return pa.table(
        {
            "o_orderkey": np.arange(m, dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], m),
            "o_orderstatus": _choice(rng, ["F", "O", "P"], m),
            "o_totalprice": _money(rng, 1000.0, 500000.0, m),
            "o_orderdate": _days(rng, "1995-01-01", 2405, m),
            "o_orderpriority": _choice(rng, _PRIORITIES, m),
        }
    )


def _lineitem(rng, n) -> pa.Table:
    m = n["lineitem"]
    return pa.table(
        {
            "l_orderkey": rng.integers(0, n["orders"], m),
            "l_partkey": rng.integers(0, n["part"], m),
            "l_suppkey": rng.integers(0, n["supplier"], m),
            "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
            "l_quantity": rng.integers(1, 51, m).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, m),
            "l_discount": np.round(rng.uniform(0.0, 0.1, m), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, m), 2),
            "l_returnflag": _choice(rng, ["A", "N", "R"], m),
            "l_linestatus": _choice(rng, ["F", "O"], m),
            "l_shipdate": _days(rng, "1995-01-02", 2499, m),
        }
    )


def _events(rng, n) -> pa.Table:
    # microsecond times, uniform over 30 days and sorted by event_id;
    # 1.5 users per 100 events, as in the reference
    m = n["events"]
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(rng.integers(0, 30 * _US_PER_DAY, m)) + start
    return pa.table(
        {
            "event_id": np.arange(m, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, max(2, round(m * 0.015)), m),
            "event_type": _choice(rng, _EVENT_TYPES, m),
            "value": np.round(rng.exponential(50.0, m), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, m)]),
        }
    )


def _documents(rng, n) -> pa.Table:
    # 10-99 random words each; then 5% of the documents, in doc_id
    # order, become another document's text plus " dup" (so a source
    # may itself be a near-duplicate: "... dup dup")
    m = n["documents"]
    words = np.asarray(_WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 100))]) for _ in range(m)]
    for i in np.sort(rng.choice(m, m // 20, replace=False)):
        j = int(rng.integers(0, m - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    return pa.table(
        {
            "doc_id": np.arange(m, dtype=np.int64),
            "text": texts,
            "lang": _choice(rng, _LANGS, m, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(m)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )


def _embeddings(rng, n) -> pa.Table:
    m = n["embeddings"]
    vec = rng.standard_normal((m, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": np.arange(m, dtype=np.int64),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, m).astype(np.int32),
        }
    )


_BUILDERS = {
    "customer": _customer,
    "orders": _orders,
    "lineitem": _lineitem,
    "events": _events,
    "documents": _documents,
    "embeddings": _embeddings,
}
TABLES = tuple(_BUILDERS)


def build_tables(seed: int, sf: float, names=TABLES) -> dict[str, pa.Table]:
    """The tables ``names`` for ``sf``. Each table has its own random
    stream, so a table does not depend on which others are built."""
    sizes = _sizes(sf)
    return {
        name: _BUILDERS[name](np.random.default_rng([seed, TABLES.index(name)]), sizes)
        for name in names
    }


def write_tables(out_dir: str, seed: int, sf: float, names=TABLES) -> dict[str, pa.Table]:
    """Write the tables ``names`` as ``<out_dir>/<name>.parquet`` (one
    row group, Snappy, like the reference tables) and return them."""
    tables = build_tables(seed, sf, names)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return tables


def write_odk_inputs(out_dir: str, events: pa.Table, seed: int) -> tuple[str, str]:
    """The cleaning DAG's own inputs, derived from ``events``: an
    ODK-export-shaped raw form (group-path column names, string-typed
    answers) and a resolution sheet of SET and DELETE rows. Returns
    ``(raw_path, resolution_path)``."""
    rng = np.random.default_rng([seed, 1])
    eid = events.column("event_id").to_numpy()
    uid = events.column("user_id").to_numpy()
    n = len(eid)
    raw = pa.table(
        {
            "meta-instanceID": pa.array([f"uuid:{e}" for e in eid]),
            "group_hh-hhid": pa.array([f"{u:05d}" for u in uid]),
            "group_hh-village": events.column("event_type"),
            "group_geo-Latitude": np.round(-4.0 + rng.uniform(0.0, 1.0, n), 6),
            "group_geo-Longitude": np.round(39.0 + rng.uniform(0.0, 1.0, n), 6),
            "group_geo-Accuracy": events.column("value"),
            "firstname": pa.array([f"name{u}" for u in uid]),
            "unused_note": pa.nulls(n, pa.string()),
            "age": pa.array([str(a) for a in rng.integers(0, 90, n)]),
        }
    )
    # 2% of the instances get a resolution; a few name instances that
    # do not exist, and some instances get two SETs (last one wins)
    n_res = max(20, n // 50)
    ids = rng.choice(n + n // 100 + 10, n_res, replace=False)
    ops = rng.choice(["SET", "DELETE"], n_res)
    again = ids[ops == "SET"][: n_res // 10]
    ids = np.concatenate([ids, again])
    ops = np.concatenate([ops, np.full(len(again), "SET")])
    is_set = ops == "SET"
    resolution = pa.table(
        {
            "Form": pa.array(["bench"] * len(ids)),
            "instanceID": pa.array([f"uuid:{i}" for i in ids]),
            "Column": pa.array(np.where(is_set, "age", None).tolist(), pa.string()),
            "Set To": pa.array(
                [str(v) if s else None for v, s in zip(rng.integers(18, 80, len(ids)), is_set)],
                pa.string(),
            ),
            "Operation": pa.array(ops.tolist()),
            "RepeatName": pa.array([""] * len(ids)),
            "RepeatKey": pa.array(np.zeros(len(ids), dtype=np.int32)),
            "resolution_order": pa.array(np.arange(len(ids), dtype=np.int32)),
        }
    )
    raw_path = os.path.join(out_dir, "odk_raw.parquet")
    res_path = os.path.join(out_dir, "odk_resolution.parquet")
    pq.write_table(raw, raw_path)
    pq.write_table(resolution, res_path)
    return raw_path, res_path
