"""Seeded source tables for the benchmark workloads.

Writes ``<out_dir>/<table>.parquet`` for the ten source tables the
library reads (schemas as in FIXTURES.md §B): region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings.  Row
counts are the sf0.001 shapes; the same seed gives the same files.  The
orders star is also available as a seeded ×k replica
(:func:`replicate_orders`), which keeps the lineitem→orders fan-out at
exactly 1:4 and grows the customer dimension with the copies.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE_ROWS = {"customer": 150, "supplier": 10, "part": 200, "orders": 1500,
             "events": 1000, "documents": 500, "embeddings": 500}
LINES_PER_ORDER = 4
USERS_PER_1000_EVENTS = 15

ORDERS_START = dt.datetime(1995, 1, 1)
ORDERS_DAYS = 2404                    # order dates 1995-01-01 .. 2001-08-01
EVENTS_START = dt.datetime(2024, 1, 1)
EVENTS_DAYS = 30

STATUSES = ["O", "P", "F"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURN_FLAGS = ["R", "A", "N"]
LINE_STATUSES = ["O", "F"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
LANGS, LANG_P = ["en", "de", "fr", "es", "zh"], [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = ("the a fast slow big small key order sort table scan merge part "
         "window hash join batch stream spark group query row data filter "
         "customer line value agg column vector").split()
PART_ADJ = ["cold", "small", "large", "shiny", "red", "blue", "green", "old"]
PART_NOUN = ["widget", "gadget", "bolt", "gear", "valve", "spring"]
PART_TYPES = ["ECONOMY", "STANDARD", "PROMO", "LARGE", "SMALL"]
EMBED_DIM, EMBED_CLUSTERS = 64, 10


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(start, offsets):
    base = np.datetime64(start, "us")
    return base + offsets.astype("timedelta64[D]").astype("timedelta64[us]")


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def generate(out_dir: str, seed: int) -> None:
    """Write all ten source tables at the sf0.001 row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = BASE_ROWS

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"])})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"])})
    _write(out_dir, "part", {
        "p_partkey": np.arange(n["part"], dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n["part"]),
                                              rng.choice(PART_NOUN, n["part"]))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(PART_TYPES, n["part"]),
        "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
        "p_retailprice": np.round(900 + np.arange(n["part"]) * 0.1 % 1100, 2)})

    no = n["orders"]
    order_day = rng.integers(0, ORDERS_DAYS, no)
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], no),
        "o_orderstatus": rng.choice(STATUSES, no),
        "o_totalprice": _money(rng, 1000, 500000, no),
        "o_orderdate": _days(ORDERS_START, order_day),
        "o_orderpriority": rng.choice(PRIORITIES, no)})
    nl = no * LINES_PER_ORDER
    qty = rng.integers(1, 51, nl).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": np.repeat(np.arange(no, dtype=np.int64), LINES_PER_ORDER),
        "l_partkey": rng.integers(0, n["part"], nl),
        "l_suppkey": rng.integers(0, n["supplier"], nl),
        "l_linenumber": np.tile(np.arange(1, LINES_PER_ORDER + 1,
                                          dtype=np.int32), no),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100, 2),
        "l_returnflag": rng.choice(RETURN_FLAGS, nl),
        "l_linestatus": rng.choice(LINE_STATUSES, nl),
        "l_shipdate": _days(ORDERS_START, np.repeat(order_day, LINES_PER_ORDER)
                            + rng.integers(1, 122, nl))})

    ne = n["events"]
    span_us = EVENTS_DAYS * 86400 * 10**6
    ts = np.sort(rng.integers(0, span_us, ne))
    _write(out_dir, "events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": np.datetime64(EVENTS_START, "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, USERS_PER_1000_EVENTS * ne // 1000, ne),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": _money(rng, 0, 200, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})

    nd = n["documents"]
    texts = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:
            # a near-duplicate of an earlier document: one word swapped
            words = texts[rng.integers(0, i)].split()
            words[rng.integers(0, len(words))] = str(rng.choice(WORDS))
        else:
            words = list(rng.choice(WORDS, rng.integers(20, 80)))
        texts.append(" ".join(words))
    _write(out_dir, "documents", {
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P),
        "source": [f"src{s}" for s in rng.integers(0, 20, nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    nv = n["embeddings"]
    centroids = rng.normal(size=(EMBED_CLUSTERS, EMBED_DIM))
    label = rng.integers(0, EMBED_CLUSTERS, nv)
    vec = centroids[label] + 0.6 * rng.normal(size=(nv, EMBED_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": label.astype(np.int32)})


def replicate_orders(base_dir: str, out_dir: str, copies: int,
                     seed: int, max_shift_days: int = 60) -> dict[str, int]:
    """Write a ×``copies`` replica of the orders star (orders, lineitem,
    customer) from ``base_dir`` into ``out_dir``.

    Copy ``c`` offsets every order and customer key by ``c`` × (base key
    span), so keys stay unique, each lineitem still joins exactly one
    order, and the customer dimension grows with the copies.  Each copy
    after the first shifts its dates by a seeded whole number of days.
    Raises ``ValueError`` when the result's row counts or key uniqueness
    are off; returns the row counts."""
    rng = np.random.default_rng(seed)
    shifts = [0] + [int(s) for s in rng.integers(-max_shift_days,
                                                 max_shift_days + 1,
                                                 copies - 1)]
    base = {t: pq.read_table(os.path.join(base_dir, f"{t}.parquet"))
            for t in ("orders", "lineitem", "customer")}
    o_span = pc.max(base["orders"]["o_orderkey"]).as_py() + 1
    c_span = pc.max(base["customer"]["c_custkey"]).as_py() + 1

    def shifted(tbl, offsets: dict, dates: list, copy: int):
        for col, span in offsets.items():
            i = tbl.schema.get_field_index(col)
            tbl = tbl.set_column(i, col, pc.add(tbl[col], copy * span))
        for col in dates:
            i = tbl.schema.get_field_index(col)
            moved = pc.add(tbl[col], pa.scalar(dt.timedelta(days=shifts[copy])))
            tbl = tbl.set_column(i, col, moved)
        return tbl

    layout = {
        "orders": ({"o_orderkey": o_span, "o_custkey": c_span}, ["o_orderdate"]),
        "lineitem": ({"l_orderkey": o_span}, ["l_shipdate"]),
        "customer": ({"c_custkey": c_span}, []),
    }
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, (offsets, dates) in layout.items():
        out = pa.concat_tables([shifted(base[name], offsets, dates, c)
                                for c in range(copies)])
        counts[name] = out.num_rows
        if out.num_rows != copies * base[name].num_rows:
            raise ValueError(f"replica {name}: {out.num_rows} rows")
        pq.write_table(out, os.path.join(out_dir, f"{name}.parquet"))
    _check_replica(out_dir, counts)
    return counts


def _check_replica(out_dir: str, counts: dict[str, int]) -> None:
    import duckdb

    con = duckdb.connect()
    try:
        p = lambda t: f"read_parquet('{os.path.join(out_dir, t)}.parquet')"  # noqa: E731
        checks = {
            "orders key unique": f"SELECT count(DISTINCT o_orderkey) FROM {p('orders')}",
            "customer key unique": f"SELECT count(DISTINCT c_custkey) FROM {p('customer')}",
            "lineitem key unique": "SELECT count(*) FROM (SELECT DISTINCT "
                                   f"l_orderkey, l_linenumber FROM {p('lineitem')})",
            "lineitem joins one order": f"SELECT count(*) FROM {p('lineitem')} l "
                                        f"JOIN {p('orders')} o ON l.l_orderkey = o.o_orderkey",
        }
        want = {"orders key unique": counts["orders"],
                "customer key unique": counts["customer"],
                "lineitem key unique": counts["lineitem"],
                "lineitem joins one order": counts["lineitem"]}
        for name, sql in checks.items():
            got = con.execute(sql).fetchone()[0]
            if got != want[name]:
                raise ValueError(f"replica check {name!r}: {got} != {want[name]}")
    finally:
        con.close()
