"""Seeded TPC-H-shaped inputs for the benchmark.

Writes the tables ``sources.tpch_graph`` reads (region, nation, customer,
supplier, part, orders, lineitem) plus a ``documents`` corpus, as parquet,
from nothing but a seed. The same seed gives byte-identical tables. Sizes
follow TPC-H's ratios at a scale set by ``n_orders`` (TPC-H sf1 has 1.5M
orders): parts = orders·2/15, suppliers = orders/150, 1–7 line items per
order, and one customer in three never orders. Customers are orders/5
rather than TPC-H's orders/10, so each ordering customer's NEXT_ORDER chain
is about 7.5 orders long instead of 15: chain length sets the number of
rounds the iterative analytics run, and the shorter chains keep one
analytics pass within the benchmark's time budget.

The documents mix four marker-word languages, exact duplicates and
near-duplicates (a shared paragraph) so every funnel stage and the
exact-substring pass has work to do.

The shape of the inputs is the same for every seed: how many orders each
ordering customer places, how many line items each order has, and each
document's language, length and whether it is a duplicate or carries the
shared paragraph all come from a generator with a fixed seed. The iterative
analytics run as many rounds as the longest chain asks for, so a seed that
drew one longer chain would cost a run more work. ``--seed`` picks which
customer gets which chain, the dates, keys, parts and words.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_1992_US = 694224000 * 1_000_000  # 1992-01-01T00:00:00Z in microseconds
DAYS = 2405  # 1992-01-01 .. 1998-08-02, the TPC-H order-date span

WORDS = (
    "spark table column row value key join hash sort merge scan filter "
    "group window query order part line stream batch data vector agg big "
    "small fast slow customer supplier region nation market price ship "
    "graph node edge label path chain rank cluster token piece corpus"
).split()
MARKERS = {
    "en": ("the", "and", "of", "is"),
    "de": ("der", "die", "und", "nicht"),
    "fr": ("le", "la", "et", "les"),
    "es": ("el", "los", "que", "por"),
}
LANGS = ("en", "en", "en", "de", "fr", "es")
SHAPE_SEED = 7919


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def tpch_tables(out_dir: str, seed: int, n_orders: int) -> dict:
    """Write the seven TPC-H tables; return their row counts."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(30, n_orders // 5)
    n_part = max(20, n_orders * 2 // 15)
    n_supp = max(10, n_orders // 150)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": [f"REGION{i}" for i in range(5)]})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})

    custkey = np.arange(1, n_cust + 1, dtype=np.int64)
    _write(out_dir, "customer", {
        "c_custkey": custkey,
        "c_name": [f"Customer#{k:09d}" for k in custkey],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            n_cust)})
    suppkey = np.arange(1, n_supp + 1, dtype=np.int64)
    _write(out_dir, "supplier", {
        "s_suppkey": suppkey,
        "s_name": [f"Supplier#{k:09d}" for k in suppkey],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    partkey = np.arange(1, n_part + 1, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": partkey,
        "p_name": [f"part {k}" for k in partkey],
        "p_brand": [f"Brand#{b}" for b in rng.integers(11, 56, n_part)],
        "p_type": rng.choice(["STANDARD", "SMALL", "MEDIUM", "LARGE"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(rng.uniform(900, 2100, n_part), 2)})

    # TPC-H: a third of the customers (custkey % 3 == 0) place no orders
    ordering = custkey[custkey % 3 != 0]
    orderkey = np.arange(1, n_orders + 1, dtype=np.int64)
    shape = np.random.default_rng([SHAPE_SEED, n_orders])
    per_cust = shape.multinomial(n_orders, np.full(len(ordering),
                                                   1 / len(ordering)))
    o_cust = rng.permutation(np.repeat(ordering, rng.permutation(per_cust)))
    o_date = EPOCH_1992_US + rng.integers(0, DAYS, n_orders) * 86_400_000_000
    _write(out_dir, "orders", {
        "o_orderkey": orderkey,
        "o_custkey": o_cust,
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": np.round(rng.uniform(850, 550000, n_orders), 2),
        "o_orderdate": pa.array(o_date, pa.timestamp("us")),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n_orders)})

    lines = rng.permutation(shape.integers(1, 8, n_orders))
    n_li = int(lines.sum())
    l_order = np.repeat(orderkey, lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_num = (np.arange(n_li) - starts + 1).astype(np.int32)
    l_ship = np.repeat(o_date, lines) + rng.integers(1, 122, n_li) * 86_400_000_000
    _write(out_dir, "lineitem", {
        "l_orderkey": l_order,
        "l_partkey": rng.integers(1, n_part + 1, n_li).astype(np.int64),
        "l_suppkey": rng.integers(1, n_supp + 1, n_li).astype(np.int64),
        "l_linenumber": l_num,
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": pa.array(l_ship, pa.timestamp("us"))})
    return {"customer": n_cust, "supplier": n_supp, "part": n_part,
            "orders": n_orders, "lineitem": n_li}


def documents(out_dir: str, seed: int, n_docs: int) -> int:
    """Write ``documents(doc_id, text, lang, source, n_chars)``."""
    rng = np.random.default_rng([seed, 2])
    shape = np.random.default_rng([SHAPE_SEED, n_docs])
    shared = " ".join(rng.choice(WORDS, 40))  # the near-duplicate paragraph
    texts, langs = [], []
    for i in range(n_docs):
        lang = LANGS[int(shape.integers(0, len(LANGS)))]
        if i >= 10 and shape.random() < 0.08:
            # exact duplicate of an earlier document
            j = int(shape.integers(0, i))
            texts.append(texts[j])
            langs.append(langs[j])
            continue
        n = int(shape.integers(25, 90))
        body = rng.choice(WORDS, n)
        marks = rng.choice(MARKERS[lang], n // 5 + 1)
        pos = rng.integers(0, n, len(marks))
        words = list(body)
        for p, m in zip(sorted(pos, reverse=True), marks):
            words.insert(int(p), str(m))
        text = " ".join(words)
        if shape.random() < 0.15:
            text = f"{text} {shared}"
        texts.append(text)
        langs.append(lang)
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    return n_docs


def generate(out_dir: str, seed: int, n_orders: int, n_docs: int) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    counts = tpch_tables(out_dir, seed, n_orders)
    counts["documents"] = documents(out_dir, seed, n_docs)
    return counts
