"""Seeded input generator for the benchmark.

:func:`write_sources` is a pure function of ``(seed, scale)`` that writes
parquet with pyarrow, so the same seed gives byte-identical files. It
writes the ten source tables the engine reads (``region nation customer
supplier part orders lineitem events documents embeddings``) in the
layout ``sources.load_table`` expects: one single-row-group parquet file
per table. The shapes follow the engine's fixture contract: unique
primary keys, foreign keys that resolve, ``o_orderstatus`` in F/O/P, and
a share of duplicate ``(l_orderkey, l_linenumber)`` pairs that the CI
gate's known-dirty detector must find.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "fr", "es", "zh", "de"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
COLORS = ["red", "blue", "green", "black", "small", "large", "shiny", "matte"]
NOUNS = ["widget", "bolt", "ring", "gear", "valve", "panel", "spring", "hinge"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]

ORDER_EPOCH = dt.datetime(1995, 1, 1)
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01, as in the fixture data
EVENT_EPOCH = dt.datetime(2024, 1, 1)
EVENT_SPAN_US = 30 * 86_400 * 1_000_000
DUP_LINE_FRAC = 0.23  # injected duplicate (l_orderkey, l_linenumber) share
# The scale every workload generates: 15k orders, ~74k lineitems. Small
# enough that a cold pass over the catalog mix fits one run on 4 cores;
# at this size a run measures the engine's per-operation costs (plan
# construction, py4j round trips, codegen, job scheduling, commit
# metadata) more than its scan throughput.
SCALE = 0.01


def _rows(scale: float, at_sf0_1: int, floor: int) -> int:
    return max(floor, int(round(at_sf0_1 * scale / 0.1)))


def _write(table: pa.Table, path: str) -> None:
    # one row group per file, like the fixture tables
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _ts(epoch: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    base = int((epoch - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(base + offsets_us.astype(np.int64), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def source_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """The ten source tables for ``(seed, scale)``; ``scale`` is the TPC-H
    style scale factor (0.1 = 150k orders)."""
    rng = np.random.default_rng([seed, 1])
    n_cust = _rows(scale, 15_000, 50)
    n_supp = _rows(scale, 1_000, 10)
    n_part = _rows(scale, 20_000, 50)
    n_ord = _rows(scale, 150_000, 200)
    n_ev = _rows(scale, 100_000, 500)
    n_users = _rows(scale, 1_500, 20)
    n_docs = _rows(scale, 5_000, 100)
    n_emb = _rows(scale, 2_000, 200)

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pc = rng.integers(0, len(COLORS), n_part)
    pn = rng.integers(0, len(NOUNS), n_part)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"{COLORS[a]} {NOUNS[b]}" for a, b in zip(pc, pn)],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": [PTYPES[i] for i in rng.integers(0, len(PTYPES), n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )

    o_day = rng.integers(0, ORDER_DAYS, n_ord)
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _ts(ORDER_EPOCH, o_day * 86_400_000_000),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
        }
    )

    lines_per = rng.integers(1, 8, n_ord)
    l_ord = np.repeat(np.arange(n_ord), lines_per)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines_per])
    n_dup = int(len(l_ord) * DUP_LINE_FRAC)
    dup_src = rng.integers(0, len(l_ord), n_dup)
    l_ord = np.concatenate([l_ord, l_ord[dup_src]])
    l_num = np.concatenate([l_num, l_num[dup_src]])
    n_li = len(l_ord)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = o_day[l_ord] + rng.integers(1, 122, n_li)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_ord, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(l_num, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * _money(rng, 900, 2000, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, n_li)],
            "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, n_li)],
            "l_shipdate": _ts(ORDER_EPOCH, ship * 86_400_000_000),
        }
    )

    ev_off = np.sort(rng.integers(0, EVENT_SPAN_US, n_ev))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts(EVENT_EPOCH, ev_off),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
            "value": _money(rng, 0, 50, n_ev),
            "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)],
        }
    )

    texts = []
    for _ in range(n_docs):
        words = rng.integers(0, len(VOCAB), int(rng.integers(8, 100)))
        texts.append([VOCAB[w] for w in words])
    # near-duplicate spans: one doc in twenty copies a 12-word span of another
    for d in range(0, n_docs, 20):
        src = texts[int(rng.integers(0, n_docs))]
        if len(src) >= 12 and len(texts[d]) >= 12:
            at = int(rng.integers(0, len(src) - 11))
            to = int(rng.integers(0, len(texts[d]) - 11))
            texts[d][to : to + 12] = src[at : at + 12]
    text = [" ".join(t) for t in texts]
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": text,
            "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in text], pa.int64()),
        }
    )

    centers = rng.normal(0, 1, (10, 64))
    label = rng.integers(0, 10, n_emb)
    vec = centers[label] + rng.normal(0, 0.6, (n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )
    return out


def write_sources(seed: int, scale: float, out_dir: str) -> dict[str, pa.Table]:
    """Write the source tables as ``<out_dir>/<table>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    tables = source_tables(seed, scale)
    for name, t in tables.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
    return tables
