"""Deterministic benchmark inputs.

``base(dst, sf)`` writes the ten fixture tables the program reads
(``catalog.FIXTURE_TABLES``) with the column names, types and value
domains of the engine's test fixtures: a TPC-H-ish star (lineitem,
orders, customer, supplier, part, nation, region) plus the ``events``,
``documents`` and ``embeddings`` tables the dialect gates use.  Row
counts scale with ``sf`` as in the fixtures (lineitem = 6,000,000 x sf).

``star_scale(dst, base_dir, reps)`` replicates a base set with the
program's own ``tools/gen_sf1.generate`` (orders and lineitem ``reps``
times with shifted order keys, dimensions copied), which is how the
repository builds its sf1 set.

The data never depends on the benchmark's ``--seed``: the seed only
chooses query parameters and order.  ``ensure`` caches each set under
``perfbench/.data``.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
FORMAT_VERSION = 1

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "red", "small", "large", "hot", "cold", "old", "new"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.42, 0.15, 0.14, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

ORDER_DAY0 = dt.date(1995, 1, 1)
ORDER_DAYS = (dt.date(2001, 8, 1) - ORDER_DAY0).days + 1
EVENTS_T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
EVENTS_SPAN_US = 30 * 86_400 * 1_000_000


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days_to_ts(days: np.ndarray) -> pa.Array:
    base = np.datetime64(ORDER_DAY0, "us")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _write(dst: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), f"{dst}/{name}.parquet")


def base(dst: str, sf: float) -> None:
    """Write the ten fixture tables at scale ``sf`` into ``dst``."""
    rng = np.random.default_rng(DATA_SEED)
    os.makedirs(dst, exist_ok=True)
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 10)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = max(int(15_000 * sf), 15)
    n_docs = max(int(50_000 * sf), 500)
    n_vec = max(int(20_000 * sf), 500)

    _write(dst, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    _write(dst, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(dst, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array(_names("Customer", n_cust)),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
    })
    _write(dst, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array(_names("Supplier", n_supp)),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    pk = np.arange(n_part, dtype=np.int64)
    _write(dst, "part", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array(
            [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                        rng.choice(PART_NOUN, n_part))]
        ),
        "p_brand": pa.array(
            [f"Brand#{b}" for b in rng.integers(1, 26, n_part)]
        ),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 1)),
    })
    order_days = rng.integers(0, ORDER_DAYS, n_ord)
    _write(dst, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": _days_to_ts(order_days),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
    })
    li_order = rng.integers(0, n_ord, n_li, dtype=np.int64)
    ship_days = order_days[li_order] + rng.integers(1, 122, n_li)
    _write(dst, "lineitem", {
        "l_orderkey": pa.array(li_order),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
        "l_shipdate": _days_to_ts(ship_days),
    })
    gaps = rng.exponential(1.0, n_ev)
    offs = np.cumsum(gaps) / gaps.sum() * (EVENTS_SPAN_US - 60_000_000)
    _write(dst, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(EVENTS_T0_US + offs.astype(np.int64), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev, dtype=np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.05:
            # near-duplicates of an earlier document, for the dedup gates
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(WORDS, n_words)))
    _write(dst, "documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P)),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    labels = rng.integers(0, 10, n_vec, dtype=np.int32)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 1.0, (n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(dst, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels),
    })


def star_scale(dst: str, base_dir: str, reps: int) -> None:
    """Replicate ``base_dir`` ``reps`` times with the repository's own
    sf1 generator."""
    from tools.gen_sf1 import generate

    generate(base_dir, dst, reps)


def lineitem_rows(data_dir: str) -> int:
    return pq.read_metadata(f"{data_dir}/lineitem.parquet").num_rows


def ensure(root: str, name: str, build, expect_lineitem: int) -> str:
    """Build data set ``name`` under ``root`` once; later calls reuse it.
    The directory name carries ``FORMAT_VERSION`` (bump it when the
    generator changes) and the marker is written last, so a stale or
    interrupted build is never reused."""
    path = os.path.join(root, f"{name}-v{FORMAT_VERSION}")
    marker = os.path.join(path, "_READY.json")
    if os.path.exists(marker):
        return path
    shutil.rmtree(path, ignore_errors=True)
    tmp = path + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    build(tmp)
    got = lineitem_rows(tmp)
    if got != expect_lineitem:
        raise RuntimeError(
            f"data set {name}: lineitem has {got} rows, expected {expect_lineitem}"
        )
    with open(os.path.join(tmp, "_READY.json"), "w") as f:
        json.dump({"lineitem_rows": got}, f)
    os.replace(tmp, path)
    return path
