"""Seeded synthetic inputs for the benchmark.

The tables follow the schemas of the engine's test data (a TPC-H-like
star schema plus ``events``, ``documents`` and ``embeddings``) so every
registry query in ``pystore_spark.queries.QUERIES`` runs on them. Row
counts scale with ``sf`` the way the test data does (``lineitem`` is
6M x sf rows). The same ``(seed, sf)`` always gives byte-identical
parquet files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "the a fast slow big small data row column table key value join "
    "hash sort merge group agg filter scan query batch stream window "
    "vector spark line part order customer"
).split()
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "fr", "es", "de", "zh"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "red", "cold", "hot", "large", "small", "new", "old"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_DAY_US = 86_400_000_000
#: ship dates span this many days from 1995-01-01
SHIP_DAYS = 2500
#: events span this many days from 2024-01-01
EVENT_DAYS = 30
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def doc_text(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` documents of 8-100 words drawn from ``WORDS``."""
    lens = rng.integers(8, 101, n)
    words = np.asarray(WORDS, dtype=object)
    flat = words[rng.integers(0, len(words), int(lens.sum()))]
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(flat[pos:pos + k]))
        pos += k
    return out


def documents(rng: np.random.Generator, n: int, first_id: int = 0) -> pa.Table:
    text = doc_text(rng, n)
    return pa.table({
        "doc_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "text": pa.array(text),
        "lang": _pick(rng, LANGS, n),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.fromiter(map(len, text), np.int64, n)),
    })


def lineitem(rng: np.random.Generator, n: int, n_orders: int,
             n_parts: int, n_supp: int) -> pa.Table:
    """``n`` line items. ``(l_orderkey, l_linenumber)`` is unique: each
    order gets consecutive line numbers from 1."""
    orderkey = np.sort(rng.integers(0, n_orders, n)).astype(np.int64)
    first = np.r_[0, np.flatnonzero(np.diff(orderkey)) + 1]
    run_start = np.repeat(first, np.diff(np.r_[first, n]))
    linenumber = (np.arange(n) - run_start + 1).astype(np.int32)
    qty = rng.integers(1, 51, n).astype(np.float64)
    ship = _EPOCH_1995 + rng.integers(0, SHIP_DAYS, n) * _DAY_US
    return pa.table({
        "l_orderkey": pa.array(orderkey),
        "l_partkey": pa.array(rng.integers(0, n_parts, n)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n)),
        "l_linenumber": pa.array(linenumber),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": _pick(rng, ["N", "A", "R"], n),
        "l_linestatus": _pick(rng, ["O", "F"], n),
        "l_shipdate": _ts(ship),
    })


def events(rng: np.random.Generator, n: int, n_users: int,
           first_id: int = 0, start_us: int = _EPOCH_2024,
           days: int = EVENT_DAYS) -> pa.Table:
    """``n`` events with increasing ``ts`` over ``days`` days."""
    ts = start_us + np.sort(rng.integers(0, days * _DAY_US, n))
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_users, n)),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(_money(rng, 0, 200, n)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Every input table at scale ``sf``, from ``seed``."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    adj = np.asarray(PART_ADJ, dtype=object)[rng.integers(0, 8, n_part)]
    noun = np.asarray(PART_NOUN, dtype=object)[rng.integers(0, 8, n_part)]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(adj + " " + noun),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, 1000, 500_000, n_ord)),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, n_ord) * _DAY_US),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    out["lineitem"] = lineitem(rng, n_line, n_ord, n_part, n_supp)
    out["events"] = events(rng, n_ev, max(15, int(15_000 * sf)))
    out["documents"] = documents(rng, n_doc)
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32) * 0.2
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.ravel()), 64).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32)),
    })
    return out


def write_tables(seed: int, sf: float, out_dir: str,
                 names: list[str] | None = None) -> str:
    """Write the tables (or only ``names``) as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed, sf).items():
        if names is None or name in names:
            pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
