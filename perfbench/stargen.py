"""Seeded star-schema generator: the catalog's ten input tables.

Writes ``region nation customer supplier part orders lineitem events
documents embeddings`` as one single-row-group parquet file each, in the
column names, types and value domains of the repo's test data (TPC-H-ish
star plus an event stream, a text corpus and an embedding table). Row
counts depend only on ``sf``; the seed varies values. About 5% of the
documents are near-duplicates (an earlier text plus one ``dup`` token), so
the dedup family has real pairs to find.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

#: rows per unit of scale factor, for the tables that scale
BASE_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "users": 15_000,
    "documents": 50_000,
    "embeddings": 20_000,
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_STATUS = ["F", "O", "P"]
_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_RETURNFLAG = ["A", "N", "R"]
_LINESTATUS = ["F", "O"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_EMBED_DIM = 64
_EMBED_LABELS = 10


def rows(sf: float) -> dict[str, int]:
    """Row count of every table at scale ``sf`` (independent of the seed)."""
    out = {name: max(1, int(round(n * sf))) for name, n in BASE_ROWS.items()}
    out.pop("users")
    out["region"] = len(_REGIONS)
    out["nation"] = 25
    return out


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: dt.date, end: dt.date, n: int) -> pa.Array:
    span = (end - start).days
    epoch = (start - dt.date(1970, 1, 1)).days
    us = (epoch + rng.integers(0, span + 1, n)).astype(np.int64) * 86_400_000_000
    return pa.array(us, type=pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    idx = rng.integers(0, len(values), n)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, type=pa.int32()), pa.array(values)
    ).cast(pa.string())


def _table(name: str, sf: float, seed: int) -> pa.Table:
    # one stream per table: a table's values do not depend on the others
    rng = np.random.default_rng([seed, TABLES.index(name)])
    n = rows(sf)
    if name == "region":
        return pa.table({
            "r_regionkey": pa.array(range(len(_REGIONS)), pa.int32()),
            "r_name": _REGIONS,
        })
    if name == "nation":
        return pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        })
    if name == "customer":
        c = n["customer"]
        return pa.table({
            "c_custkey": np.arange(c, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(c)],
            "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, c),
            "c_mktsegment": _pick(rng, _SEGMENTS, c),
        })
    if name == "supplier":
        s = n["supplier"]
        return pa.table({
            "s_suppkey": np.arange(s, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(s)],
            "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, s),
        })
    if name == "part":
        p = n["part"]
        adj = rng.integers(0, len(_PART_ADJ), p)
        noun = rng.integers(0, len(_PART_NOUN), p)
        return pa.table({
            "p_partkey": np.arange(p, dtype=np.int64),
            "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
            "p_type": _pick(rng, _PART_TYPES, p),
            "p_size": rng.integers(1, 51, p).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) * 0.1, 2),
        })
    if name == "orders":
        o = n["orders"]
        return pa.table({
            "o_orderkey": np.arange(o, dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], o).astype(np.int64),
            "o_orderstatus": _pick(rng, _STATUS, o),
            "o_totalprice": _money(rng, 1000.0, 500000.0, o),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), o),
            "o_orderpriority": _pick(rng, _PRIORITY, o),
        })
    if name == "lineitem":
        li = n["lineitem"]
        return pa.table({
            "l_orderkey": rng.integers(0, n["orders"], li).astype(np.int64),
            "l_partkey": rng.integers(0, n["part"], li).astype(np.int64),
            "l_suppkey": rng.integers(0, n["supplier"], li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, li),
            "l_discount": rng.integers(0, 11, li) / 100.0,
            "l_tax": rng.integers(0, 9, li) / 100.0,
            "l_returnflag": _pick(rng, _RETURNFLAG, li),
            "l_linestatus": _pick(rng, _LINESTATUS, li),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), li),
        })
    if name == "events":
        e = n["events"]
        users = max(1, int(round(BASE_ROWS["users"] * sf)))
        start_us = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
        ts = np.sort(rng.integers(0, 30 * 86_400_000_000, e)) + start_us
        return pa.table({
            "event_id": np.arange(e, dtype=np.int64),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": rng.integers(0, users, e).astype(np.int64),
            "event_type": _pick(rng, _EVENT_TYPES, e),
            "value": np.round(_money(rng, 0.0, 150.0, e) * rng.integers(1, 5, e), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
        })
    if name == "documents":
        return _documents(rng, n["documents"])
    v = n["embeddings"]
    emb = rng.standard_normal((v, _EMBED_DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(v, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.reshape(-1)), _EMBED_DIM
        ).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, _EMBED_LABELS, v).astype(np.int32),
    })


def _documents(rng: np.random.Generator, d: int) -> pa.Table:
    lengths = rng.integers(15, 100, d)
    words = rng.integers(0, len(_WORDS), int(lengths.sum()))
    texts: list[str] = []
    at = 0
    for ln in lengths:
        texts.append(" ".join(_WORDS[w] for w in words[at:at + ln]))
        at += ln
    # every 20th document repeats an earlier one plus a trailing token
    for i in range(20, d, 20):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pa.table({
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, _LANGS, d),
        "source": [f"src{k}" for k in rng.integers(0, 20, d)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })


def write_star(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table under ``out_dir`` as ``<name>.parquet``; return
    the bytes written per table."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name in TABLES:
        table = _table(name, sf, seed)
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, row_group_size=max(1, table.num_rows))
        sizes[name] = os.path.getsize(path)
    return sizes
