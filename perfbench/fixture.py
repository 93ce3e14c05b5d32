"""Seeded fixture generator and key-offset replicator.

``generate(out_dir, sf, seed)`` writes the ten fixture tables the engine
reads (``graph_db_spark.tables.TABLE_NAMES``) with the same schema and
value shapes as the TPC-H-ish test fixtures: uniform independent columns,
``lineitem`` ≈ 6M·sf rows, a 30-word document vocabulary with one
``" dup"``-suffixed near-duplicate per 20 documents, unit-norm 64-d
embeddings with a per-label centre.

``replicate(base_dir, out_dir, copies)`` writes ``copies`` disjoint
key-offset copies of the eight relational/event tables. Copy ``i`` shifts
every key and foreign key by ``(i + 1) * 10**width`` where ``10**width``
exceeds the largest key of any table, so each copy is its own set of graph
components and, within a copy, the engine's string vertex ids
(``"C:" + key``) sort exactly as the unshifted keys do. Results on any
copy therefore map back to the base result by stripping the copy digit.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPLICATED = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
)
# every key and foreign-key column of the replicated tables; all share one
# offset per copy, so derived joins (station ``field_id = user_id + 1``)
# stay inside their copy
KEY_COLUMNS = frozenset((
    "r_regionkey", "n_regionkey", "n_nationkey", "c_nationkey", "s_nationkey",
    "c_custkey", "o_custkey", "s_suppkey", "l_suppkey", "p_partkey", "l_partkey",
    "o_orderkey", "l_orderkey", "event_id", "user_id",
))

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_DAY_US = 86_400_000_000


def _us(date: str) -> int:
    return int(np.datetime64(date, "us").astype(np.int64))


def _days(rng, n: int, lo: str, hi: str) -> pa.Array:
    lo_d, hi_d = _us(lo) // _DAY_US, _us(hi) // _DAY_US
    d = rng.integers(lo_d, hi_d + 1, n, dtype=np.int64) * _DAY_US
    return pa.array(d, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> list[str]:
    return [values[i] for i in rng.choice(len(values), n, p=p)]


def sizes(sf: float) -> dict[str, int]:
    """Row counts per table (and the user-id domain) at scale factor ``sf``."""
    return {
        "region": 5, "nation": 25,
        "customer": max(1, round(150_000 * sf)),
        "supplier": max(1, round(10_000 * sf)),
        "part": max(1, round(200_000 * sf)),
        "orders": max(1, round(1_500_000 * sf)),
        "lineitem": max(1, round(6_000_000 * sf)),
        "events": max(1, round(1_000_000 * sf)),
        "users": max(1, round(15_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = sizes(sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    c = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _money(rng, c, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, _SEGMENTS, c),
    })
    s = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": _money(rng, s, -999.99, 9999.99),
    })
    p = n["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (p, 2))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
        "p_type": _pick(rng, _P_TYPES, p),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) / 10.0, 1),
    })
    o = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], o),
        "o_totalprice": _money(rng, o, 1000.0, 500_000.0),
        "o_orderdate": _days(rng, o, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, _PRIORITIES, o),
    })
    li = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, li, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], li),
        "l_linestatus": _pick(rng, ["F", "O"], li),
        "l_shipdate": _days(rng, li, "1995-01-02", "2001-11-04"),
    })
    e = n["events"]
    ts = np.sort(rng.integers(_us("2024-01-01"), _us("2024-01-31"), e))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        # TIMESTAMP(NANOS), as in the repository's fixtures
        "ts": pa.array(ts * 1000, pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, n["users"], e), pa.int64()),
        "event_type": _pick(rng, _EVENT_TYPES, e),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, e), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    d = n["documents"]
    texts: list[str] = []
    for i in range(d):
        if i % 20 == 8 and i > 8:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(_pick(rng, _WORDS, int(rng.integers(10, 100)))))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(d), pa.int64()),
        "text": texts,
        "lang": _pick(rng, _LANGS, d, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    v = n["embeddings"]
    labels = rng.integers(0, 10, v)
    centres = rng.normal(0.0, 1.0, (10, 64))
    vecs = 0.15 * centres[labels] + rng.normal(0.0, 1.0, (v, 64)) / 8.0
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(v), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def generate(out_dir: str, sf: float, seed: int) -> dict[str, dict]:
    """Write the ten fixture tables under ``out_dir``; returns
    ``{table: {"rows", "bytes"}}``."""
    os.makedirs(out_dir, exist_ok=True)
    return {name: _write(tb, out_dir, name) for name, tb in _tables(sf, seed).items()}


def _write(tb: pa.Table, out_dir: str, name: str) -> dict:
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(tb, path)
    return {"rows": tb.num_rows, "bytes": os.path.getsize(path)}


def key_width(base_dir: str) -> int:
    """Decimal width of the largest key in the replicated tables: every
    key is below ``10**width``."""
    hi = 0
    for name in REPLICATED:
        tb = pq.read_table(os.path.join(base_dir, f"{name}.parquet"))
        for col in tb.column_names:
            if col in KEY_COLUMNS:
                hi = max(hi, int(tb[col].to_numpy().max()))
    return len(str(hi))


def replicate(base_dir: str, out_dir: str, copies: int) -> dict[str, dict]:
    """Write ``copies`` key-offset copies of the replicated tables (and the
    document/embedding tables unchanged) under ``out_dir``; returns
    ``{table: {"rows", "bytes"}}``."""
    if copies < 1:
        raise ValueError("copies must be >= 1")
    os.makedirs(out_dir, exist_ok=True)
    width = key_width(base_dir)
    stats = {}
    for name in REPLICATED:
        base = pq.read_table(os.path.join(base_dir, f"{name}.parquet"))
        parts = []
        for i in range(copies):
            shift = (i + 1) * 10**width
            parts.append(pa.table({
                col: pa.array(base[col].to_numpy() + shift, base[col].type)
                if col in KEY_COLUMNS else base[col]
                for col in base.column_names
            }))
        stats[name] = _write(pa.concat_tables(parts), out_dir, name)
    for name in ("documents", "embeddings"):
        stats[name] = _write(pq.read_table(os.path.join(base_dir, f"{name}.parquet")), out_dir, name)
    return stats
