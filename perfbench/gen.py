"""Seeded input generator for the benchmark.

Writes the ten fixture tables the query registry reads (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) with the driver fixtures' exact parquet schemas, so
``load_table`` and the DuckDB oracles treat the output like a fixture.
Value rules follow the fixtures: uniform keys and attributes, events in
event-time order over 30 days, documents drawn from a 30-word
vocabulary with 5% near-duplicates (an earlier text plus " dup"), and
64-d unit embeddings carrying a faint per-label centroid signal.

``scale`` is relative to the sf0.1 fixture (1.0 = 600 k lineitem rows).
The same (seed, scale) always gives the same tables.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TS = pa.timestamp("us")
# Row counts at scale 1.0 (the sf0.1 fixture's cardinalities).
BASE_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
SCHEMAS = {
    "region": pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
    "nation": pa.schema(
        [("n_nationkey", pa.int32()), ("n_name", pa.string()), ("n_regionkey", pa.int32())]
    ),
    "customer": pa.schema(
        [
            ("c_custkey", pa.int64()),
            ("c_name", pa.string()),
            ("c_nationkey", pa.int32()),
            ("c_acctbal", pa.float64()),
            ("c_mktsegment", pa.string()),
        ]
    ),
    "supplier": pa.schema(
        [
            ("s_suppkey", pa.int64()),
            ("s_name", pa.string()),
            ("s_nationkey", pa.int32()),
            ("s_acctbal", pa.float64()),
        ]
    ),
    "part": pa.schema(
        [
            ("p_partkey", pa.int64()),
            ("p_name", pa.string()),
            ("p_brand", pa.string()),
            ("p_type", pa.string()),
            ("p_size", pa.int32()),
            ("p_retailprice", pa.float64()),
        ]
    ),
    "orders": pa.schema(
        [
            ("o_orderkey", pa.int64()),
            ("o_custkey", pa.int64()),
            ("o_orderstatus", pa.string()),
            ("o_totalprice", pa.float64()),
            ("o_orderdate", TS),
            ("o_orderpriority", pa.string()),
        ]
    ),
    "lineitem": pa.schema(
        [
            ("l_orderkey", pa.int64()),
            ("l_partkey", pa.int64()),
            ("l_suppkey", pa.int64()),
            ("l_linenumber", pa.int32()),
            ("l_quantity", pa.float64()),
            ("l_extendedprice", pa.float64()),
            ("l_discount", pa.float64()),
            ("l_tax", pa.float64()),
            ("l_returnflag", pa.string()),
            ("l_linestatus", pa.string()),
            ("l_shipdate", TS),
        ]
    ),
    "events": pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", TS),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    ),
    "documents": pa.schema(
        [
            ("doc_id", pa.int64()),
            ("text", pa.string()),
            ("lang", pa.string()),
            ("source", pa.string()),
            ("n_chars", pa.int64()),
        ]
    ),
    "embeddings": pa.schema(
        [
            ("vec_id", pa.int64()),
            ("embedding", pa.list_(pa.float32())),
            ("label", pa.int32()),
        ]
    ),
}
TABLES = tuple(SCHEMAS)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
# The corpus operators are bound by per-call overhead at any size this
# benchmark can afford, so every workload draws 500 documents and 200
# embeddings (a tenth of the sf0.1 fixture).
CORPUS_SCALE = 0.1
EMBED_DIM = 64
EMBED_SIGNAL = 0.07  # mean cosine of a fixture vector to its label centroid
DAY_US = 86_400_000_000


def _ts(start: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    base = int((start - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    return pa.array(base + offsets_us.astype(np.int64), TS)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _rows(scale: float, table: str) -> int:
    return max(1, int(round(BASE_ROWS[table] * scale)))


def relational_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 1])
    n_c, n_s, n_p = _rows(scale, "customer"), _rows(scale, "supplier"), _rows(scale, "part")
    n_o, n_l, n_e = _rows(scale, "orders"), _rows(scale, "lineitem"), _rows(scale, "events")
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table([pa.array(range(5), pa.int32()), REGIONS], schema=SCHEMAS["region"])
    out["nation"] = pa.table(
        [
            pa.array(range(25), pa.int32()),
            [f"NATION_{i}" for i in range(25)],
            pa.array([i % 5 for i in range(25)], pa.int32()),
        ],
        schema=SCHEMAS["nation"],
    )
    out["customer"] = pa.table(
        [
            np.arange(n_c),
            [f"Customer#{i:09d}" for i in range(n_c)],
            rng.integers(0, 25, n_c).astype(np.int32),
            _money(rng, -999.99, 9999.99, n_c),
            _pick(rng, SEGMENTS, n_c),
        ],
        schema=SCHEMAS["customer"],
    )
    out["supplier"] = pa.table(
        [
            np.arange(n_s),
            [f"Supplier#{i:09d}" for i in range(n_s)],
            rng.integers(0, 25, n_s).astype(np.int32),
            _money(rng, -999.99, 9999.99, n_s),
        ],
        schema=SCHEMAS["supplier"],
    )
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    keys = np.arange(n_p)
    out["part"] = pa.table(
        [
            keys,
            _pick(rng, names, n_p),
            pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_p)]),
            _pick(rng, PART_TYPES, n_p),
            rng.integers(1, 51, n_p).astype(np.int32),
            np.round(900.0 + (keys % 1000) * 0.1, 1),
        ],
        schema=SCHEMAS["part"],
    )
    order_days = (dt.datetime(2001, 8, 1) - dt.datetime(1995, 1, 1)).days + 1
    out["orders"] = pa.table(
        [
            np.arange(n_o),
            rng.integers(0, n_c, n_o),
            _pick(rng, ORDER_STATUS, n_o),
            _money(rng, 1000.0, 500000.0, n_o),
            _ts(dt.datetime(1995, 1, 1), rng.integers(0, order_days, n_o) * DAY_US),
            _pick(rng, PRIORITIES, n_o),
        ],
        schema=SCHEMAS["orders"],
    )
    ship_days = (dt.datetime(2001, 11, 4) - dt.datetime(1995, 1, 2)).days + 1
    out["lineitem"] = pa.table(
        [
            rng.integers(0, n_o, n_l),
            rng.integers(0, n_p, n_l),
            rng.integers(0, n_s, n_l),
            rng.integers(1, 8, n_l).astype(np.int32),
            rng.integers(1, 51, n_l).astype(np.float64),
            _money(rng, 900.0, 105000.0, n_l),
            rng.integers(0, 11, n_l) / 100.0,
            rng.integers(0, 9, n_l) / 100.0,
            _pick(rng, ["A", "N", "R"], n_l),
            _pick(rng, ["F", "O"], n_l),
            _ts(dt.datetime(1995, 1, 2), rng.integers(0, ship_days, n_l) * DAY_US),
        ],
        schema=SCHEMAS["lineitem"],
    )
    out["events"] = pa.table(
        [
            np.arange(n_e),
            _ts(dt.datetime(2024, 1, 1), np.sort(rng.integers(0, 30 * DAY_US, n_e))),
            rng.integers(0, max(1, n_c // 10), n_e),
            _pick(rng, EVENT_TYPES, n_e),
            np.round(rng.exponential(50.0, n_e), 2),
            pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)]),
        ],
        schema=SCHEMAS["events"],
    )
    return out


def corpus_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 2])
    n_d, n_v = _rows(scale, "documents"), _rows(scale, "embeddings")
    vocab = np.asarray(VOCAB, dtype=object)
    texts: list[str] = []
    for i in range(n_d):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(VOCAB), rng.integers(10, 100))]))
    docs = pa.table(
        [
            np.arange(n_d),
            texts,
            _pick(rng, LANGS, n_d, p=LANG_P),
            pa.array([f"src{s}" for s in rng.integers(0, 20, n_d)]),
            np.fromiter((len(t) for t in texts), np.int64, n_d),
        ],
        schema=SCHEMAS["documents"],
    )
    mu = rng.normal(size=(10, EMBED_DIM))
    mu /= np.linalg.norm(mu, axis=1)[:, None]
    labels = rng.integers(0, 10, n_v)
    g = rng.normal(size=(n_v, EMBED_DIM))
    g /= np.linalg.norm(g, axis=1)[:, None]
    vecs = EMBED_SIGNAL * mu[labels] + g
    vecs /= np.linalg.norm(vecs, axis=1)[:, None]
    flat = pa.array(vecs.astype(np.float32).ravel())
    emb = pa.table(
        [
            np.arange(n_v),
            pa.FixedSizeListArray.from_arrays(flat, EMBED_DIM).cast(pa.list_(pa.float32())),
            labels.astype(np.int32),
        ],
        schema=SCHEMAS["embeddings"],
    )
    return {"documents": docs, "embeddings": emb}


def write_tables(out_dir: str, tables: dict[str, pa.Table]) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))


def input_rows(sf_dir: str, tables) -> dict[str, int]:
    return {t: pq.ParquetFile(os.path.join(sf_dir, f"{t}.parquet")).metadata.num_rows for t in tables}

