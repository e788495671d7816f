"""Seeded corpus generator: the ten fixture tables, shape for shape.

The benchmark never reads a corpus it did not write. Every table of
``sparkflow.catalog.TABLES`` is generated from ``--seed`` with the
schemas, domains and row-count ratios the fixture documents (TPC-H-ish
star schema, an ``events`` stream table, ``documents`` with ~5% near
duplicates and a few exact ones, unit-norm 64-dim ``embeddings``).

Seeds other than 0 also shift the corpus shape, the way a reseeded twin
does: every entity key gets a seed-derived offset (the same offset in
every column that carries the key, so joins keep their fan-out), and all
timestamps move by a seed-derived delta. Seed 0 keeps 0-based keys and
the fixture calendar.

Same seed, same scale -> byte-identical parquet files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "screw"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()

_US = 1_000_000
_DAY_US = 86_400 * _US


def _ts(s: str) -> int:
    return int(np.datetime64(s, "us").astype("int64"))


def _choice(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _cents(rng, lo, hi, n):
    """Exact 2-decimal doubles in [lo, hi]."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _write(out_dir: str, name: str, cols: dict, schema: pa.Schema) -> int:
    tbl = pa.table(cols, schema=schema)
    pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"),
                   compression="snappy")
    return tbl.num_rows


def shape_shift(seed: int) -> dict:
    """Seed-derived key offsets and timestamp shifts (all 0 for seed 0)."""
    if seed == 0:
        return {"cust": 0, "order": 0, "part": 0, "supp": 0, "event": 0,
                "doc": 0, "orders_us": 0, "events_us": 0}
    r = np.random.default_rng([seed, 7])
    return {
        "cust": int(r.integers(1, 1000)) * 7_001,
        "order": int(r.integers(1, 1000)) * 9_001,
        "part": int(r.integers(1, 1000)) * 8_009,
        "supp": int(r.integers(1, 1000)) * 6_007,
        "event": int(r.integers(1, 1000)) * 5_003,
        "doc": int(r.integers(1, 100)) * 7_193,  # doc ids stay below 1e6
        "orders_us": int(r.integers(1, 60)) * _DAY_US,
        "events_us": int(r.integers(1, 20 * 24)) * 3_600 * _US,
    }


def generate(out_dir: str, seed: int, sf: float = 0.1, n_docs: int | None = None) -> dict[str, int]:
    """Write every table under `out_dir`; returns table -> row count."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2024])
    sh = shape_shift(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_orders = int(1_500_000 * sf)
    n_events = int(1_000_000 * sf)
    n_users = max(n_cust // 10, 10)
    if n_docs is None:
        n_docs = max(int(50_000 * sf), 500)
    n_emb = max(int(20_000 * sf), 500)
    rows: dict[str, int] = {}

    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    rows["region"] = _write(out_dir, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS,
    }, pa.schema([("r_regionkey", i32), ("r_name", s)]))
    rows["nation"] = _write(out_dir, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": np.arange(25, dtype=np.int32) % 5,
    }, pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))

    ck = np.arange(n_cust, dtype=np.int64)
    rows["customer"] = _write(out_dir, "customer", {
        "c_custkey": ck + sh["cust"],
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _choice(rng, SEGMENTS, n_cust),
    }, pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                  ("c_acctbal", f64), ("c_mktsegment", s)]))

    sk = np.arange(n_supp, dtype=np.int64)
    rows["supplier"] = _write(out_dir, "supplier", {
        "s_suppkey": sk + sh["supp"],
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp),
    }, pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32),
                  ("s_acctbal", f64)]))

    pk = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    rows["part"] = _write(out_dir, "part", {
        "p_partkey": pk + sh["part"],
        "p_name": _choice(rng, names, n_part),
        "p_brand": np.asarray([f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
                              dtype=object),
        "p_type": _choice(rng, PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": 900.0 + (pk % 1000) / 10.0,
    }, pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s),
                  ("p_type", s), ("p_size", i32), ("p_retailprice", f64)]))

    d0, d1 = _ts("1995-01-01"), _ts("2001-08-01")
    ok = np.arange(n_orders, dtype=np.int64)
    odate = d0 + rng.integers(0, (d1 - d0) // _DAY_US + 1, n_orders) * _DAY_US
    rows["orders"] = _write(out_dir, "orders", {
        "o_orderkey": ok + sh["order"],
        "o_custkey": rng.integers(0, n_cust, n_orders) + sh["cust"],
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n_orders),
        "o_totalprice": _cents(rng, 1000.0, 500000.0, n_orders),
        "o_orderdate": odate + sh["orders_us"],
        "o_orderpriority": _choice(rng, PRIORITIES, n_orders),
    }, pa.schema([("o_orderkey", i64), ("o_custkey", i64),
                  ("o_orderstatus", s), ("o_totalprice", f64),
                  ("o_orderdate", ts), ("o_orderpriority", s)]))

    lines = rng.integers(1, 8, n_orders)
    n_li = int(lines.sum())
    l_ok = np.repeat(ok, lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_no = (np.arange(n_li) - starts + 1).astype(np.int32)
    s0, s1 = _ts("1995-01-02"), _ts("2001-11-04")
    perm = rng.permutation(n_li)  # lineitem is not stored in key order
    rows["lineitem"] = _write(out_dir, "lineitem", {
        "l_orderkey": (l_ok + sh["order"])[perm],
        "l_partkey": rng.integers(0, n_part, n_li) + sh["part"],
        "l_suppkey": rng.integers(0, n_supp, n_li) + sh["supp"],
        "l_linenumber": l_no[perm],
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _choice(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _choice(rng, ["F", "O"], n_li),
        "l_shipdate": s0 + rng.integers(0, (s1 - s0) // _DAY_US + 1, n_li) * _DAY_US
        + sh["orders_us"],
    }, pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                  ("l_linenumber", i32), ("l_quantity", f64),
                  ("l_extendedprice", f64), ("l_discount", f64), ("l_tax", f64),
                  ("l_returnflag", s), ("l_linestatus", s), ("l_shipdate", ts)]))

    e0 = _ts("2024-01-01")
    ets = np.sort(rng.integers(0, 30 * _DAY_US, n_events)) + e0 + sh["events_us"]
    rows["events"] = _write(out_dir, "events", {
        "event_id": np.arange(n_events, dtype=np.int64) + sh["event"],
        "ts": ets,
        "user_id": rng.integers(0, n_users, n_events) + sh["cust"],
        "event_type": _choice(rng, EVENT_TYPES, n_events),
        "value": _cents(rng, 0.0, 560.0, n_events),
        "props": np.asarray([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
                            dtype=object),
    }, pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64),
                  ("event_type", s), ("value", f64), ("props", s)]))

    texts = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:  # near duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i >= 20 and rng.random() < 0.002:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = _choice(rng, VOCAB, int(rng.integers(10, 101)))
            texts.append(" ".join(words))
    dk = np.arange(n_docs, dtype=np.int64) + sh["doc"]
    rows["documents"] = _write(out_dir, "documents", {
        "doc_id": dk,
        "text": texts,
        "lang": _choice(rng, LANGS, n_docs, p=LANG_P),
        "source": np.asarray([f"src{i % 20}" for i in range(n_docs)], dtype=object),
        "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
    }, pa.schema([("doc_id", i64), ("text", s), ("lang", s), ("source", s),
                  ("n_chars", i64)]))

    vec = rng.normal(0.0, 1.0, (n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    emb = pa.ListArray.from_arrays(
        np.arange(0, n_emb * 64 + 1, 64, dtype=np.int32), pa.array(vec.ravel())
    )
    rows["embeddings"] = _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64) + sh["doc"],
        "embedding": emb,
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    }, pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())),
                  ("label", i32)]))
    return rows
