"""Seeded inputs for the benchmark: TPC-H-ish tables and order envelopes.

The package's analytics and curation entries read a star schema
(``region nation customer supplier part orders lineitem``) plus
``events``, ``documents`` and ``embeddings`` parquet tables. This
module writes those tables from a seed with the same value domains as
the project's reference testdata (FIXTURES.md / TESTDATA.md), so the
benchmark needs nothing outside its checkout:

- ``orders`` = 1.5M x sf, ``lineitem`` ~ Poisson(4) lines per order
  (some orders have none), ``customer`` = 150k x sf, ``part`` =
  200k x sf, ``supplier`` = 10k x sf, ``events`` = 1M x sf;
- ``documents``: ``n_docs`` docs of 10-99 words from a 30-word
  vocabulary, ~5% of them near-duplicates (an earlier doc plus the
  word ``dup``);
- ``embeddings``: ``n_docs`` unit-norm 64-d float vectors, 10 weak
  clusters.

Envelope NDJSON (the Kinesis record shape ``{StreamName,
PartitionKey, Data=b64(json)}``) is rendered here too, from the
package's own order-event generator, with an optional share of
corrupt records.
"""

from __future__ import annotations

import base64
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MKT_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_DAY0 = np.datetime64("1995-01-01", "us")
_US_PER_DAY = 86_400_000_000


def _dates(rng: np.random.Generator, n: int, days: int) -> np.ndarray:
    return _DAY0 + rng.integers(0, days, n) * np.timedelta64(1, "D")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _write(out_dir: str, name: str, cols: dict, schema: pa.Schema) -> None:
    table = pa.table(cols, schema=schema)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, sf: float, seed: int, n_docs: int = 500) -> dict[str, int]:
    """Write the ten testdata tables at scale ``sf`` (``n_docs`` rows in
    ``documents`` and ``embeddings``); returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(30, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_evt = max(100, int(1_000_000 * sf))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    _write(out_dir, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS,
    }, pa.schema([("r_regionkey", i32), ("r_name", s)]))
    _write(out_dir, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": np.arange(25, dtype=np.int32) % 5,
    }, pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(MKT_SEGMENTS, n_cust).tolist(),
    }, pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                  ("c_acctbal", f64), ("c_mktsegment", s)]))
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }, pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32),
                  ("s_acctbal", f64)]))
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(P_ADJ, n_part),
                                              rng.choice(P_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(P_TYPES, n_part).tolist(),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    }, pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
                  ("p_size", i32), ("p_retailprice", f64)]))
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _dates(rng, n_ord, 2404),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist(),
    }, pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                  ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)]))
    lines = rng.poisson(4.0, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    start = np.repeat(np.cumsum(lines) - lines, lines)
    perm = rng.permutation(n_li)
    _write(out_dir, "lineitem", {
        "l_orderkey": okey[perm],
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": (np.arange(n_li) - start + 1).astype(np.int32)[perm],
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 901.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
        "l_shipdate": _dates(rng, n_li, 2500) + np.timedelta64(1, "D"),
    }, pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                  ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
                  ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
                  ("l_linestatus", s), ("l_shipdate", ts)]))
    evt_ts = np.sort(
        np.datetime64("2024-01-01", "us")
        + rng.integers(0, 30 * _US_PER_DAY, n_evt) * np.timedelta64(1, "us")
    )
    _write(out_dir, "events", {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": evt_ts,
        "user_id": rng.integers(0, 150, n_evt).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_evt).tolist(),
        "value": _money(rng, 0.01, 490.0, n_evt),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    }, pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64),
                  ("event_type", s), ("value", f64), ("props", s)]))
    _write_documents(out_dir, rng, n_docs)
    _write_embeddings(out_dir, rng, n_docs)
    return {"orders": n_ord, "lineitem": n_li, "customer": n_cust, "events": n_evt}


def _write_documents(out_dir: str, rng: np.random.Generator, n: int) -> None:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    _write(out_dir, "documents", {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n).tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }, pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                  ("source", pa.string()), ("n_chars", pa.int64())]))


def _write_embeddings(out_dir: str, rng: np.random.Generator, n: int) -> None:
    centers = rng.normal(size=(10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n)
    vecs = 0.15 * centers[labels] + rng.normal(scale=0.125, size=(n, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(vecs),
        "label": labels.astype(np.int32),
    }, pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                  ("label", pa.int32())]))


# -- envelopes ---------------------------------------------------------------

def _envelope(payload: bytes | str) -> str:
    data = payload if isinstance(payload, str) else base64.b64encode(payload).decode("ascii")
    return json.dumps(
        {"StreamName": "ingestion-bench", "PartitionKey": "bench-partition", "Data": data}
    )


def corrupt_envelope(rng: random.Random, event: dict) -> str:
    """One malformed record: bad base64, or JSON without ``order_id``."""
    if rng.random() < 0.5:
        return _envelope("!!not-base64@@" + str(rng.randint(0, 10**9)))
    broken = {k: v for k, v in event.items() if k != "order_id"}
    return _envelope(json.dumps(broken).encode("utf-8"))


def render_envelope(event: dict) -> str:
    return _envelope(json.dumps(event).encode("utf-8"))
