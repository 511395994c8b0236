"""Seeded generator for the benchmark's input tables.

Writes the ten tables the registered queries read (the TPC-H-style star
schema, ``events``, ``documents`` and ``embeddings``) as one parquet file
each, with the schemas, row counts and value ranges of the sf0.1 fixture
described in FIXTURES.md. The same seed always writes the same rows, so
every run of the benchmark reads identical inputs.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_VERSION = 1
SCALE = 0.1  # TPC-H-style scale factor: lineitem = 6,000,000 * SCALE rows

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "red", "small", "old"]
_PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "nut", "pin"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_EMB_DIM = 64


def _day_range(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return (days * 86_400_000_000).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * SCALE), int(10_000 * SCALE), int(200_000 * SCALE)
    n_ord, n_line = int(1_500_000 * SCALE), int(6_000_000 * SCALE)
    n_events, n_docs, n_emb = int(1_000_000 * SCALE), int(50_000 * SCALE), int(20_000 * SCALE)
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": [
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _day_range(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _day_range(rng, "1995-01-02", "2001-11-04", n_line),
        }
    )

    # events: ts ascending over January 2024 at nanosecond unit (the
    # fixture's unit, which the catalog sniffs), values mostly in [0, 100)
    # with an exponential tail above.
    start_ns = np.datetime64("2024-01-01T00:00:00", "ns").astype(np.int64)
    offs_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_events))
    tail = rng.random(n_events) < 0.22
    value = np.where(tail, 100.0 + rng.exponential(50.0, n_events), rng.uniform(0, 100, n_events))
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": pa.array(start_ns + offs_us * 1000, pa.timestamp("ns")),
            "user_id": rng.integers(0, 1500, n_events).astype(np.int64),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_events)],
            "value": np.round(value, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )

    # documents: 10-100 words over a small vocabulary; 5% are near-duplicates
    # (an earlier document plus the token "dup") and a few are exact copies,
    # so the dedup operators have real clusters to find.
    words = np.array(_WORDS)
    texts: list[str] = []
    kinds = rng.random(n_docs)
    for i in range(n_docs):
        if i > 0 and kinds[i] < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and kinds[i] < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))]))
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": np.array(_LANGS)[rng.choice(5, n_docs, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )

    # embeddings: unit-norm isotropic vectors (float32) with labels 0-9.
    v = rng.standard_normal((n_emb, _EMB_DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_emb).astype(np.int32),
        }
    )
    return t


def ensure_dataset(root: str, seed: int) -> str:
    """Return a directory holding the generated tables for ``seed``,
    writing them first if no complete copy exists under ``root``."""
    out = os.path.join(root, f"sf{SCALE}-seed{seed}-v{GENERATOR_VERSION}")
    marker = os.path.join(out, "_COMPLETE")
    if os.path.exists(marker):
        return out
    stage = f"{out}.tmp.{os.getpid()}"
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)
    for name, table in _tables(seed).items():
        pq.write_table(table, os.path.join(stage, f"{name}.parquet"))
    with open(os.path.join(stage, "_COMPLETE"), "w") as f:
        json.dump({"seed": seed, "scale": SCALE, "version": GENERATOR_VERSION}, f)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(stage, out)
    return out


def fingerprint(data_dir: str) -> str:
    """Digest of the generated tables' bytes."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(data_dir)):
        if name.endswith(".parquet"):
            with open(os.path.join(data_dir, name), "rb") as f:
                h.update(name.encode() + f.read())
    return h.hexdigest()[:16]
