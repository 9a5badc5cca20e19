"""Deterministic star-schema inputs for the benchmark.

The benchmark cannot read any fixture outside its checkout, so it makes
its own tables: the ten tables the query registry reads (`region` ...
`embeddings`), with the column names, types and value ranges of the
engine's TPC-H-style test data, at a chosen scale factor. Rows scale
with ``sf`` like TPC-H (sf0.1: 600k lineitem, 150k orders, 5k
documents, 2k embeddings).

The tables depend only on ``sf`` and :data:`DATA_SEED`, never on the
workload seed: the workload seed picks query order and txlog batches,
and every run of every seed reads the same base tables. A table set is
written once per checkout and identified by the SHA-256 of its files
(:func:`fingerprint`), which keys the expected answers.

    python3 perfbench/datagen.py --sf 0.01 --out /tmp/sf0.01
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
# Bump when the generator's output changes, so cached tables and the
# expected answers keyed on them are rebuilt.
GENERATOR_VERSION = 1
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line"
    " merge order part query row scan slow small sort spark stream table the"
    " value vector window"
).split()
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
COLORS = ("blue", "red", "green", "black", "white", "small", "large", "tiny",
          "shiny", "dark", "light", "pale", "rusty")
NOUNS = ("anvil", "widget", "gear", "bolt", "spring")
EVENT_TYPES = ("click", "purchase", "scroll", "signup", "view")
EMBED_DIM = 64


def _days(rng, n, start, end):
    """Midnight timestamps (naive micros) uniform over [start, end]."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d * 86_400_000_000, pa.timestamp("us"))


def _pick(rng, choices, n):
    return pa.array(np.array(choices, dtype=object)[rng.integers(0, len(choices), n)])


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n):
    """Word-soup documents over a 30-word vocabulary, with planted
    near-duplicates (an earlier document with one or two words changed)
    and a few exact copies, so the dedup operators find real clusters."""
    vocab = np.array(VOCAB, dtype=object)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 20 and r < 0.06:
            words = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = vocab[int(rng.integers(0, len(vocab)))]
            texts.append(" ".join(words))
        elif i > 20 and r < 0.0625:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(8, 96))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), k)]))
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n):
    v = rng.standard_normal((n, EMBED_DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).ravel(), pa.float32())
    emb = pa.ListArray.from_arrays(pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32)), flat)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": emb,
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def make_tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{c} {w}" for c in COLORS for w in NOUNS]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(rng.uniform(900.0, 999.9, n_part), 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": np.sort(rng.integers(0, n_ord, n_li)).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
        "l_linestatus": _pick(rng, ("F", "O"), n_li),
        "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04"),
    })
    ts0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.sort(rng.integers(ts0, ts0 + 30 * 86_400_000_000, n_ev)), pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, n_ev).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    t["documents"] = _documents(rng, n_doc)
    t["embeddings"] = _embeddings(rng, n_emb)
    return t


def fingerprint(sf_dir: str) -> str:
    """SHA-256 over the table files: the input-file version that keys
    the expected answers."""
    h = hashlib.sha256()
    for name in TABLES:
        with open(os.path.join(sf_dir, f"{name}.parquet"), "rb") as f:
            h.update(name.encode())
            h.update(f.read())
    return h.hexdigest()[:16]


def ensure(sf_dir: str, sf: float) -> str:
    """Write the tables into ``sf_dir`` unless a complete set from this
    generator version is already there; return their fingerprint."""
    stamp = os.path.join(sf_dir, "_GENERATED.json")
    want = {"sf": sf, "seed": DATA_SEED, "version": GENERATOR_VERSION}
    try:
        with open(stamp) as f:
            if json.load(f) == want:
                return fingerprint(sf_dir)
    except (OSError, ValueError):
        pass
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in make_tables(sf).items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
    with open(stamp, "w") as f:
        json.dump(want, f)
    return fingerprint(sf_dir)


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf", type=float, default=0.1)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(ensure(a.out, a.sf))
