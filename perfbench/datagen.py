"""Seeded synthetic inputs for the benchmark.

Writes the ten tables every registry query reads (a TPC-H-style star
schema, the ``events`` stream table, ``documents`` and ``embeddings``), one
parquet file per table, with the column names, physical types and value
domains of the repository's test corpus:

- uniform random keys, prices and dates in the TPC-H domains;
- events in timestamp order over 30 days, ``props`` a small JSON object;
- documents drawn from a 30-word vocabulary, 10-99 words long, with
  ``source = 'src' || (doc_id % 20)`` and about 5% near-duplicates (another
  document's text plus the token ``dup``);
- 64-dimensional unit-norm embeddings with one of ten labels.

Row counts follow the corpus scale (``SIZES``). Some oracles pin constants
that depend on a table's row count (the SRP band width depends on the
number of embeddings), so the counts match the test corpus of the same
scale exactly. The same seed always writes byte-identical values.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per table at each scale, as in the repository's test corpus
SIZES = {
    "sf0.001": dict(customer=150, supplier=10, part=200, orders=1500,
                    lineitem=6000, events=1000, users=15, documents=500,
                    embeddings=500),
    "sf0.01": dict(customer=1500, supplier=100, part=2000, orders=15000,
                   lineitem=60000, events=10000, users=150, documents=500,
                   embeddings=500),
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.43, 0.1425, 0.1425, 0.1425, 0.1425]
DUP_SHARE = 0.05
EMBED_DIM = 64


def _days(rng, n, start: dt.date, end: dt.date) -> pa.Array:
    """Midnight timestamps drawn uniformly from [start, end]."""
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    days = rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(base + days, pa.timestamp("us"))


def tables(seed: int, scale: str) -> dict[str, pa.Table]:
    """Every table of one corpus, generated from ``seed``."""
    n = SIZES[scale]
    rng = np.random.default_rng(seed)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    def money(lo, hi, size):
        return np.round(rng.uniform(lo, hi, size), 2)

    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, c),
        "c_mktsegment": rng.choice(SEGMENTS, c),
    })
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, s),
    })
    p = n["part"]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, p),
                                              rng.choice(PART_NOUN, p))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, p)],
        "p_type": rng.choice(PART_TYPES, p),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) * 0.1, 1),
    })
    o = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], o),
        "o_totalprice": money(1000, 500000, o),
        "o_orderdate": _days(rng, o, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": rng.choice(PRIORITIES, o),
    })
    li = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": money(900, 105000, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], li),
        "l_linestatus": rng.choice(["F", "O"], li),
        "l_shipdate": _days(rng, li, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
    })

    e = n["events"]
    month_us = 30 * 86400 * 10**6
    offs = np.sort(rng.choice(month_us, e, replace=False))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n["users"], e), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, e),
        "value": money(0.01, 490.0, e),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })

    d = n["documents"]
    texts = [" ".join(rng.choice(VOCAB, k)) for k in rng.integers(10, 100, d)]
    dups = rng.choice(d, int(d * DUP_SHARE), replace=False)
    originals = np.setdiff1d(np.arange(d), dups)
    for i, j in zip(dups, rng.choice(originals, len(dups))):
        texts[i] = texts[j] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(d), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, d, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    m = n["embeddings"]
    vecs = rng.standard_normal((m, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, m), pa.int32()),
    })
    return out


def source_stamp() -> str:
    """A short hash of this generator's source: a corpus written by an
    older generator is never mistaken for the current one."""
    with open(__file__, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()[:12]


def ensure(root: str, seed: int, scale: str) -> str:
    """The corpus directory for (seed, scale) under ``root``, written on
    first use. A finished corpus is published by one directory rename, so
    a run that dies half way never leaves a partial corpus behind."""
    final = os.path.join(root, f"{scale}-seed{seed}")
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, tbl in tables(seed, scale).items():
        pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"))
    try:
        os.rename(tmp, final)
    except OSError:  # another run published the same corpus first
        shutil.rmtree(tmp, ignore_errors=True)
    return final
