"""Seeded generator for the benchmark's input tables.

Writes the TPC-H-ish star schema the engine's sources read (region,
nation, customer, supplier, part, orders, lineitem) plus the two corpus
tables (documents, embeddings) as one parquet file each. Row counts
depend only on the scale factor; every value depends only on the seed,
so the same (seed, sf) always produces byte-identical tables.

Shape follows the reference test data: ~4 lineitems per order (line
numbers unique within an order), orders spread over 1995-2001, a
32-word document vocabulary with a share of near-duplicate documents
(a copy of an earlier document plus a marker word), a month of
timestamped events, and unit-norm
64-dimension embeddings drawn around ten cluster centres, a share of
them near-copies of an earlier vector.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per table at sf 0.01; every table scales linearly with sf
BASE_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "documents": 500,
    "embeddings": 500,
    "events": 10000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "new", "old", "red", "small", "big"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window sketch index"
).split()
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "es", "zh", "de", "fr"]
EMBED_DIM = 64

_EPOCH = dt.datetime(1970, 1, 1)
_ORDER_START = (dt.datetime(1995, 1, 1) - _EPOCH).days
_ORDER_DAYS = (dt.datetime(2001, 8, 1) - dt.datetime(1995, 1, 1)).days


def rows_at(sf: float) -> dict[str, int]:
    return {name: max(1, round(n * sf / 0.01)) for name, n in BASE_ROWS.items()}


def _days_to_ts(days: np.ndarray) -> pa.Array:
    micros = days.astype("int64") * 86_400_000_000
    return pa.array(micros, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(seed: int, sf: float) -> dict[str, pa.Table]:
    """All tables for (seed, sf) as in-memory arrow tables."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n = rows_at(sf)
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

    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
    })

    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })

    npart = n["part"]
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), npart)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), npart)]
    out["part"] = pa.table({
        "p_partkey": np.arange(npart, dtype="int64"),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), npart)],
        "p_size": rng.integers(1, 51, npart).astype("int32"),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2),
    })

    no = n["orders"]
    odays = _ORDER_START + rng.integers(0, _ORDER_DAYS + 1, no)
    out["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype="int64"),
        "o_custkey": rng.integers(0, nc, no).astype("int64"),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days_to_ts(odays),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
    })

    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    l_order = np.repeat(np.arange(no, dtype="int64"), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_line = (np.arange(nl) - starts + 1).astype("int32")
    qty = rng.integers(1, 51, nl).astype("float64")
    out["lineitem"] = pa.table({
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, npart, nl).astype("int64"),
        "l_suppkey": rng.integers(0, ns, nl).astype("int64"),
        "l_linenumber": l_line,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _days_to_ts(odays[l_order] + rng.integers(1, 122, nl)),
    })

    nev = n["events"]
    ev_start = (dt.datetime(2024, 1, 1) - _EPOCH).total_seconds() * 1e6
    ev_ts = np.sort(rng.integers(0, 30 * 86_400_000_000, nev)) + int(ev_start)
    out["events"] = pa.table({
        "event_id": np.arange(nev, dtype="int64"),
        "ts": pa.array(ev_ts, type=pa.timestamp("us")),
        "user_id": rng.integers(0, max(1, nev // 66), nev).astype("int64"),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), nev)],
        "value": _money(rng, 0.0, 100.0, nev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, nev)],
    })

    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def _documents(rng: np.random.Generator, nd: int) -> pa.Table:
    texts: list[str] = []
    for i in range(nd):
        if i >= 10 and rng.random() < 0.15:
            # near-duplicate: an earlier document plus a marker word
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(rng.integers(8, 100)))]
            texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(nd, dtype="int64"),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), nd)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })


def _embeddings(rng: np.random.Generator, ne: int) -> pa.Table:
    centres = rng.normal(size=(10, EMBED_DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = rng.integers(0, 10, ne)
    vecs = centres[label] * 0.6 + rng.normal(scale=0.1, size=(ne, EMBED_DIM))
    for i in range(10, ne):
        if rng.random() < 0.1:  # near-copy of an earlier vector
            j = int(rng.integers(0, i))
            vecs[i] = vecs[j] + rng.normal(scale=0.01, size=EMBED_DIM)
            label[i] = label[j]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype("float32").ravel(), pa.float32())
    return pa.table({
        "vec_id": np.arange(ne, dtype="int64"),
        "embedding": pa.FixedSizeListArray.from_arrays(flat, EMBED_DIM).cast(
            pa.list_(pa.float32())
        ),
        "label": label.astype("int32"),
    })


def materialize(root: str, seed: int, sf: float) -> str:
    """Directory holding the (seed, sf) tables, generated on first use.
    Written under a temporary name and renamed into place, so a run
    that is cut short never leaves a half-written dataset behind."""
    path = os.path.join(root, f"sf{sf:g}-seed{seed}")
    if os.path.isdir(path):
        return path
    tmp = f"{path}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in generate(seed, sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.replace(tmp, path)
    return path
