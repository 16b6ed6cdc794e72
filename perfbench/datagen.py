"""Seeded synthetic inputs for the workload benchmark.

Writes the ten tables the program's `graft.core.Tables` reads (same names,
columns and parquet types as the repository's test data) into one directory.
The same (seed, scale) always yields byte-identical values.

Documents draw from a Zipf-weighted vocabulary and plant exact copies and
near-copies (a few tokens edited), so the dedup and clustering paths have
real work. Embeddings are label-clustered 64-d float32
vectors with a few near-duplicate vectors.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts per table at one scale unit. SIZES[name] * scale rows are
# written; dimension tables that the queries join on scale with their facts.
SIZES = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,  # not drawn directly: 1-7 lines per order
    "events": 10_000,
    "documents": 1_000,
    "embeddings": 1_000,
}

LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.5, 0.15, 0.15, 0.12, 0.08]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EMB_DIM = 64
N_LABELS = 10


def rows(table: str, scale: float) -> int:
    return max(1, int(round(SIZES[table] * scale)))


def _vocab(rng: np.random.Generator, n: int = 400) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        k = int(rng.integers(2, 8))
        words.add("".join(rng.choice(letters, size=k)))
    return np.array(sorted(words))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = _vocab(rng)
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    p = 1.0 / ranks**1.05
    p /= p.sum()
    # copies are made of original documents only, so duplicate clusters are
    # stars of the same depth for every seed (a copy of a copy would chain
    # them, and the connected-components rounds would vary with the seed)
    texts, originals = [], []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.04:  # exact copy of an earlier original
            texts.append(texts[originals[int(rng.integers(0, len(originals)))]])
            continue
        if i > 10 and r < 0.14:  # near copy: a few tokens replaced or appended
            toks = texts[originals[int(rng.integers(0, len(originals)))]].split(" ")
            for _ in range(int(rng.integers(1, 3))):
                toks[int(rng.integers(0, len(toks)))] = vocab[int(rng.integers(0, len(vocab)))]
            if rng.random() < 0.5:
                toks.append(vocab[int(rng.integers(0, len(vocab)))])
            texts.append(" ".join(toks))
            continue
        length = int(rng.integers(12, 90))
        originals.append(len(texts))
        texts.append(" ".join(rng.choice(vocab, size=length, p=p)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{int(s)}" for s in rng.integers(0, 20, size=n)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centroids = rng.normal(0.0, 1.0, size=(N_LABELS, EMB_DIM))
    labels = rng.integers(0, N_LABELS, size=n).astype(np.int32)
    vecs = centroids[labels] + rng.normal(0.0, 0.6, size=(n, EMB_DIM))
    dup = rng.random(n) < 0.03
    for i in np.nonzero(dup)[0]:
        if i > 0:
            vecs[i] = vecs[int(rng.integers(0, i))] + rng.normal(0.0, 0.01, size=EMB_DIM)
    vecs = vecs.astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels),
    })


def _ts(days_from: str, seconds: np.ndarray) -> pa.Array:
    base = np.datetime64(days_from, "us")
    return pa.array(base + seconds.astype("timedelta64[us]"), pa.timestamp("us"))


def generate(out_dir: str, seed: int, scale: float = 1.0) -> None:
    """Write every table for `seed` under `out_dir` (created if missing)."""
    rng = np.random.default_rng(seed)
    n = {k: rows(k, scale) for k in SIZES}
    os.makedirs(out_dir, exist_ok=True)

    def write(name: str, table: pa.Table) -> None:
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))

    write("region", pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    }))
    write("nation", pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    }))
    nc = n["customer"]
    write("customer", pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, size=nc).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, size=nc), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, size=nc)),
    }))
    ns = n["supplier"]
    write("supplier", pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, size=ns).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, size=ns), 2)),
    }))
    npart = n["part"]
    adjs = np.array(["large", "small", "hot", "cold", "shiny", "matte"])
    nouns = np.array(["ring", "bolt", "gear", "pipe", "valve", "plate"])
    write("part", pa.table({
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(rng.choice(adjs, npart), rng.choice(nouns, npart))]),
        "p_brand": pa.array([f"Brand#{int(b)}" for b in rng.integers(1, 26, size=npart)]),
        "p_type": pa.array(rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], npart)),
        "p_size": pa.array(rng.integers(1, 51, size=npart).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + np.arange(npart) % 1000 * 0.1, 2)),
    }))
    no = n["orders"]
    write("orders", pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, size=no).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], size=no)),
        "o_totalprice": pa.array(np.round(rng.uniform(900.0, 480000.0, size=no), 2)),
        "o_orderdate": _ts("1992-01-01", rng.integers(0, 2400, size=no) * 86_400_000_000),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, size=no)),
    }))
    # 1-7 lines per order, numbered from 1 as in TPC-H, so (orderkey,
    # linenumber) is a key; SIZES["lineitem"] is the expected row count
    lines = rng.integers(1, 8, size=no)
    orderkey = np.repeat(np.arange(no, dtype=np.int64), lines)
    linenumber = (np.arange(len(orderkey)) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    nl = len(orderkey)
    qty = rng.integers(1, 51, size=nl).astype(np.float64)
    write("lineitem", pa.table({
        "l_orderkey": pa.array(orderkey),
        "l_partkey": pa.array(rng.integers(0, npart, size=nl).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, size=nl).astype(np.int64)),
        "l_linenumber": pa.array(linenumber),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, size=nl), 2)),
        "l_discount": pa.array(rng.integers(0, 11, size=nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, size=nl) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], size=nl)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], size=nl)),
        "l_shipdate": _ts("1995-01-01", rng.integers(0, 2500, size=nl) * 86_400_000_000),
    }))
    ne = n["events"]
    secs = np.sort(rng.integers(0, ne * 40 * 1_000_000, size=ne))
    write("events", pa.table({
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": _ts("2024-01-01", secs),
        "user_id": pa.array(rng.integers(0, nc, size=ne).astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, size=ne)),
        "value": pa.array(np.round(rng.uniform(0.0, 200.0, size=ne), 2)),
        "props": pa.array([f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, size=ne)]),
    }))
    write("documents", _documents(rng, n["documents"]))
    write("embeddings", _embeddings(rng, n["embeddings"]))


if __name__ == "__main__":
    import sys
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]) if len(sys.argv) > 3 else 1.0)
