"""Seeded input generator for the graft benchmark.

Writes tables in the TESTDATA.md parquet schema (`lineitem`, `orders`,
`documents`, `embeddings`) from a numpy seed. The same (shape, seed)
always gives byte-identical files.

Files are written uncompressed with plain encoding. graft's size gates
key on leaf bytes (parquet file bytes), so this fixes how many bytes a
row weighs (about 80 B per lineitem row) independently of the value
distributions, and lets a modest row count sit on either side of a gate.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_1992_US = 694224000 * 1_000_000
DAY_US = 86400 * 1_000_000


def _write(table, path):
    pq.write_table(table, path, compression="none", use_dictionary=False,
                   row_group_size=1 << 20)


def intervals(out, rng, orders, hot_share=None):
    """TPC-H-shaped `orders` and `lineitem`: every order has 1-7 lines,
    so (l_orderkey, l_linenumber) is a key, as Tables.gr's row_id needs.
    `l_returnflag` is the chromosome of graft's interval view; with
    `hot_share` one chromosome ("N") holds that share of the rows."""
    okey = np.arange(orders, dtype=np.int64)
    status = rng.choice(np.array(["F", "O", "P"]), orders)
    prio = rng.choice(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                "4-NOT SPECIFIED", "5-LOW"]), orders)
    _write(pa.table({
        "o_orderkey": okey,
        "o_custkey": rng.integers(0, max(orders // 10, 1), orders),
        "o_orderstatus": status,
        "o_totalprice": np.round(rng.uniform(900.0, 500000.0, orders), 2),
        "o_orderdate": pa.array(EPOCH_1992_US + rng.integers(0, 2400, orders)
                                * DAY_US, pa.timestamp("us")),
        "o_orderpriority": prio,
    }), os.path.join(out, "orders.parquet"))

    lines = rng.integers(1, 8, orders)
    n = int(lines.sum())
    lkey = np.repeat(okey, lines)
    first = np.repeat(np.cumsum(lines) - lines, lines)
    lnum = (np.arange(n) - first + 1).astype(np.int32)
    qty = rng.integers(1, 51, n).astype(np.float64)
    if hot_share is None:
        flag = rng.choice(np.array(["A", "N", "R"]), n)
    else:
        cold = (1.0 - hot_share) / 2
        flag = rng.choice(np.array(["A", "N", "R"]), n, p=[cold, hot_share, cold])
    _write(pa.table({
        "l_orderkey": lkey,
        "l_partkey": rng.integers(0, 20000, n),
        "l_suppkey": rng.integers(0, 1000, n),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": flag,
        "l_linestatus": rng.choice(np.array(["F", "O"]), n),
        "l_shipdate": pa.array(EPOCH_1992_US + rng.integers(0, 2500, n) * DAY_US,
                               pa.timestamp("us")),
    }), os.path.join(out, "lineitem.parquet"))


def _mix(n):
    """Cluster id per item with MlBench.corpus's near-duplicate mix: 60%
    unique, 32% in clusters of about 30, 7% in clusters of about 300, 1%
    in clusters of about 3000 (cluster sizes capped by `n`)."""
    unique_end, small_end, med_end = n * 60 // 100, n * 92 // 100, n * 99 // 100
    cid = np.arange(n, dtype=np.int64)
    for lo, hi, size, base in ((unique_end, small_end, 30, 1 << 40),
                               (small_end, med_end, 300, 2 << 40),
                               (med_end, n, 3000, 3 << 40)):
        k = max(1, (hi - lo) // size)
        cid[lo:hi] = base + (np.arange(hi - lo) % k)
    return cid


def corpus(out, rng, docs, vecs):
    """`documents`: 40 tokens per doc over a 50k-token vocabulary; members
    of a near-duplicate cluster share the cluster's token sequence with
    5% of positions mutated to doc-unique tokens. `embeddings`: 64-d unit
    vectors; members of a group are the group's centre plus small noise."""
    perm = rng.permutation(docs)
    cid = _mix(docs)[perm]
    uniq, inv = np.unique(cid, return_inverse=True)
    base = rng.integers(0, 50000, (len(uniq), 40))[inv]
    mutate = rng.random((docs, 40)) < 0.05
    ids = np.arange(docs)
    text = []
    for d in range(docs):
        toks = [f"m{d}_{i}" if mutate[d, i] else f"w{base[d, i]}" for i in range(40)]
        text.append(" ".join(toks))
    langs = rng.choice(np.array(["en", "de", "es", "fr", "zh"]), docs,
                       p=[0.4, 0.15, 0.15, 0.15, 0.15])
    _write(pa.table({
        "doc_id": ids.astype(np.int64),
        "text": text,
        "lang": langs,
        "source": np.array([f"src{i % 20}" for i in ids]),
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    }), os.path.join(out, "documents.parquet"))

    gid = _mix(vecs)[rng.permutation(vecs)]
    guniq, ginv = np.unique(gid, return_inverse=True)
    centre = rng.normal(size=(len(guniq), 64))[ginv]
    v = centre + rng.normal(scale=0.05, size=(vecs, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": np.arange(vecs, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, vecs).astype(np.int32),
    }), os.path.join(out, "embeddings.parquet"))


def generate(out, shape, seed):
    """Write the inputs for `shape` (a workload's "inputs" dict) and
    return each table's leaf bytes."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    if "orders" in shape:
        intervals(out, rng, shape["orders"], shape.get("hot_share"))
    if "docs" in shape:
        corpus(out, rng, shape["docs"], shape["vecs"])
    sizes = {f[:-8]: os.path.getsize(os.path.join(out, f))
             for f in sorted(os.listdir(out)) if f.endswith(".parquet")}
    with open(os.path.join(out, "leaf_bytes.json"), "w") as f:
        json.dump(sizes, f)
    return sizes
