"""Generate an sf1.0-SHAPED measurement dataset (NOT driver data).

The driver's own sf1.0 directory (BENCH_r05.json: "sf": 1.0) is generated by
the driver at measurement time and is not present between rounds. This tool
synthesizes a stand-in with the same schemas, row counts and marginal
distributions as the driver tables, extrapolated from /root/testdata/sf0.1
(fits recorded below; all uniform/exponential). It exists ONLY so this
round's before/after timings can be taken at the driver's measurement scale;
correctness is still gated on the real sf0.001/0.01/0.1 driver data.

Row-count scaling observed across sf0.001/0.01/0.1 (per 1.0 of sf):
  lineitem 6M, orders 1.5M, customer 150k, part 200k, supplier 10k,
  documents 50k, events 1M (users = customers/10 = 15k, constant ~30-day
  span so ts gaps shrink 10x per sf step), embeddings x4 per sf step
  (500 -> 2000 -> 8000).

Layout fidelity: one parquet file, ONE row group per table — the exact
single-split shape of the shipped test data, which `spread` (sources/tables.py) compensates for.

Usage: python tools/make_sf.py [sf] [outdir]   (default 1.0 /root/bigdata)
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.40, 0.15, 0.15, 0.15, 0.15]
ADJ = ["large", "hot", "blue", "cold", "small", "new", "old", "red"]
NOUN = ["ring", "bolt", "anvil", "gear", "gizmo", "plate", "rod", "widget"]


def _write(outdir: str, name: str, table: pa.Table) -> None:
    path = os.path.join(outdir, f"{name}.parquet")
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))
    print(f"  {name}: {table.num_rows} rows -> {path}")


def _midnights(rng, n, start, end):
    days = (np.datetime64(end) - np.datetime64(start)).astype(int)
    return (
        np.datetime64(start)
        + rng.integers(0, days + 1, n).astype("timedelta64[D]")
    ).astype("datetime64[us]")


def main() -> None:
    sf = float(sys.argv[1]) if len(sys.argv) > 1 else 1.0
    base = sys.argv[2] if len(sys.argv) > 2 else "/root/bigdata"
    outdir = os.path.join(base, f"sf{sf:g}")
    os.makedirs(outdir, exist_ok=True)
    rng = np.random.default_rng(4242)

    n_cust = int(150000 * sf)
    n_ord = int(1500000 * sf)
    n_li = int(6000000 * sf)
    n_part = int(200000 * sf)
    n_supp = int(10000 * sf)
    n_doc = int(50000 * sf)
    n_ev = int(1000000 * sf)
    n_users = max(1, n_cust // 10)
    # embeddings grow 4x per 10x sf step: 8000 at sf1.0, 2000 at sf0.1
    n_emb = int(round(8000 * (4 ** np.log10(sf)))) if sf != 1.0 else 8000

    # region / nation: copy the fixed dimension tables verbatim
    for name in ("region", "nation"):
        src = pq.read_table(f"/root/testdata/sf0.1/{name}.parquet")
        _write(outdir, name, src)

    # customer
    _write(outdir, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": pa.array(np.array(
            ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
        )[rng.integers(0, 5, n_cust)]),
    }))

    # supplier
    _write(outdir, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(0, 10000, n_supp), 2),
    }))

    # part (retailprice = 900 + (key % 1000)/10, as in the driver data)
    keys = np.arange(n_part)
    _write(outdir, "part", pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [
            f"{ADJ[a]} {NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": pa.array(np.array(
            ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
        )[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
    }))

    # orders
    _write(outdir, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": pa.array(_midnights(rng, n_ord, "1995-01-01", "2001-08-01")),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n_ord)]),
    }))

    # lineitem
    _write(outdir, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pa.array(np.array(["N", "R", "A"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(_midnights(rng, n_li, "1995-01-01", "2001-11-04")),
    }))

    # documents: wc ~ U[10,100] words drawn uniformly from the 31-word vocab
    wcs = rng.integers(10, 101, n_doc)
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(words), wc)]) for wc in wcs]
    _write(outdir, "documents", pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))

    # embeddings: random unit vectors (intra-label cosine ~= inter ~= 0 in
    # the driver data), labels independent uniform 0..9
    V = rng.standard_normal((n_emb, 64)).astype(np.float32)
    V /= np.linalg.norm(V, axis=1, keepdims=True)
    _write(outdir, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(V), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    }))

    # events: ~30-day span regardless of sf (gaps shrink with row count)
    span_s = 2592000.0  # sf0.1: mean gap 25.9s * 100k rows
    gaps = rng.exponential(span_s / n_ev, n_ev)
    ts = np.datetime64("2024-01-01") + (np.cumsum(gaps) * 1e6).astype("timedelta64[us]")
    _write(outdir, "events", pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": pa.array(np.array(
            ["signup", "purchase", "view", "click", "error"]
        )[rng.integers(0, 5, n_ev)]),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    }))

    print(f"done: {outdir}")


if __name__ == "__main__":
    main()
