"""Generate a larger-scale testdata directory matching the sf0.1 distributions.

The driver's round-end bench may run at a driver-generated sf1.0
(BENCH_r05.json: "sf": 1.0); that directory is not persisted between
sessions, so this script regenerates a distribution-faithful equivalent
for measurement.  Every distribution below was measured from
/root/testdata/sf0.1 (row counts, domains, ranges, near-dup rates); the
seed is fixed so the dataset is deterministic.

Usage: python tools/make_sf_data.py [sf] [outdir]
       (defaults: 1.0  /root/testdata/sf1.0)
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "batch", "part", "line", "order", "small", "sort", "fast",
    "scan", "a", "hash", "slow", "group", "agg", "filter", "query", "big",
    "key", "join", "shuffle", "cache", "read", "write", "plan",
]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_W = [0.41, 0.15, 0.15, 0.15, 0.14]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PNAME_ADJ = ["large", "hot", "blue", "red", "green", "small", "dim", "pale"]
PNAME_NOUN = ["ring", "bolt", "nut", "washer", "gear", "plate", "rod", "cap"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]

US = 1_000_000


def _day_us(s):
    """Microseconds since the epoch at midnight UTC of ISO date ``s``, on
    any host time zone."""
    import datetime

    d = datetime.datetime.fromisoformat(s).replace(tzinfo=datetime.timezone.utc)
    return int(d.timestamp()) * US


def make(sf, out):
    rng = np.random.default_rng(20260822)
    mult = sf / 0.1
    n_cust = int(15000 * mult)
    n_doc = int(5000 * mult)
    n_emb = int(2000 * mult)
    n_ev = int(100000 * mult)
    n_li = int(600000 * mult)
    n_ord = int(150000 * mult)
    n_part = int(20000 * mult)
    n_supp = int(1000 * mult)
    os.makedirs(out, exist_ok=True)

    def w(name, table):
        pq.write_table(table, os.path.join(out, name))
        print(name, table.num_rows)

    # region / nation
    w("region.parquet", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }))
    w("nation.parquet", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))

    # customer
    w("customer.parquet", pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    }))

    # supplier
    w("supplier.parquet", pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, n_supp), 2),
    }))

    # part (retailprice keeps the sf0.1 range 900..2900 regardless of n)
    w("part.parquet", pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{PNAME_ADJ[a]} {PNAME_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + 0.1 * (np.arange(n_part) % 20000), 2),
    }))

    # orders
    od_lo, od_hi = _day_us("1995-01-01"), _day_us("2001-08-01")
    w("orders.parquet", pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["P", "O", "F"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": pa.array(rng.integers(od_lo, od_hi, n_ord), pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    }))

    # lineitem
    sd_lo, sd_hi = _day_us("1995-01-02"), _day_us("2001-11-04")
    w("lineitem.parquet", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["N", "R", "A"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(rng.integers(sd_lo, sd_hi, n_li), pa.timestamp("us")),
    }))

    # events (value ~ Exp(mean 50) capped, props = {"k": 0..99})
    ev_lo, ev_hi = _day_us("2024-01-01"), _day_us("2024-01-31")
    w("events.parquet", pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(rng.integers(ev_lo, ev_hi, n_ev), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_cust, n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(np.minimum(rng.exponential(50.0, n_ev), 560.21), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    }))

    # documents: 31-word soup, len U(10,100); 5% near-dup (1-3 token
    # mutations of an earlier doc), 0.16% exact dup — both measured rates.
    texts = []
    voc = np.array(VOCAB)
    for i in range(n_doc):
        r = rng.random()
        if i > 10 and r < 0.0016:
            texts.append(texts[rng.integers(0, i)])
        elif i > 10 and r < 0.05:
            base = texts[rng.integers(0, i)].split()
            for _ in range(rng.integers(1, 4)):
                base[rng.integers(0, len(base))] = voc[rng.integers(0, 31)]
            texts.append(" ".join(base))
        else:
            L = rng.integers(10, 101)
            texts.append(" ".join(voc[rng.integers(0, 31, L)]))
    w("documents.parquet", pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_W)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))

    # embeddings: random unit 64-dim float32, label U(0,9)
    E = rng.standard_normal((n_emb, 64)).astype(np.float32)
    E /= np.linalg.norm(E, axis=1, keepdims=True)
    w("embeddings.parquet", pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array([row for row in E.tolist()], pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    }))

    open(os.path.join(out, "_DONE"), "w").close()


if __name__ == "__main__":
    sf = float(sys.argv[1]) if len(sys.argv) > 1 else 1.0
    out = sys.argv[2] if len(sys.argv) > 2 else f"/root/testdata/sf{sys.argv[1] if len(sys.argv) > 1 else '1.0'}"
    make(sf, out)
