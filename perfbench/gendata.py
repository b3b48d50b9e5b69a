"""Deterministic synthetic lake for the benchmark.

Writes one parquet file per table the workloads read (the TPC-H-shaped
star schema, an `events` stream table and a `documents` corpus) with the
same column names and physical types the program's `graft.Tables.load`
expects. The lake depends only on the scale factor: the run seed never
reaches it, so the output digests pinned in `pins.json` hold for every
seed. Usage: python3 perfbench/gendata.py <sf> <out_dir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LAKE_SEED = 20240501
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
PART_ADJ = ["small", "large", "red", "blue", "old", "new", "hot", "cold"]
PART_NOUN = ["widget", "bolt", "gear", "ring", "plate", "anvil", "gizmo", "rod"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
LANGS = ["en", "en", "de", "es", "fr", "zh"]

US = pa.timestamp("us")


def sizes(sf):
    return {
        "customer": max(50, int(15000 * sf)),
        "orders": max(500, int(150000 * sf)),
        "part": max(100, int(20000 * sf)),
        "events": max(500, int(100000 * sf)),
        "documents": max(120, int(50000 * sf)),
        "gmaps_reviews": max(200, int(20000 * sf)),
    }


def micros(day0, days):
    return (np.datetime64(day0, "us") + days.astype("timedelta64[D]")).astype("int64")


def to_ts(us):
    return pa.array(us, type=pa.int64()).cast(US)


def customer(rng, n):
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)],
    })


def orders_lineitem(rng, n_orders, n_cust, n_part):
    okeys = np.arange(n_orders, dtype=np.int64)
    odays = rng.integers(0, 2404, n_orders)  # 1995-01-01 .. 2001-08-01
    orders = pa.table({
        "o_orderkey": okeys,
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_orders), 2),
        "o_orderdate": to_ts(micros("1995-01-01", odays)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
    })
    lines = rng.integers(1, 8, n_orders)
    lok = np.repeat(okeys, lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    n = len(lok)
    qty = rng.integers(1, 51, n).astype(np.float64)
    ship = np.repeat(odays, lines) + rng.integers(1, 122, n)
    lineitem = pa.table({
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, n_part, n).astype(np.int64),
        "l_suppkey": rng.integers(0, 10, n).astype(np.int64),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": to_ts(micros("1995-01-01", ship)),
    })
    return orders, lineitem


def part(rng, n):
    keys = np.arange(n, dtype=np.int64)
    names = [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
             zip(rng.integers(0, 8, n), rng.integers(0, 8, n))]
    return pa.table({
        "p_partkey": keys,
        "p_name": names,
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n)],
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 200) / 10.0, 1),
    })


def events(rng, n):
    users = max(15, n // 70)
    # sub-second timestamps: exact 30-minute gaps never occur
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n)) + \
        np.datetime64("2024-01-01", "us").astype("int64")
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": to_ts(ts),
        "user_id": rng.integers(0, users, n).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def documents(rng, n):
    texts, langs = [], []
    for i in range(n):
        r = rng.random()
        if i > 20 and r < 0.08:
            # near duplicate: an earlier doc with one word replaced
            src = texts[int(rng.integers(0, i))].split()
            src[int(rng.integers(0, len(src)))] = "dup"
            texts.append(" ".join(src))
        elif i > 20 and r < 0.10:
            texts.append(texts[int(rng.integers(0, i))])  # exact duplicate
        else:
            words = np.array(WORDS)[rng.integers(0, len(WORDS), int(rng.integers(10, 101)))]
            texts.append(" ".join(words))
        langs.append(LANGS[int(rng.integers(0, len(LANGS)))])
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def gmaps_reviews(rng, n):
    """Raw gmaps reviews for the reference warehouse: the two fixture
    places, every relative-date form the ods cleaner resolves."""
    places = np.array(["台北塔樓", "木柵動物園"])
    units = np.array(["分鐘前", "小時前", "天前", "週前", "個月前", "年前"])
    amount = rng.integers(1, 12, n)
    unit = units[rng.integers(0, len(units), n)]
    users = rng.integers(0, max(10, n // 20), n)
    return pa.table({
        "place_name": places[rng.integers(0, 2, n)],
        "review_id": [f"r{i}" for i in range(n)],
        "rating": rng.integers(1, 6, n).astype(np.int64),
        "review_text": np.array(WORDS)[rng.integers(0, len(WORDS), n)],
        "published_at": [f"{a}{u}" for a, u in zip(amount, unit)],
        "extracted_at": ["2024-05-01 08:00:00"] * n,
        "user_name": [f"u{u}" for u in users],
        "user_url": [f"http://u/{u}" for u in users],
    })


def small_dims(rng):
    """region, nation and supplier: read by no workload, present so the
    oracle's views over the whole lake bind."""
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    return {
        "region": pa.table({"r_regionkey": np.arange(5, dtype=np.int32),
                            "r_name": regions}),
        "nation": pa.table({"n_nationkey": np.arange(25, dtype=np.int32),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": (np.arange(25) % 5).astype(np.int32)}),
        "supplier": pa.table({"s_suppkey": np.arange(10, dtype=np.int64),
                              "s_name": [f"Supplier#{i:09d}" for i in range(10)],
                              "s_nationkey": rng.integers(0, 25, 10).astype(np.int32),
                              "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, 10), 2)}),
    }


def embeddings(rng, n, dims=64, clusters=10):
    centers = rng.normal(0.0, 1.0, (clusters, dims))
    label = rng.integers(0, clusters, n)
    vecs = (centers[label] + rng.normal(0.0, 0.3, (n, dims))).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })


def generate(sf, out):
    n = sizes(sf)
    rng = np.random.default_rng(LAKE_SEED)
    orders, lineitem = orders_lineitem(rng, n["orders"], n["customer"], n["part"])
    tables = {
        "customer": customer(rng, n["customer"]),
        "orders": orders,
        "lineitem": lineitem,
        "part": part(rng, n["part"]),
        "events": events(rng, n["events"]),
        "documents": documents(rng, n["documents"]),
        "gmaps_reviews": gmaps_reviews(rng, n["gmaps_reviews"]),
    }
    tables.update(small_dims(rng))
    tables["embeddings"] = embeddings(rng, 500)
    tmp = out + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(tmp, f"{name}.parquet"))
    os.rename(tmp, out)


if __name__ == "__main__":
    generate(float(sys.argv[1]), sys.argv[2])
