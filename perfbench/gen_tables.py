"""Seeded tables for the query_mix workload, in the harness star schema
(region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings): the column names and parquet types the inventory
queries read, with row counts proportional to `scale` (0.1 gives 600,000
lineitems).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("query row stream the spark line small fast group customer batch sort "
         "value hash filter big data dup part column order scan a slow agg key "
         "window table merge vector join").split()
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng, start, days, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def generate(seed, out, scale):
    """Write the ten tables under `out`; returns their row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust = max(100, int(150000 * scale))
    n_supp = max(20, int(10000 * scale))
    n_part = max(100, int(200000 * scale))
    n_ord = max(1000, int(1500000 * scale))
    n_ev = max(1000, int(1000000 * scale))
    n_doc = max(200, int(50000 * scale))
    n_emb = max(100, int(20000 * scale))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5), i32),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s)})
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array(np.arange(25) % 5, i32)})
    segs = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), f64),
        "c_mktsegment": pa.array(segs[rng.integers(0, 5, n_cust)], s)})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), f64)})
    adj = np.array("blue old small new large hot cold red".split())
    noun = np.array("widget gizmo ring gear bolt plate rod anvil".split())
    types = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
    pk = np.arange(n_part)
    _write(out, "part", {
        "p_partkey": pa.array(pk, i64),
        "p_name": pa.array(np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                                       noun[rng.integers(0, 8, n_part)]), s),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)), s),
        "p_type": pa.array(types[rng.integers(0, 6, n_part)], s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 2), f64)})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    status = np.array(["O", "F", "P"])
    odate = _dates(rng, "1995-01-01", 2405, n_ord)
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(status[rng.integers(0, 3, n_ord)], s),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord), f64),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": pa.array(prio[rng.integers(0, 5, n_ord)], s)})
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord), lines)
    start = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, n_li).astype(float)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(okey, i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(np.arange(n_li) - start + 1, i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2000.0, n_li), 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, f64),
        "l_returnflag": pa.array(np.array(["N", "A", "R"])[rng.integers(0, 3, n_li)], s),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n_li)], s),
        "l_shipdate": pa.array(odate[okey] + rng.integers(1, 122, n_li).astype(
            "timedelta64[D]").astype("timedelta64[us]"), pa.timestamp("us"))})
    ev_types = np.array(["signup", "click", "error", "view", "purchase"])
    ts = np.sort(np.datetime64("2024-01-01", "us") +
                 rng.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]"))
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(10, n_ev // 66), n_ev), i64),
        "event_type": pa.array(ev_types[rng.integers(0, 5, n_ev)], s),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s)})
    vocab = np.array(VOCAB)
    texts = []
    for _ in range(n_doc):
        texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(8, 80)))]))
    for i in rng.choice(n_doc, max(2, n_doc // 500), replace=False):
        texts[i] = texts[(i + 1) % n_doc]  # a few exact duplicates
    for i in rng.choice(n_doc, max(2, n_doc // 50), replace=False):
        w = texts[(i + 7) % n_doc].split()
        w[len(w) // 2] = "dup"  # near duplicates, one word apart
        texts[i] = " ".join(w)
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)], s),
        "source": pa.array(np.char.add("src", rng.integers(0, 20, n_doc).astype(str)), s),
        "n_chars": pa.array([len(t) for t in texts], i64)})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 0.8, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
    return {"customer": n_cust, "orders": n_ord, "lineitem": n_li, "events": n_ev,
            "documents": n_doc, "embeddings": n_emb}
