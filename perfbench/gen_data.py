"""Deterministic sf0.1-shaped input tables for the benchmark.

The tables have the same names, column types and value domains as the
repo's test data (a TPC-H-ish star schema plus `events`, `documents` and
`embeddings`), at scale factor 0.1. Generation uses one fixed seed, so
every checkout builds byte-identical inputs; the workload seed only picks
increments, samples and orders out of these tables.

Usage: python3 gen_data.py OUT_DIR
"""
import hashlib
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
SF = 0.1
# bump when the generated data changes, so cached copies are rebuilt
VERSION = "3"

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ADJ = ["blue", "old", "red", "large", "hot", "cold", "small", "new"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]


def _days(rng, n, start, span_days):
    d = np.datetime64(start, "D") + rng.integers(0, span_days, n)
    return d.astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables():
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp, n_part = int(150000 * SF), int(10000 * SF), int(200000 * SF)
    n_ord, n_li = int(1500000 * SF), int(6000000 * SF)
    n_ev, n_doc, n_emb = int(1000000 * SF), int(50000 * SF), int(20000 * SF)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": REGIONS})
    nk = np.arange(25, dtype=np.int32)
    t["nation"] = pa.table({
        "n_nationkey": nk, "n_name": [f"NATION_{i}" for i in nk],
        "n_regionkey": (nk % 5).astype(np.int32)})
    ck = np.arange(n_cust, dtype=np.int64)
    t["customer"] = pa.table({
        "c_custkey": ck, "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    sk = np.arange(n_supp, dtype=np.int64)
    t["supplier"] = pa.table({
        "s_suppkey": sk, "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    names = np.char.add(np.char.add(np.array(ADJ)[rng.integers(0, 8, n_part)], " "),
                        np.array(NOUN)[rng.integers(0, 8, n_part)])
    t["part"] = pa.table({
        "p_partkey": pk, "p_name": names,
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", 2404),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, n_li, "1995-01-02", 2498)})
    # events: 30 days of monotone timestamps (event_id order == ts order)
    span_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, span_us, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    # documents: random-vocabulary texts; 5% are near-dups of another doc
    # (its text plus " dup"), a handful are exact copies. A copy's original
    # is one of the 300 documents before it, and the copy keeps its
    # language: the corpus workload lands documents in id order, so its
    # cycles meet copies of documents they have just accepted
    nw = rng.integers(10, 100, n_doc)
    vocab = np.array(WORDS)
    texts = [" ".join(vocab[rng.integers(0, len(WORDS), k)]) for k in nw]
    langs = np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)]
    ids = rng.permutation(np.arange(1, n_doc))
    near, exact = ids[: n_doc // 20], ids[n_doc // 20: n_doc // 20 + 8]
    copy = np.zeros(n_doc, dtype=bool)
    copy[near] = copy[exact] = True
    for d, suffix in [(d, " dup") for d in near] + [(d, "") for d in exact]:
        lo = max(0, d - 300)
        originals = lo + np.flatnonzero(~copy[lo:d])
        if len(originals):
            o = rng.choice(originals)
            texts[d], langs[d] = texts[o] + suffix, langs[o]
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64), "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})
    return t


def generate(out_dir):
    """Writes one parquet file per table into OUT_DIR, plus `SHA256`, the
    digest of their bytes (atomically: a partial directory never looks
    complete)."""
    tmp = out_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    h = hashlib.sha256()
    for name, table in tables().items():
        path = os.path.join(tmp, f"{name}.parquet")
        pq.write_table(table, path)
        with open(path, "rb") as f:
            h.update(f.read())
    with open(os.path.join(tmp, "SHA256"), "w") as f:
        f.write(h.hexdigest())
    os.replace(tmp, out_dir)


def digest(data_dir):
    with open(os.path.join(data_dir, "SHA256")) as f:
        return f.read().strip()


if __name__ == "__main__":
    generate(sys.argv[1])
