"""Seeded input corpus for the benchmark.

Follows `graft.ScaleGen`'s recipe at multiplier m = 1 (the sf0.1-sized
corpus): the same tables, row counts, column types and value
distributions, every column derived from a hash of (row id, salt). The
seed is folded into every salt, so each seed gives a different corpus of
the same shape and the same seed always gives the same corpus. The hash
is a splitmix64 finalizer rather than Spark's xxhash64, so the corpus is
written without a JVM. Tables are single parquet files with one row group
and the physical types of the fixed testdata corpus.

Usage: python3 perfbench/corpus.py <out_dir> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["batch", "part", "spark", "line", "column", "order", "small", "sort",
         "hash", "value", "scan", "fast", "slow", "query", "agg", "table",
         "group", "vector", "a", "b"]
DAY_US = 86400 * 1_000_000
ORDER_EPOCH_US = int(np.datetime64("1995-01-01T00:00:00", "us").astype(np.int64))
EVENT_EPOCH_US = int(np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64))
GOLDEN = np.uint64(0x9E3779B97F4A7C15)


def _mix(x):
    """splitmix64 finalizer over a uint64 array (wrapping arithmetic)."""
    x = x ^ (x >> np.uint64(30))
    x = x * np.uint64(0xBF58476D1CE4E5B9)
    x = x ^ (x >> np.uint64(27))
    x = x * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


class Hasher:
    def __init__(self, seed: int):
        self.seed = np.uint64(seed % (1 << 64))

    def _salt(self, salt: int):
        return _mix(np.array([self.seed * GOLDEN + np.uint64(salt)], dtype=np.uint64))[0]

    def raw(self, ids, salt: int, sub=None):
        x = np.asarray(ids).astype(np.uint64) ^ self._salt(salt)
        if sub is not None:
            x = _mix(x) + np.asarray(sub).astype(np.uint64) * GOLDEN
        return _mix(x)

    def h(self, ids, salt: int, n: int, sub=None):
        """Uniform int64 in [0, n) from (id[, sub], salt, seed)."""
        return (self.raw(ids, salt, sub) % np.uint64(n)).astype(np.int64)


def _pick(choices, idx):
    return np.array(choices, dtype=object)[idx]


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"),
                   row_group_size=1 << 30)


def generate(out_dir: str, seed: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    with np.errstate(over="ignore"):
        _generate(out_dir, Hasher(seed))
    open(os.path.join(out_dir, "_SUCCESS"), "w").close()


def _generate(out_dir, hs):
    n_orders, n_cust, n_part, n_supp = 150_000, 15_000, 20_000, 1_000
    n_users, n_events, n_docs, n_vecs, n_labels = 1_500, 100_000, 5_000, 2_000, 10

    r = np.arange(5)
    _write(out_dir, "region", {
        "r_regionkey": pa.array(r, pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})

    n = np.arange(25)
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(n, pa.int32()),
        "n_name": [f"NATION_{i}" for i in n],
        "n_regionkey": pa.array(n % 5, pa.int32())})

    s = np.arange(n_supp)
    _write(out_dir, "supplier", {
        "s_suppkey": s,
        "s_name": [f"Supplier#{i:09d}" for i in s],
        "s_nationkey": pa.array(hs.h(s, 1, 25), pa.int32()),
        "s_acctbal": hs.h(s, 2, 999999) / 100.0})

    p = np.arange(n_part)
    adj = _pick(["large", "hot", "blue", "small", "red", "green", "dim", "shiny"], hs.h(p, 3, 8))
    noun = _pick(["ring", "bolt", "washer", "nut", "gear", "cam", "rod", "pin"], hs.h(p, 4, 8))
    _write(out_dir, "part", {
        "p_partkey": p,
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in hs.h(p, 5, 25)],
        "p_type": _pick(["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO"], hs.h(p, 6, 5)),
        "p_size": pa.array(hs.h(p, 7, 50) + 1, pa.int32()),
        "p_retailprice": 900.0 + p * 0.1})

    c = np.arange(n_cust)
    _write(out_dir, "customer", {
        "c_custkey": c,
        "c_name": [f"Customer#{i:09d}" for i in c],
        "c_nationkey": pa.array(hs.h(c, 8, 25), pa.int32()),
        "c_acctbal": hs.h(c, 9, 999999) / 100.0,
        "c_mktsegment": _pick(["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING",
                               "HOUSEHOLD"], hs.h(c, 10, 5))})

    o = np.arange(n_orders)
    _write(out_dir, "orders", {
        "o_orderkey": o,
        "o_custkey": hs.h(o, 11, n_cust),
        "o_orderstatus": _pick(["O", "P", "F"], hs.h(o, 12, 3)),
        "o_totalprice": hs.h(o, 13, 45_000_000) / 100.0 + 1000.0,
        "o_orderdate": _ts(ORDER_EPOCH_US + hs.h(o, 14, 2400) * DAY_US),
        "o_orderpriority": _pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                  "5-LOW"], hs.h(o, 15, 5))})

    # ~4 lines per order: order o has lines 1..(1 + h % 7)
    lines_per = hs.h(o, 16, 7) + 1
    lo = np.repeat(o, lines_per)
    ln = np.concatenate([np.arange(1, k + 1) for k in lines_per])
    key = lo * 8 + ln
    _write(out_dir, "lineitem", {
        "l_orderkey": lo,
        "l_partkey": hs.h(key, 17, n_part),
        "l_suppkey": hs.h(key, 18, n_supp),
        "l_linenumber": pa.array(ln, pa.int32()),
        "l_quantity": (hs.h(key, 19, 50) + 1).astype(np.float64),
        "l_extendedprice": hs.h(key, 20, 10_000_000) / 100.0 + 900.0,
        "l_discount": hs.h(key, 21, 11) / 100.0,
        "l_tax": hs.h(key, 22, 9) / 100.0,
        "l_returnflag": _pick(["A", "N", "R"], hs.h(key, 23, 3)),
        "l_linestatus": _pick(["O", "F"], hs.h(key, 24, 2)),
        "l_shipdate": _ts(ORDER_EPOCH_US + hs.h(key, 25, 2500) * DAY_US)})

    e = np.arange(n_events)
    _write(out_dir, "events", {
        "event_id": e,
        "ts": _ts(EVENT_EPOCH_US + hs.h(e, 26, 30 * 86400) * 1_000_000 + hs.h(e, 27, 1_000_000)),
        "user_id": hs.h(e, 28, n_users),
        "event_type": _pick(["signup", "purchase", "view", "click", "error"], hs.h(e, 29, 5)),
        "value": hs.h(e, 30, 56021) / 100.0,
        "props": [f'{{"k": {k}}}' for k in hs.h(e, 31, 100)]})

    # documents: hashed word sequences over the fixed vocabulary; every
    # 10th document is its predecessor plus one token (planted near-dups)
    vocab = np.array(VOCAB, dtype=object)

    def text_of(d):
        j = np.arange(hs.h(d, 32, 80) + 9)
        return " ".join(vocab[hs.h(np.full(len(j), d), 33, 20, sub=j)])

    d = np.arange(n_docs)
    extra = vocab[hs.h(d, 34, 20, sub=np.zeros(n_docs))]
    texts = [text_of(i - 1) + " " + extra[i] if i % 10 == 0 and i > 0 else text_of(i)
             for i in d]
    lang = np.where(hs.h(d, 35, 10) < 8, "en",
                    _pick(["de", "fr"], hs.h(d, 36, 2)))
    _write(out_dir, "documents", {
        "doc_id": d,
        "text": texts,
        "lang": lang.astype(object),
        "source": [f"src{k}" for k in hs.h(d, 37, 20)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    # embeddings: centroid(label) + noise, 64-dim float32
    v = np.arange(n_vecs)
    j = np.arange(64)
    vv, jj = np.meshgrid(v, j, indexing="ij")
    centroid = hs.h(vv % n_labels, 38, 1000, sub=jj) / 500.0 - 1.0
    noise = hs.h(vv, 39, 1000, sub=jj) / 1250.0 - 0.4
    emb = (centroid + noise).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": v,
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(v % n_labels, pa.int32())})


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]))
