"""Seeded input generator for the benchmark.

Writes the TESTDATA.md table set (the schemas and value distributions of
`graft.GenData`) as one parquet file per table. Every column is a pure
function of the row id passed through a 64-bit mix that is salted with
the seed, so one (seed, scale) always gives byte-identical files and two
seeds give different rows with the same distributions.

    python3 perfbench/gen.py <outDir> <seed> [scale]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

def _mix(x):
    """splitmix64 finalizer over a uint64 array (wrapping arithmetic)."""
    with np.errstate(over="ignore"):
        x = x + np.uint64(0x9E3779B97F4A7C15)
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))


class Hasher:
    def __init__(self, seed):
        self.seed = np.uint64(seed & 0xFFFFFFFF)

    def h(self, salt, ids):
        """uint64 hash of (seed, salt, id) for an int array of ids."""
        key = _mix(self.seed * np.uint64(1 << 20) + np.uint64(salt))
        return _mix(np.asarray(ids).astype(np.uint64) ^ key)

    def mod(self, salt, ids, n):
        return (self.h(salt, ids) % np.uint64(n)).astype(np.int64)

    def u01(self, salt, ids):
        return self.mod(salt, ids, 1000000).astype(np.float64) / 1e6

    def pick(self, salt, ids, values):
        return np.asarray(values, dtype=object)[self.mod(salt, ids, len(values))]


def _days(base, offsets):
    """timestamp[us] (no zone, i.e. TIMESTAMP_NTZ) at midnight base+offsets."""
    b = np.datetime64(base, "us")
    return pa.array(b + offsets.astype("timedelta64[D]").astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy")


VOCAB = ["batch", "part", "spark", "line", "column", "order", "small", "sort",
         "fast", "value", "scan", "hash", "slow", "group", "agg", "filter", "query",
         "big", "key", "window", "row", "table", "stream", "merge", "data", "vector",
         "join", "shuffle", "disk", "cache"]


def _documents(hs, n_doc):
    ids = np.arange(n_doc, dtype=np.int64)
    # near-dup tail: ids = 98, 99 (mod 100) re-render their century head's
    # content and append one token (the GenData component density)
    content = np.where(ids % 100 >= 98, ids // 100 * 100, ids)
    n_words = hs.mod(81, content, 90) + 8
    open_space = max(1000, n_doc * 5)
    vocab = np.asarray(VOCAB, dtype=object)
    texts = []
    for c, w in zip(content.tolist(), n_words.tolist()):
        pos = np.arange(w, dtype=np.int64) + c * 1000
        closed = hs.mod(86, pos, 10) < 7
        words = np.where(closed, vocab[hs.mod(82, pos, len(VOCAB))],
                         np.char.add("w", hs.mod(87, pos, open_space).astype(str)).astype(object))
        texts.append(" ".join(words.tolist()))
    suffix = {98: " extra", 99: " bonus"}
    texts = [t + suffix.get(i % 100, "") for i, t in enumerate(texts)]
    lang = np.where(hs.mod(83, ids, 100) < 40, "en",
                    hs.pick(84, ids, ["de", "es", "zh", "fr"]))
    source = np.char.add("src", hs.mod(85, ids, 20).astype(str))
    return {
        "doc_id": pa.array(ids),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(lang.tolist(), type=pa.string()),
        "source": pa.array(source.tolist(), type=pa.string()),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    }


def _embeddings(hs, n_emb, dim=64):
    ids = np.arange(n_emb, dtype=np.int64)
    label = hs.mod(91, ids, 10)
    j = np.arange(dim, dtype=np.int64)
    centre = (hs.mod(92, label[:, None] * dim + j[None, :], 2001) - 1000) / 1000.0 * 0.25
    noise = (hs.mod(93, ids[:, None] * dim + j[None, :], 2001) - 1000) / 1000.0 * 0.12
    vec = (centre + noise).astype(np.float32)
    return {
        "vec_id": pa.array(ids),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n_emb * dim + 1, dim, dtype=np.int32)),
            pa.array(vec.reshape(-1))),
        "label": pa.array(label.astype(np.int32)),
    }


def generate(out, seed, scale=0.1):
    """Write every table for (seed, scale) into `out`; returns row counts."""
    os.makedirs(out, exist_ok=True)
    hs = Hasher(seed)

    def n(base):
        return max(1, int(base * scale))

    n_cust, n_supp, n_part, n_ord = n(150000), n(10000), n(200000), n(1500000)
    n_li, n_ev, n_doc, n_emb = n(6000000), n(1000000), n(50000), n(20000)

    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    nk = np.arange(25, dtype=np.int32)
    _write(out, "nation", {"n_nationkey": pa.array(nk),
                           "n_name": [f"NATION_{i}" for i in range(25)],
                           "n_regionkey": pa.array(nk % 5)})

    ids = np.arange(n_cust, dtype=np.int64)
    _write(out, "customer", {
        "c_custkey": pa.array(ids),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(hs.mod(11, ids, 25).astype(np.int32)),
        "c_acctbal": pa.array(np.round(hs.u01(12, ids) * 10000.0, 2)),
        "c_mktsegment": pa.array(hs.pick(13, ids, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                                   "HOUSEHOLD", "MACHINERY"]).tolist())})

    ids = np.arange(n_supp, dtype=np.int64)
    _write(out, "supplier", {
        "s_suppkey": pa.array(ids),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(hs.mod(21, ids, 25).astype(np.int32)),
        "s_acctbal": pa.array(np.round(hs.u01(22, ids) * 10000.0, 2))})

    ids = np.arange(n_part, dtype=np.int64)
    adjs = ["large", "hot", "blue", "small", "dim", "spring", "metal", "plated"]
    nouns = ["ring", "bolt", "case", "tube", "disk", "panel", "cog", "strap"]
    _write(out, "part", {
        "p_partkey": pa.array(ids),
        "p_name": pa.array((hs.pick(31, ids, adjs) + " " + hs.pick(32, ids, nouns)).tolist()),
        "p_brand": pa.array(np.char.add("Brand#", hs.mod(33, ids, 20).astype(str)).tolist()),
        "p_type": pa.array(hs.pick(34, ids, ["LARGE", "ECONOMY", "SMALL", "MEDIUM",
                                             "STANDARD"]).tolist()),
        "p_size": pa.array((hs.mod(35, ids, 50) + 1).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + hs.mod(36, ids, 10000) * 0.1, 2))})

    ids = np.arange(n_ord, dtype=np.int64)
    _write(out, "orders", {
        "o_orderkey": pa.array(ids),
        "o_custkey": pa.array(hs.mod(41, ids, n_cust)),
        "o_orderstatus": pa.array(hs.pick(42, ids, ["F", "O", "P"]).tolist()),
        "o_totalprice": pa.array(np.round(1000.0 + hs.u01(43, ids) * 499000.0, 2)),
        "o_orderdate": _days("1995-01-01", hs.mod(44, ids, 2400)),
        "o_orderpriority": pa.array(hs.pick(45, ids, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                                      "4-NOT SPECIFIED", "5-LOW"]).tolist())})

    ids = np.arange(n_li, dtype=np.int64)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(hs.mod(51, ids, n_ord)),
        "l_partkey": pa.array(hs.mod(52, ids, n_part)),
        "l_suppkey": pa.array(hs.mod(53, ids, n_supp)),
        "l_linenumber": pa.array((hs.mod(54, ids, 7) + 1).astype(np.int32)),
        "l_quantity": pa.array(hs.mod(55, ids, 50).astype(np.float64) + 1.0),
        "l_extendedprice": pa.array(np.round(900.0 + hs.u01(56, ids) * 104100.0, 2)),
        "l_discount": pa.array(hs.mod(57, ids, 11).astype(np.float64) / 100.0),
        "l_tax": pa.array(hs.mod(58, ids, 9).astype(np.float64) / 100.0),
        "l_returnflag": pa.array(hs.pick(59, ids, ["N", "A", "R"]).tolist()),
        "l_linestatus": pa.array(hs.pick(60, ids, ["F", "O"]).tolist()),
        "l_shipdate": _days("1995-01-01", hs.mod(61, ids, 2500) + 1)})

    # events: one file named events.parquet (the streaming sources glob
    # leaf files); timestamps ascend with event_id, as in the fixtures
    ids = np.arange(n_ev, dtype=np.int64)
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(start + (hs.u01(71, ids) * 30 * 86400 * 1e6).astype(np.int64))
    _write(out, "events", {
        "event_id": pa.array(ids),
        "ts": pa.array(ts.astype("datetime64[us]"), type=pa.timestamp("us")),
        "user_id": pa.array(hs.mod(72, ids, n(15000))),
        "event_type": pa.array(hs.pick(73, ids, ["view", "click", "purchase", "signup",
                                                 "error"]).tolist()),
        "value": pa.array(np.round(hs.u01(74, ids) ** 3 * 560.0, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in hs.mod(75, ids, 100).tolist()])})

    _write(out, "documents", _documents(hs, n_doc))
    _write(out, "embeddings", _embeddings(hs, n_emb))
    return {"lineitem": n_li, "events": n_ev, "documents": n_doc, "embeddings": n_emb}


if __name__ == "__main__":
    if len(sys.argv) not in (3, 4):
        sys.exit("usage: gen.py <outDir> <seed> [scale]")
    print(generate(sys.argv[1], int(sys.argv[2]),
                   float(sys.argv[3]) if len(sys.argv) == 4 else 0.1))
