"""Deterministic generator for the benchmark's input tables.

Writes the eight star-schema tables plus `documents` and `embeddings`
(one parquet file each) with the schemas of the project's `sf0.01` test
tables and value distributions matched to figures measured on them (see
README.md, "Input tables"): 15k orders, 60k lineitems, 10k events, 500
documents and 500 embeddings. The tables depend only on TABLE_SEED, so the
digests stored in `expected.json` hold for every run; the run's own
`--seed` shuffles key order and shapes the stream payloads instead.

Usage: python3 perfbench/gen_data.py <out_dir>
       python3 perfbench/gen_data.py --profile <table_dir>
The second form prints the figures the generator is matched to, for any
directory of these tables.
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 20240101
N_CUST, N_SUPP, N_PART, N_ORDERS, N_LINES = 1500, 100, 2000, 15000, 60000
N_EVENTS, N_USERS, N_DOCS, N_VECS, DIM = 10000, 150, 500, 500, 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.42, 0.14, 0.15, 0.14, 0.15]


def _days(rng, n, first, last):
    """n midnight timestamps drawn uniformly from [first, last] (dates)."""
    span = (last - first).days
    d = rng.integers(0, span + 1, n)
    base = np.datetime64(first.isoformat(), "us")
    return base + d.astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def tables(rng):
    ts = pa.timestamp("us")
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(N_CUST), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUST)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUST), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUST),
        "c_mktsegment": _pick(rng, SEGMENTS, N_CUST)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(N_SUPP), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPP)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPP), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPP)})
    out["part"] = pa.table({
        "p_partkey": pa.array(range(N_PART), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, PART_ADJ, N_PART),
                                               _pick(rng, PART_NOUN, N_PART))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": _pick(rng, PART_TYPES, N_PART),
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": [900.0 + (i % 1000) / 10 for i in range(N_PART)]})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUST, N_ORDERS), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], N_ORDERS),
        "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
        "o_orderdate": pa.array(_days(rng, N_ORDERS, dt.date(1995, 1, 1),
                                      dt.date(2001, 8, 1)), ts),
        "o_orderpriority": _pick(rng, PRIORITIES, N_ORDERS)})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINES), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, N_LINES), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPP, N_LINES), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINES), pa.int32()),
        "l_quantity": rng.integers(1, 51, N_LINES).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, N_LINES),
        "l_discount": rng.integers(0, 11, N_LINES) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINES) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], N_LINES),
        "l_linestatus": _pick(rng, ["F", "O"], N_LINES),
        "l_shipdate": pa.array(_days(rng, N_LINES, dt.date(1995, 1, 2),
                                     dt.date(2001, 11, 4)), ts)})
    month_us = 30 * 86400 * 1_000_000
    ev_ts = np.sort(rng.integers(0, month_us, N_EVENTS))
    out["events"] = pa.table({
        "event_id": pa.array(range(N_EVENTS), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us")
                       + ev_ts.astype("timedelta64[us]"), ts),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, N_EVENTS),
        "value": np.maximum(np.round(rng.exponential(50.0, N_EVENTS), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]})
    texts = [" ".join(_pick(rng, WORDS, int(rng.integers(10, 101))))
             for _ in range(N_DOCS)]
    # one doc in twenty is a near-duplicate: another doc's text plus " dup"
    for i in np.flatnonzero(rng.random(N_DOCS) < 0.05):
        texts[i] = texts[int(rng.integers(0, N_DOCS))] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": texts,
        "lang": _pick(rng, LANGS, N_DOCS, LANG_P),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    vecs = rng.standard_normal((N_VECS, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_VECS), pa.int32())})
    return out


def main(out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(np.random.default_rng(TABLE_SEED)).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def profile(table_dir):
    """The measured figures the generator is matched to."""
    def read(name):
        return pq.read_table(os.path.join(table_dir, f"{name}.parquet"))
    rows = {n: pq.ParquetFile(os.path.join(table_dir, f"{n}.parquet")).metadata.num_rows
            for n in ["customer", "supplier", "part", "orders", "lineitem", "events",
                      "documents", "embeddings"]}
    print("rows", rows)
    docs = read("documents").to_pydict()
    texts = docs["text"]
    words = [t.split() for t in texts]
    vocab = {w for ws in words for w in ws}
    lens = np.array([len(ws) for ws in words])
    known = set(texts)
    near = sum(1 for t in texts if " " in t and t.rsplit(" ", 1)[0] in known)
    print(f"documents: vocabulary {len(vocab)} words, words per doc min {lens.min()} "
          f"quartiles {np.percentile(lens, [25, 50, 75]).tolist()} max {lens.max()}, "
          f"near-duplicates (another doc plus one word) {near / len(texts):.3f}, "
          f"exact duplicates {len(texts) - len(known)}")
    langs, counts = np.unique(docs["lang"], return_counts=True)
    print("documents.lang", dict(zip(langs.tolist(), np.round(counts / counts.sum(), 3).tolist())))
    ev = read("events")
    ts_type = pq.ParquetFile(os.path.join(table_dir, "events.parquet")).schema.column(1).logical_type
    ts = ev.column("ts").cast(pa.int64()).to_numpy()
    types, tcounts = np.unique(ev.column("event_type").to_numpy(zero_copy_only=False),
                               return_counts=True)
    value = ev.column("value").to_numpy()
    print(f"events.ts: {ts_type}, sorted {bool(np.all(np.diff(ts) >= 0))}, "
          f"span {(ts.max() - ts.min()) / 86400e6:.2f} days; "
          f"users {len(np.unique(ev.column('user_id').to_numpy()))}; "
          f"event_type {dict(zip(types.tolist(), np.round(tcounts / tcounts.sum(), 3).tolist()))}; "
          f"value mean {value.mean():.2f} median {np.median(value):.2f} max {value.max():.2f}")


if __name__ == "__main__":
    if sys.argv[1] == "--profile":
        profile(sys.argv[2])
    else:
        main(sys.argv[1])
