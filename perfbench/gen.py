"""Seeded input generator for the benchmark.

Writes the ten tables graft's registry reads (TPC-H-ish star schema,
`events`, `documents`, `embeddings`) as one single-row-group parquet file
each, with the same column names, types and value distributions as the
project's reference fixtures. Everything is derived from one seed, so the
same seed always yields byte-identical inputs:

- every table's rows come out in a seeded order;
- `documents` carry ~5% planted near-duplicates (another document's text
  plus the token `dup`), the shape the dedup operators look for;
- `doc_copies` > 1 replicates documents and embeddings the way the
  project's scale-up fixtures do: copy k > 0 suffixes every token with a
  seed-dependent `_<tag>`, and rotates each embedding by k positions, so
  copies never form cross-copy near-duplicate cliques;
- `micro_batches` > 0 also cuts the first copy of `documents` (doc_id,
  text) into that many seeded micro-batch files under `stream/`, the
  input of the streaming dedup run.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
NATIONS = 25
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD"]
ADJ = ["blue", "old", "small", "new", "red", "large", "hot", "cold"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PTYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
DAY_US = 86_400_000_000


def _day_us(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def _write(out, name, cols, order):
    """Write one table in `order` (a permutation of its rows)."""
    table = pa.table({k: (v.take(pa.array(order)) if isinstance(v, pa.Array)
                          else pa.array(v).take(pa.array(order)))
                      for k, v in cols.items()})
    pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                   row_group_size=max(1, table.num_rows))
    return table.num_rows


def _ts(values_us):
    return pa.array(np.asarray(values_us, dtype=np.int64), pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng, n):
    lens = rng.integers(10, 100, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, at = [], 0
    for k in lens:
        out.append(" ".join(VOCAB[w] for w in words[at:at + k]))
        at += k
    return out


def generate(out, seed, scale, doc_base, doc_copies=1, micro_batches=0):
    """Write all tables under `out`; return {table: row count}."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(np.random.PCG64(seed))
    counts = {}

    def emit(name, cols):
        n = len(next(iter(cols.values())))
        counts[name] = _write(out, name, cols, rng.permutation(n))

    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1500, int(1_500_000 * scale))
    n_line = max(6000, int(6_000_000 * scale))
    n_ev = max(1000, int(1_000_000 * scale))

    emit("region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                    "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                               "MIDDLE EAST"]})
    emit("nation", {"n_nationkey": pa.array(np.arange(NATIONS, dtype=np.int32)),
                    "n_name": [f"NATION_{i}" for i in range(NATIONS)],
                    "n_regionkey": pa.array(np.arange(NATIONS, dtype=np.int32) % 5)})
    emit("customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, NATIONS, n_cust, dtype=np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    emit("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, NATIONS, n_supp, dtype=np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    emit("part", {
        "p_partkey": pa.array(pk),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [PTYPES[t] for t in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    d0, d1 = _day_us(1995, 1, 1), _day_us(2001, 8, 1)
    emit("orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": [("F", "O", "P")[s] for s in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(rng.integers(0, (d1 - d0) // DAY_US + 1, n_ord) * DAY_US + d0),
        "o_orderpriority": [PRIORITIES[p] for p in rng.integers(0, 5, n_ord)]})
    s0, s1 = _day_us(1995, 1, 2), _day_us(2001, 11, 4)
    emit("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[f] for f in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[f] for f in rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(rng.integers(0, (s1 - s0) // DAY_US + 1, n_line) * DAY_US + s0)})
    e0 = _day_us(2024, 1, 1)
    ts = e0 + np.cumsum(rng.exponential(30 * DAY_US / n_ev, n_ev)).astype(np.int64)
    emit("events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts(np.minimum(ts, e0 + 30 * DAY_US - 1)),
        "user_id": pa.array(rng.integers(0, max(15, int(n_ev * 0.015)), n_ev,
                                         dtype=np.int64)),
        "event_type": [EVENT_TYPES[t] for t in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    # documents: base texts with ~5% planted near-duplicates, replicated
    texts = _texts(rng, doc_base)
    for i in rng.choice(doc_base, doc_base // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, doc_base))] + " dup"
    tag = format(int(rng.integers(0, 1 << 20)), "x")
    all_texts = list(texts)
    for k in range(1, doc_copies):
        all_texts += [" ".join(f"{w}_{k}{tag}" for w in t.split(" "))
                      for t in texts]
    n_doc = len(all_texts)
    doc_id = np.arange(n_doc, dtype=np.int64)
    emit("documents", {
        "doc_id": pa.array(doc_id),
        "text": all_texts,
        "lang": [LANGS[x] for x in rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in doc_id],
        "n_chars": pa.array([len(t) for t in all_texts], pa.int64())})

    n_vec = max(500, doc_base * 2 // 5)
    base = rng.standard_normal((n_vec, 64))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    vecs = np.concatenate([np.roll(base, -k, axis=1) for k in range(doc_copies)])
    emit("embeddings", {
        "vec_id": pa.array(np.arange(len(vecs), dtype=np.int64)),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, len(vecs), dtype=np.int32))})

    if micro_batches > 0:
        sdir = os.path.join(out, "stream")
        os.makedirs(sdir, exist_ok=True)
        # contiguous doc_id ranges at seeded cut points, arriving in id
        # order: the stream's earlier-arrival-wins rule then agrees with
        # the one-shot smaller-id-wins rule it is checked against
        cuts = np.sort(rng.choice(np.arange(1, doc_base), micro_batches - 1,
                                  replace=False))
        for b, rows in enumerate(np.split(doc_id[:doc_base], cuts)):
            path = os.path.join(sdir, f"batch-{b:03d}.parquet")
            pq.write_table(pa.table({"doc_id": pa.array(rows),
                                     "text": [all_texts[i] for i in rows]}),
                           path)
            os.utime(path, (1_700_000_000 + b, 1_700_000_000 + b))
        counts["stream_batches"] = micro_batches
    counts["seed"] = seed
    with open(os.path.join(out, "counts.json"), "w") as f:
        json.dump(counts, f)
    return counts
