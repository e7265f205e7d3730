#!/usr/bin/env python3
"""Deterministic inputs for the graft benchmark.

Two kinds of input, both written as plain parquet files:

* ``gen_tables``: the ten canonical tables (region … embeddings) at a
  given scale factor, shaped like graft's reference test corpus
  (TPC-H-style star schema, an ``events`` stream table, a word-soup
  ``documents`` corpus with planted near-duplicates, unit-norm 64-d
  ``embeddings``). The read workloads use them; they do not depend on
  the run seed.
* ``gen_batches``: the seeded event batches the ``ingest`` workload
  lands one at a time. Batch ``i`` covers a 6-hour slice of event time,
  so batches arrive in event-time order and the streaming sketch's
  1-day watermark never drops a row.

Usage: python3 gen_data.py tables OUT_DIR [SF]
       python3 gen_data.py batches OUT_DIR SEED N_BATCHES ROWS
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
US_PER_DAY = 86_400_000_000


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    pq.write_table(table, tmp, row_group_size=1 << 22)
    os.replace(tmp, path)


def _ts(us):
    return pa.array(us.astype("int64"), pa.int64()).cast(pa.timestamp("us"))


def _days(rng, n, first, last):
    """Midnight timestamps drawn uniformly from [first, last] (dates)."""
    lo = np.datetime64(first, "D").astype("int64")
    hi = np.datetime64(last, "D").astype("int64")
    return _ts(rng.integers(lo, hi + 1, n) * US_PER_DAY)


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _events(rng, first_id, n, t0_us, span_us):
    ts = np.sort(rng.integers(0, span_us, n)) + t0_us
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _documents(rng, n):
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 101))])
             for _ in range(n)]
    # planted duplicates: 5% near-copies (one word replaced by "dup")
    # and a handful of exact copies of an earlier document
    for i in rng.choice(np.arange(1, n), size=n // 20, replace=False):
        toks = texts[int(rng.integers(0, i))].split()
        toks[int(rng.integers(0, len(toks)))] = "dup"
        texts[i] = " ".join(toks)
    for i in rng.choice(np.arange(1, n), size=max(1, n // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    lang = np.array(LANGS)[rng.choice(5, n, p=[0.41, 0.14, 0.15, 0.15, 0.15])]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(lang),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n, dim=64):
    v = rng.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def gen_tables(out_dir, sf=0.1):
    """Write the ten canonical tables at scale factor ``sf``."""
    rng = np.random.default_rng(TABLE_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS)}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99)),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)])}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99))}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                                rng.integers(0, 8, (n_part, 2))]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(np.array(PTYPES)[rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 1))}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(_money(rng, n_ord, 1000, 500_000)),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)])}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, n_line, 900, 105_000)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
            "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04")}),
        "events": _events(rng, 0, n_ev,
                          np.datetime64("2024-01-01", "us").astype("int64"),
                          30 * US_PER_DAY),
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_emb),
    }
    for name, t in tables.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


BATCH_SPAN_US = US_PER_DAY // 4
BATCH_T0_US = int(np.datetime64("2024-03-01", "us").astype("int64"))


def batch_table(seed, i, rows):
    """Event batch ``i`` of a run seeded with ``seed`` (pure function)."""
    rng = np.random.default_rng([seed, i])
    return _events(rng, i * rows, rows, BATCH_T0_US + i * BATCH_SPAN_US,
                   BATCH_SPAN_US)


def expected_stage_rows(t):
    """Rows each ingest Pipeline stage must report for batch table ``t``:
    logParse, normalize and kafkaRoundTrip keep one row per event;
    jsonExtract groups the parsed ``k`` by ``k % 10``."""
    ks = {int(p[len('{"k": '):-1]) % 10 for p in t.column("props").to_pylist()}
    n = t.num_rows
    return {"logParse": n, "jsonExtract": len(ks), "normalize": n,
            "kafkaRoundTrip": n}


def gen_batches(out_dir, seed, n_batches, rows):
    """Stage ``n_batches`` batches under ``out_dir/b<i>/events.parquet``
    and write ``out_dir/manifest.json`` with their sizes and the row
    counts each Pipeline stage must report."""
    manifest = []
    for i in range(n_batches):
        t = batch_table(seed, i, rows)
        path = os.path.join(out_dir, f"b{i}", "events.parquet")
        _write(t, path)
        manifest.append({"dir": os.path.dirname(os.path.abspath(path)),
                         "rows": t.num_rows, "bytes": os.path.getsize(path),
                         "stage_rows": expected_stage_rows(t)})
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest


if __name__ == "__main__":
    if len(sys.argv) >= 3 and sys.argv[1] == "tables":
        print(json.dumps(gen_tables(sys.argv[2], float(sys.argv[3]) if len(sys.argv) > 3 else 0.1)))
    elif len(sys.argv) == 6 and sys.argv[1] == "batches":
        gen_batches(sys.argv[2], int(sys.argv[3]), int(sys.argv[4]), int(sys.argv[5]))
    else:
        sys.exit(__doc__)
