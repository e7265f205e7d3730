#!/usr/bin/env python3
"""Dev tool: synthesize a 10x scale point (/tmp/sf1) from sf0.1 for
growth-curve verification — NOT part of the library.

Scaling rules (chosen so correctness and growth curves stay honest):
- region/nation: fixed dimensions, copied once.
- relational + events tables: 10 copies with every key column shifted
  by i*(max+1) — ids are 0-based, so a plain i*max stride collides at
  block boundaries (that bug produced 5 false engine-mismatch FAILs on
  the first attempt). FK columns shift with the same stride as their
  referenced key, so join structure is preserved per copy.
- documents: per-copy word suffix ("w" -> "w"+i) keeps shingle sets
  disjoint across copies, so near-dup pair counts scale LINEARLY
  (constant dup density); raw text copies would grow pairs
  quadratically and explode q24/q25/q66.
- part names: per-copy suffix " q" + each index digit TRIPLED in
  place (copy 39 -> " q333999") (r13) — repeating names froze q63's
  dictionary at 64 entries forever, so the fuzzyDictLarge plan-stats
  switch could never fire on a natural axis. Digit-tripling keeps
  every pair of suffix tokens at edit distance >= 3 (verified
  exhaustively through 1000 copies) and >= 5 from the unsuffixed
  copy 0, so NO cross-copy name pairs appear under maxDist 2: the
  pair set is the per-copy 64-name dictionary's pairs x COPIES —
  linear growth, same in both engine paths. (The first cut used
  str(i)*3, whose 2-digit tokens collide rotationally — "393939" vs
  "939393" is distance 2 — and the 100x probe caught +44% pairs.)
- embeddings: per-copy cyclic rotation — orthogonal, so intra-copy
  geometry and label clusters are preserved while cross-copy
  similarities decorrelate. Rotation alone is the IDENTITY at
  copy = dim (the 100x probe caught copies >= 64 duplicating copies
  0..35 exactly -> 19,000x near-dup pairs). So (r14) every copy >=
  SIGN_FROM=10 applies a seeded per-copy Rademacher sign diagonal —
  still an isometry (intra-copy geometry and label clusters
  untouched) that decorrelates cross-copy cluster STRUCTURE (the
  rotation-only regime kept adjacent copies' clusters partially
  aligned). RETRACTION (r15): the r14 commit claimed the sign scheme
  makes cross-copy tau=0.4 near-dup density "stay constant at 100x".
  MEASURED FALSE — q106 emits 1,319,584 pairs at 100x under BOTH
  schemes, because the crossing mass never was copy correlation: it
  is the generic Gaussian tail. Cross-copy cosine of isotropic
  unit-ish vectors ~ N(0, 1/dim) with std 1/sqrt(64) = 0.125, so
  tau=0.4 is a ~3.2-sigma event (p ~ 7e-4); over the cell-blocked
  cross-copy candidate space at 100 copies that predicts ~1e6 chance
  pairs — which is what the data shows, and what ANY isometry family
  must show (no rigid motion of the same cloud can bound pairwise
  cross-cosines below tau while preserving intra-copy geometry).
  The honest statement: q106 OUTPUT at 100x = intra-copy pairs x
  copies + a ~1.3M chance tail pinned by ScaleTechniquesSpec's 100x
  band; the ENGINE lever — candidate count — stays linear at fixed
  cell occupancy, spec-measured at 10x. Copies 0..9 stay pure
  rotation, byte-identical to the shipped /tmp/sf1 (the r13
  no-regeneration precedent). Sign seeds are a function of
  (copy, dim) with dim-sized strides — the r13 formula hardcoded
  stride 64, structurally correlating adjacent copies' sign vectors
  whenever dim > 64 (latent; caught by r13 ADVICE).

The manifest carries "scheme": SCHEME (r15, ADVICE) — bumped whenever
a change alters CONTENT without changing row counts (the r14 sign
diagonals were invisible to the copies+rows stale-guard); scale specs
that depend on the content assert it.
- events.ts keeps the source's TIMESTAMP(MICROS, isAdjustedToUTC=false)
  (parquet version 2.6, no coercion); `Tables.events` reads it into
  its declared `timestamp` type.

Usage: python3 tools/gen_sf1.py [SRC] [DST] [COPIES]
Then:  sbt "runMain graft.Verify /tmp/sf1 /tmp/verify_sf1"
       python3 tools/check.py /tmp/sf1 /tmp/verify_sf1
"""
import sys
import pyarrow as pa
import pyarrow.parquet as pq
import pyarrow.compute as pc

SRC = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
DST = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf1"
COPIES = int(sys.argv[3]) if len(sys.argv) > 3 else 10

# content-scheme id (see module doc): 2 = r14 sign diagonals from
# copy 10 with dim-sized seed strides. Bump on any content-only change.
SCHEME = 2


ROWS = {}


def write(name, table):
    pq.write_table(table, f"{DST}/{name}.parquet", version="2.6",
                   coerce_timestamps=None)
    ROWS[name] = table.num_rows
    print(name, table.num_rows)


def shifted(name, keycols, strides=None):
    """keycols: columns to shift. A column's stride defaults to its own
    max+1, EXCEPT foreign keys, whose stride must be the REFERENCED
    key's stride (passed via `strides`) — e.g. events.user_id spans
    only 0..1499 but references c_custkey (0..14999); striding it by
    its own max would point copy-i events at copy-0 customers and
    break the join structure the sweep claims to preserve."""
    tbl = pq.read_table(f"{SRC}/{name}.parquet")
    stride = dict(strides or {})
    for c in keycols:
        stride.setdefault(c, pc.max(tbl[c]).as_py() + 1)
    parts = []
    for i in range(COPIES):
        cols = {}
        for c in tbl.schema.names:
            col = tbl[c]
            if c in keycols and i > 0:
                col = pc.add(col, i * stride[c])
            cols[c] = col
        parts.append(pa.table(cols, schema=pa.schema(
            [tbl.schema.field(n) for n in tbl.schema.names])))
    write(name, pa.concat_tables(parts))
    return stride


def main():
    import os
    os.makedirs(DST, exist_ok=True)
    for t in ["region", "nation"]:
        write(t, pq.read_table(f"{SRC}/{t}.parquet"))
    cust = shifted("customer", ["c_custkey"])
    supp = shifted("supplier", ["s_suppkey"])

    # part: shift the key AND suffix names per copy (see module doc —
    # distance->=3 suffixes keep the q63 pair set linear in COPIES
    # while letting the dictionary grow on a natural axis)
    ptbl = pq.read_table(f"{SRC}/part.parquet")
    pstride = pc.max(ptbl["p_partkey"]).as_py() + 1
    pparts = []
    for i in range(COPIES):
        if i == 0:
            pparts.append(ptbl)
            continue
        cols = {}
        for c in ptbl.schema.names:
            col = ptbl[c]
            if c == "p_partkey":
                col = pc.add(col, i * pstride)
            elif c == "p_name":
                sfx = "".join(d * 3 for d in str(i))
                col = pa.array([f"{n} q{sfx}"
                                for n in col.to_pylist()], pa.string())
            cols[c] = col
        pparts.append(pa.table(cols, schema=ptbl.schema))
    write("part", pa.concat_tables(pparts))
    part = {"p_partkey": pstride}
    orders = shifted("orders", ["o_orderkey", "o_custkey"],
                     {"o_custkey": cust["c_custkey"]})
    shifted("lineitem", ["l_orderkey", "l_partkey", "l_suppkey"],
            {"l_orderkey": orders["o_orderkey"],
             "l_partkey": part["p_partkey"],
             "l_suppkey": supp["s_suppkey"]})
    # events.user_id references c_custkey (q48/q88 join on it)
    shifted("events", ["event_id", "user_id"],
            {"user_id": cust["c_custkey"]})

    doc = pq.read_table(f"{SRC}/documents.parquet")
    dstride = pc.max(doc["doc_id"]).as_py() + 1
    parts = []
    for i in range(COPIES):
        if i == 0:
            parts.append(doc)
            continue
        texts = [" ".join(w + str(i) for w in t.split())
                 for t in doc["text"].to_pylist()]
        parts.append(pa.table({
            "doc_id": pc.add(doc["doc_id"], i * dstride),
            "text": pa.array(texts, pa.string()),
            "lang": doc["lang"], "source": doc["source"],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }, schema=doc.schema))
    write("documents", pa.concat_tables(parts))

    emb = pq.read_table(f"{SRC}/embeddings.parquet")
    estride = pc.max(emb["vec_id"]).as_py() + 1
    vecs = emb["embedding"].to_pylist()
    dim = len(vecs[0]) if vecs else 1
    parts = []
    for i in range(COPIES):
        if i == 0:
            parts.append(emb)
            continue
        r = i % dim
        rot = [v[r:] + v[:r] for v in vecs]
        SIGN_FROM = 10  # see module doc: pure rotation capped at 10x
        if i >= SIGN_FROM:
            import random
            signs = [1.0 if random.Random((1000 + i) * dim + d).random() < 0.5
                     else -1.0 for d in range(dim)]
            rot = [[x * s for x, s in zip(v, signs)] for v in rot]
        parts.append(pa.table({
            "vec_id": pc.add(emb["vec_id"], i * estride),
            "embedding": pa.array(rot, pa.list_(pa.float32())),
            "label": emb["label"],
        }, schema=emb.schema))
    write("embeddings", pa.concat_tables(parts))

    import duckdb
    for t, c in [("documents", "doc_id"), ("events", "event_id"),
                 ("orders", "o_orderkey"), ("embeddings", "vec_id"),
                 ("part", "p_partkey")]:
        n, d = duckdb.sql(
            f"SELECT count(*), count(DISTINCT {c}) FROM '{DST}/{t}.parquet'"
        ).fetchone()
        assert n == d, (t, n, d)
    print("all keys unique")

    # completion marker, written LAST (after the uniqueness checks):
    # a crashed or half-finished generation leaves no manifest, and
    # the 10x specs cancel instead of grading against stale or
    # truncated data. Row counts let the consumer cross-check.
    import json
    with open(f"{DST}/_MANIFEST.json", "w") as f:
        json.dump({"src": SRC, "copies": COPIES, "scheme": SCHEME,
                   "tables": ROWS}, f)
    print("manifest written")


if __name__ == "__main__":
    main()
