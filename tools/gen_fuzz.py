#!/usr/bin/env python3
"""Dev tool: randomized-data oracle sweep corpora (round 12) — NOT part
of the library.

Generates N seeded random tiny table sets under DST/s{seed}/ with the
exact dtype contract of the reference corpora (events.ts keeps its
source unit via parquet 2.6 + no coercion; see DataContractSpec),
then each is run through Verify + tools/check.py so the full oracled
query set gets DuckDB parity on data SHAPES the fixed generator never
produces: empty strings, whitespace-only and unicode text (CJK, emoji,
RTL, combining marks), single-row tables, all-duplicate corpora,
long-repeat documents. The round-1 histogram-overflow bug is exactly
this class — found only by the SF sweep, late.

Design constraints (why this is a PERTURBATION of the real sf0.001
tables, not whole-cloth random data):

- Oracle parity is exact (hash over values): value domains must keep
  Spark/DuckDB float aggregation order-insensitive, and every query's
  declared ORDER BY must stay a total order. The real generator's
  domains already guarantee both (95/96 parity at four scale points),
  so the relational tables are seeded ROW SUBSETS of the real ones —
  dtypes, domains and tie structure are inherited, while the shapes
  (row counts, key gaps, group emptiness) randomize per seed.
- Referential integrity is preserved by subsetting parents first and
  keeping only children of surviving parents (orders→lineitem,
  customer→orders, part/supplier→lineitem): dangling FKs would change
  inner-join semantics identically in both engines anyway, but empty
  join results hide bugs — RI keeps the operators exercised.
- documents/embeddings are REBUILT (the text operators are where the
  shape edges live): per-seed mode cycles through mixed / single-row /
  all-duplicate-text / unicode-heavy. Texts come from a pool of edge
  shapes plus seeded random word sequences over a tiny vocabulary
  (so dedup/shingle operators see real collisions). n_chars stays
  len(text) (the generator invariant), doc_ids stay unique+dense,
  labels stay 0..39 with ≥1 member (q46/q27 group semantics).
- text is never NULL: Tables.documents contract has no null texts in
  any driver corpus, and half the text operators key on md5(text) /
  split(text) where NULL propagates identically in both engines but
  collapses every query to a degenerate plan — the shape sweep is
  about values, not schema violations. Empty string covers the
  "nothing there" edge with defined semantics.

Usage: python3 tools/gen_fuzz.py [DST] [N_SEEDS]
Then:  sbt "runMain graft.VerifySweep <DST> <OUTROOT>"
       for d in <DST>/s*; do python3 tools/check.py $d <OUTROOT>/$(basename $d); done
(or just tools/fuzz_sweep.sh, which does all three)
"""
import random
import sys

import pyarrow as pa
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.001"
DST = sys.argv[1] if len(sys.argv) > 1 else "/tmp/graft_fuzz"
N_SEEDS = int(sys.argv[2]) if len(sys.argv) > 2 else 5

# text edge pool: every entry is a SHAPE the fixed generator never
# emits. Kept deterministic (module constant) so a failing seed
# reproduces exactly.
EDGE_TEXTS = [
    "",
    " ",
    "   \t  \n  ",
    "a",
    ".",
    "!!!???...,,,;;;",
    "日本語のテキストです 形態素解析は難しい",
    "中文文本 没有空格的语言",
    "🎉🚀 emoji only 🌍🔥 ✨",
    "مرحبا بالعالم هذا نص عربي",
    "שלום עולם טקסט עברי",
    "éléphant à côté",  # combining marks
    "ＦＵＬＬＷＩＤＴＨ　ｔｅｘｔ",
    "word " * 200,                                    # long repeat
    "a b " * 500,                                     # longer repeat
    "MiXeD CaSe TeXt MIXED case text mixed CASE TEXT",
    "tab\tseparated\tfields\there",
    "null NULL Null nan NaN None",
    "x" * 2000,                                       # one huge token
    "The quick brown fox jumps over the lazy dog.",
]
VOCAB = ("the of and to in is was for on that with as at by it from "
         "data model train token text word line time value test").split()
LANGS = ["en", "es", "de", "fr", "ja"]
SOURCES = ["web", "wiki", "books", "code", "news"]


def rand_text(rng):
    return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(3, 60)))


def gen_documents(rng, mode):
    if mode == "single":
        n = 1
    elif mode == "alldup":
        n = rng.randint(20, 80)
    else:
        n = rng.randint(30, 200)
    rows = []
    dup = rng.choice([t for t in EDGE_TEXTS if t] + [rand_text(rng)])
    for i in range(n):
        if mode == "alldup":
            t = dup
        elif mode == "unicode":
            t = rng.choice(EDGE_TEXTS)
        else:  # mixed: edges sprinkled into random text
            t = rng.choice(EDGE_TEXTS) if rng.random() < 0.3 else rand_text(rng)
        rows.append((i, t, rng.choice(LANGS), rng.choice(SOURCES), len(t)))
    return pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string()),
        "lang": pa.array([r[2] for r in rows], pa.string()),
        "source": pa.array([r[3] for r in rows], pa.string()),
        "n_chars": pa.array([r[4] for r in rows], pa.int64()),
    })


def gen_embeddings(rng, mode):
    n = 1 if mode == "single" else rng.randint(40, 200)
    dim = 16
    vecs, labels = [], []
    for i in range(n):
        # labels 0..39, cluster structure via a shared seed vector per
        # label so centroid/near-dup operators see real geometry
        lab = i % 40 if mode != "single" else 0
        base = random.Random(10_000 + lab)
        v = [base.uniform(-1, 1) + rng.gauss(0, 0.05) for _ in range(dim)]
        # a few exact duplicates (near-dup pair semantics) and one zero
        # vector per corpus (norm-0 edge: q84's divide-by-zero class)
        if i == 7 and n > 8:
            v = [0.0] * dim
        vecs.append([float(x) for x in v])
        labels.append(lab)
    if n > 20:  # exact-dup pair: same vector, different id
        vecs[13] = list(vecs[12])
        labels[13] = labels[12]
    return pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def subset(table, keep_mask):
    return table.filter(pa.array(keep_mask, pa.bool_()))


def gen_relational(rng, mode, out):
    """Seeded row subsets of the real sf0.001 tables, RI-preserving."""
    t = {n: pq.read_table(f"{SRC}/{n}.parquet")
         for n in ["region", "nation", "customer", "supplier", "part",
                   "orders", "lineitem", "events"]}
    # dimensions stay whole (they are the join fabric and already tiny)
    for name in ["region", "nation"]:
        out(name, t[name])
    if mode == "single":
        keep_cust = {t["customer"]["c_custkey"][0].as_py()}
        keep_supp = {t["supplier"]["s_suppkey"][0].as_py()}
        keep_part = {t["part"]["p_partkey"][0].as_py()}
    else:
        frac = rng.uniform(0.15, 0.9)
        keep_cust = {k.as_py() for k in t["customer"]["c_custkey"]
                     if rng.random() < frac}
        keep_supp = {k.as_py() for k in t["supplier"]["s_suppkey"]
                     if rng.random() < max(frac, 0.5)}
        keep_part = {k.as_py() for k in t["part"]["p_partkey"]
                     if rng.random() < frac}
        # never fully empty: one survivor keeps every operator running
        keep_cust = keep_cust or {t["customer"]["c_custkey"][0].as_py()}
        keep_supp = keep_supp or {t["supplier"]["s_suppkey"][0].as_py()}
        keep_part = keep_part or {t["part"]["p_partkey"][0].as_py()}
    cust = subset(t["customer"],
                  [k.as_py() in keep_cust for k in t["customer"]["c_custkey"]])
    supp = subset(t["supplier"],
                  [k.as_py() in keep_supp for k in t["supplier"]["s_suppkey"]])
    part = subset(t["part"],
                  [k.as_py() in keep_part for k in t["part"]["p_partkey"]])
    orders = subset(t["orders"],
                    [k.as_py() in keep_cust for k in t["orders"]["o_custkey"]])
    if mode == "single" and orders.num_rows > 1:
        orders = orders.slice(0, 1)
    keep_ord = {k.as_py() for k in orders["o_orderkey"]}
    li = t["lineitem"]
    li_mask = [ok.as_py() in keep_ord and pk.as_py() in keep_part
               and sk.as_py() in keep_supp
               for ok, pk, sk in zip(li["l_orderkey"], li["l_partkey"],
                                     li["l_suppkey"])]
    lineitem = subset(li, li_mask)
    ev = t["events"]
    ev_mask = [u.as_py() in keep_cust for u in ev["user_id"]]
    events = subset(ev, ev_mask)
    if mode == "single" and events.num_rows > 1:
        events = events.slice(0, 1)
    for name, tab in [("customer", cust), ("supplier", supp),
                      ("part", part), ("orders", orders),
                      ("lineitem", lineitem), ("events", events)]:
        out(name, tab)


MODES = ["mixed", "single", "alldup", "unicode"]


def main():
    import os
    for seed in range(1, N_SEEDS + 1):
        rng = random.Random(seed)
        mode = MODES[(seed - 1) % len(MODES)]
        d = f"{DST}/s{seed}"
        os.makedirs(d, exist_ok=True)

        def out(name, table, d=d):
            # version 2.6 + no coercion: events.ts keeps its source
            # unit (TIMESTAMP(MICROS, isAdjustedToUTC=false) in the
            # sf0.001 source; nanos files of older eras are also in
            # the engine's read contract)
            pq.write_table(table, f"{d}/{name}.parquet", version="2.6",
                           coerce_timestamps=None)

        gen_relational(rng, mode, out)
        out("documents", gen_documents(rng, mode))
        out("embeddings", gen_embeddings(rng, mode))
        print(f"[gen-fuzz] seed={seed} mode={mode} -> {d}")


if __name__ == "__main__":
    main()
