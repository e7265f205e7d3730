#!/usr/bin/env python3
"""Dev tool (r14): time the DuckDB oracle execution of every oracled
query — the external performance yardstick the "within 2x of BASELINE"
gate has lacked for 13 rounds. BASELINE.json defines the metric but the
reference publishes no wall-times (its queries run inside Druid /
Superset containers), so every bench claim so far was round-over-round
self-comparison. This runs the SAME SQL the correctness gate trusts,
over the SAME parquet tables the Spark bench reads, on the SAME
machine — a cross-engine denominator on identical data.

Methodology: every query runs once UNTIMED (catalog + buffer warm),
then `--passes` timed runs graded min. DuckDB materializes via
fetchall(), which pays full result production but no serialization
to a client. Threads default to the machine's cores, same as local[32]'s
32 threads on the 32-core box; override with --threads for a pinned
run. The point is NOT to win at sf0.1 — a single-process columnar
engine on 60 MB should win — it is the RATIO's stability across SF
and the per-query outliers: any query where Spark's plan is an order
off the columnar baseline has a plan bug worth reading.

Usage:
  python3 tools/oracle_bench.py SF_DIR ORACLE_SQL_JSON [OUT_JSON] [PASSES] [CAP_SEC]
  # e.g. after a Verify dump:
  python3 tools/oracle_bench.py /root/testdata/sf0.1 \
      /tmp/verify_out/oracle_sql.json /tmp/oracle_bench_sf01.json
  # 10x needs the per-query cap (q63's levenshtein self-join is ~1e10
  # pairs in DuckDB there; see the cap comment in run()):
  python3 tools/oracle_bench.py /tmp/sf1 \
      /tmp/verify_out/oracle_sql.json /tmp/oracle_bench_sf1.json 3 300
"""
import json
import sys
import threading
import time

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def run(sf_dir, oracle_path, out_path=None, passes=3, threads=None,
        cap=None):
    con = duckdb.connect()
    if threads:
        con.execute(f"SET threads TO {threads}")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(oracle_path))
    out = {}
    capped = []
    timed_out = []

    # per-query cap (r15): a handful of oracles are super-linear in
    # DuckDB at 10x (q63's per-brand levenshtein self-join is ~1e10
    # pairs — its WARM pass alone ran >25 min and stalled two whole
    # bench runs). Two regimes, both loud, never silent:
    #   * warm finishes but exceeds the cap -> the warm time IS the
    #     recorded time (single-pass on a minutes-scale query loses
    #     nothing to min-of-3); name in `capped_warm_pass_only`.
    #   * warm itself hits the cap -> a watchdog thread interrupts
    #     DuckDB and the cap is recorded as a LOWER BOUND; name in
    #     `timed_out_lower_bound`. Downstream ratios (spark/duck) for
    #     these entries are UPPER bounds.
    def timed_fetch(sql):
        timer = threading.Timer(cap, con.interrupt) if cap else None
        if timer:
            timer.start()
        t0 = time.perf_counter()
        try:
            con.execute(sql).fetchall()
        finally:
            if timer:
                timer.cancel()
        return time.perf_counter() - t0

    for name, sql in sorted(oracle.items()):
        try:
            try:
                warm = timed_fetch(sql)
            except duckdb.InterruptException:
                out[name] = float(cap)
                timed_out.append(name)
                print(f"{name:32s} >{cap:7.0f}s (interrupted at cap; "
                      "recorded as a lower bound)")
                continue
            if cap is not None and warm > cap:
                out[name] = round(warm, 4)
                capped.append(name)
                print(f"{name:32s} {out[name]:8.3f}s (warm pass only: "
                      f"exceeded {cap:.0f}s cap)")
                continue
            times = []
            try:
                for _ in range(passes):
                    times.append(timed_fetch(sql))
            except duckdb.InterruptException:
                # a timed pass straddled the cap after a sub-cap warm
                # (boundary noise) — completed passes (or the warm
                # pass) still stand
                capped.append(name)
            out[name] = round(min(times), 4) if times else round(warm, 4)
            print(f"{name:32s} {out[name]:8.3f}s")
        except Exception as e:  # a failing oracle is a loud entry, not a gap
            out[name] = None
            print(f"{name:32s} FAIL {type(e).__name__}: {e}")
    total = sum(v for v in out.values() if v is not None)
    doc = {
        "sf_dir": sf_dir,
        "engine": f"duckdb {duckdb.__version__}",
        "threads": threads or "default(all cores)",
        "passes": passes,
        "methodology": "warm pass + min of timed passes, fetchall()",
        "total_sec": round(total, 3),
        "n": len(out),
        "failed": sum(1 for v in out.values() if v is None),
        "capped_warm_pass_only": capped,
        "timed_out_lower_bound": timed_out,
        "queries": out,
    }
    if out_path:
        with open(out_path, "w") as f:
            json.dump(doc, f, indent=1, sort_keys=True)
    print(f"\ntotal {total:.2f}s over {len(out)} queries "
          f"({doc['failed']} failed) -> {out_path or 'stdout only'}")
    return doc


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    orc = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out/oracle_sql.json"
    dst = sys.argv[3] if len(sys.argv) > 3 else None
    n_passes = int(sys.argv[4]) if len(sys.argv) > 4 else 3
    q_cap = float(sys.argv[5]) if len(sys.argv) > 5 else None
    run(sf, orc, dst, passes=n_passes, cap=q_cap)
