#!/usr/bin/env python3
"""Benchmark for graft: builds the library from source, runs one workload
as a closed-loop client in a single `local[N]` JVM and prints the
metrics, last line as JSON.

  python3 perfbench/run.py --workload curation --seed 1 --seconds 20 --trace 0

Workloads: `dashboard` and `ingest` (the set in BENCHMARK.json) and
`curation`. `--trace 0` prints the end-to-end metrics; `--trace 1`
runs a traced pass next to an untraced one and prints the per-layer
metrics, writing the full per-operation report and span tree to
`.bench_build/graft/reports/`. `--capture` stores the run's result
fingerprints as the expected ones. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import analysis  # noqa: E402
import gen_data  # noqa: E402

SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(ROOT, ".bench_build", "graft")
SPARK_HOME = os.environ.get("SPARK_HOME") or os.path.dirname(
    os.path.dirname(os.path.realpath(shutil.which("spark-submit") or "spark-submit")))
SPARK_JARS = os.path.join(SPARK_HOME, "jars")
EXPECTED = os.path.join(HERE, "expected_fingerprints.json")
SCALE_FACTOR = 0.1

WORKLOADS = {
    "dashboard": (
        "q01_pricing_summary q02_filter_pushdown q03_join_dims q04_topn "
        "q05_group_stats q06_high_value q07_distinct_count q08_pivot "
        "q09_window_rank q10_latest_per_key q11_time_floor_hour "
        "q12_time_floor_day_max q13_rollup_minute q14_per_source_stats "
        "q15_freshness q16_gap_detection q18_anomaly_zscore "
        "q19_storage_metrics q38_data_quality q39_percentiles q51_cube "
        "q55_sql_interface q61_histogram q62_rollup q64_approx_aggregates "
        "q68_grouping_sets q71_funnel q72_retention_cohort "
        "q77_event_type_profile q78_hopping_windows q110_sketch_rollup "
        "q120_quantile_rollup q132_topn_approx").split(),
    "curation": (
        "q24_dedup_ngram_jaccard q25_dedup_minhash_lsh q41_pii_scrub "
        "q66_dup_clusters q89_bpeish_tokens q98_substring_dedup "
        "q100_bpe_train q101_curation_e2e q102_bpe_encode q108_kmeans_train "
        "q109_text_normalize q112_lm_fluency q117_quality_classifier "
        "q123_dedup_keep_best q124_exact_substring_removal q126_ivfpq_topk "
        "q127_dedup_keep_best_lsh q128_exact_substring_incremental "
        "q129_minhash_screen q133_image_phash").split(),
    "ingest": None,
}
INGEST_BATCHES, INGEST_ROWS, COMPACT_EVERY = 4, 10_000, 3
# seconds the JVM may run before the run fails; a traced curation run
# takes about 300 s
TIME_LIMIT_S = {"dashboard": 172, "ingest": 172, "curation": 600}

# directory under src/main/scala/graft -> layer; top-level files by name
DIR_LAYERS = {"sources": "sources", "operators": "operators",
              "functions": "functions", "streaming": "streaming"}
FILE_LAYERS = {"Pipeline": "pipeline", "Engine": "engine",
               "SparkEntry": "operators", "SegmentProtocol": "streaming"}

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def scalac(out_dir, files, classpath):
    os.makedirs(out_dir)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out_dir,
           "-classpath", classpath] + files
    subprocess.run(cmd, check=True, stdout=sys.stderr)


def build():
    """Compile graft and the harness and generate the tables, once per
    source state. Returns the build directory."""
    main_files = sources(SRC)
    if not main_files:
        raise SystemExit(f"no graft sources under {SRC}")
    own = sources(os.path.join(HERE, "harness")) + [os.path.join(HERE, "gen_data.py")]
    digest = hashlib.sha256()
    for f in main_files + own:
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    out = os.path.join(BUILD, digest.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "ok")):
        return out
    log(f"building into {out}")
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    jars = os.path.join(SPARK_JARS, "*")
    scalac(os.path.join(tmp, "main"), main_files, jars)
    scalac(os.path.join(tmp, "bench"), sources(os.path.join(HERE, "harness")),
           jars + os.pathsep + os.path.join(tmp, "main"))
    gen_data.gen_tables(os.path.join(tmp, "data"), SCALE_FACTOR)
    open(os.path.join(tmp, "ok"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def stage_batches(out_dir, seed, n_batches, rows):
    manifest = gen_data.gen_batches(out_dir, seed, n_batches, rows)
    with open(os.path.join(out_dir, "manifest.tsv"), "w") as f:
        for b in manifest:
            stages = ",".join(f"{k}={v}" for k, v in b["stage_rows"].items())
            f.write(f"{b['dir']}\t{b['rows']}\t{b['bytes']}\t{stages}\n")


def cpu_times():
    """Aggregate CPU jiffies from /proc/stat (None where unavailable)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None


def steal_share(before, after):
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times`` samples: a measure of box noise, not of graft."""
    if not before or not after or len(before) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d[:8]))


def run_harness(build_dir, args, work):
    os.makedirs(os.path.join(work, "tmp"))
    out_file = os.path.join(work, "result.json")
    n = cores()
    cmd = (["java"] + [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-XX:-UsePerfData", "-Xmx4g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join([os.path.join(SPARK_JARS, "*"),
                                    os.path.join(build_dir, "main"),
                                    os.path.join(build_dir, "bench")]),
            "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(n), "--data", os.path.join(build_dir, "data"),
            "--batches", os.path.join(work, "batches"), "--work", work,
            "--out", out_file, "--compact_every", str(COMPACT_EVERY),
            "--queries", ",".join(args.queries)])
    with open(os.path.join(work, "harness.log"), "w") as logf:
        cpu0 = cpu_times()
        launch_ms = time.time() * 1000
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = proc.wait(timeout=max(10, TIME_LIMIT_S[args.workload] - (time.time() - args.t0)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("harness exceeded the run time limit")
    if code != 0 or not os.path.exists(out_file):
        with open(os.path.join(work, "harness.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"harness failed with exit code {code}")
    with open(out_file) as f:
        res = json.load(f)
    res["launch_ms"] = launch_ms
    res["cpu_steal_share"] = steal_share(cpu0, cpu_times())
    return res


def file_layers():
    layers = dict(FILE_LAYERS)
    for d, layer in DIR_LAYERS.items():
        for f in glob.glob(os.path.join(SRC, "graft", d, "*.scala")):
            layers[os.path.basename(f)[:-len(".scala")]] = layer
    return layers


def check_results(workload, res, capture):
    """Check every operation: on the read workloads the fingerprint of
    each query's warm-up and timed executions against the expected one,
    on ingest the end-of-pass checks. Returns (attempted, failures)."""
    ops = [(f"warm-up {op}", dict(v, name=op)) for op, v in res["verify"].items()]
    ops += [(f"pass {p['pass']} {o['name']}", o) for p in res["passes"] for o in p["ops"]]
    checks = [c for probe in res.get("probes", {}).get("ingest", []) for c in probe["checks"]]
    checks += [c for p in res["passes"] for c in p["checks"]]
    failures = [f"{label}: {o['error']}" for label, o in ops if o.get("error")]
    if workload != "ingest":
        expected = {}
        if os.path.exists(EXPECTED):
            with open(EXPECTED) as f:
                expected = json.load(f)
        if capture:
            expected[workload] = {op: {"rows": v.get("rows"), "hash": v.get("hash")}
                                  for op, v in res["verify"].items()}
            with open(EXPECTED, "w") as f:
                json.dump(expected, f, indent=1, sort_keys=True)
                f.write("\n")
        want = expected.get(workload, {})
        for label, o in ops:
            w = want.get(o["name"])
            if w is None:
                failures.append(f"{label}: no expected fingerprint")
            elif not o.get("error") and (o["rows"] != w["rows"] or
                                         (w["hash"] is not None and o["hash"] != w["hash"])):
                failures.append(f"{label}: fingerprint {o['rows']}/{o['hash']} "
                                f"!= expected {w['rows']}/{w['hash']}")
    failures += [f"check {c['name']}: {c['detail']}" for c in checks if not c["ok"]]
    return len(ops) + len(checks), failures


def pass_stats(res, kind):
    passes = [p for p in res["passes"] if p["kind"] == kind]
    walls = [(p["end"] - p["start"]) / 1000 for p in passes]
    lats = [o["latency_ms"] / 1000 for p in passes for o in p["ops"]]
    return passes, walls, lats


def ingest_stats(passes):
    stats = [json.loads(c["detail"]) for p in passes for c in p["checks"]
             if c["name"] == "stats"]
    return stats


def end_to_end(res):
    passes, walls, lats = pass_stats(res, "timed")
    m = {
        "setup_s": ((res["ready_ms"] - res["launch_ms"]) / 1000, "s"),
        "pass_s": (statistics.median(walls), "s"),
        "latency_p50_s": (analysis.hd_quantile(lats), "s"),
        "driver_live_heap_mb": (res["heap_live_mb"], "MB"),
    }
    info = {"passes": len(walls), "latency_samples": len(lats),
            "cpu_steal_share": res["cpu_steal_share"]}
    hp = analysis.highest_percentile(lats, (99, 95, 90))
    if hp:
        info[f"latency_p{hp[0]:g}_s"] = hp[1]
    stats = ingest_stats(passes)
    if stats:
        info["ingest_rows_per_s"] = statistics.median(
            s["landed_rows"] / w for s, w in zip(stats, walls))
        info["stored_bytes_per_input_byte"] = statistics.median(
            s["stored_bytes"] / s["landed_bytes"] for s in stats)
    return m, info


def build_tree(res, lo, hi, layers):
    """Span tree of the traced records in [lo, hi]: harness spans, then
    Catalyst phases, jobs and stages placed under the deepest harness
    span that contains them. Listener times are whole milliseconds, so
    containment is tested half a millisecond in."""
    tr = res["trace"]
    harness = [dict(zip(("id", "parent", "name", "layer", "op", "start", "end"), s))
               for s in tr["spans"] if lo <= s[5] <= hi]
    by_id = {s["id"]: s for s in harness}
    for s in harness:
        if s["parent"] not in by_id:
            s["parent"] = 0
    ordered = sorted(harness, key=lambda s: (s["start"], -s["end"]))

    def caller(t):
        best = None
        for s in ordered:
            if s["start"] > t:
                break
            if s["end"] >= t and (best is None or s["start"] >= best["start"]):
                best = s
        return best

    spans, next_id = list(harness), max([s["id"] for s in harness] + [0]) + 1
    for q in tr["queries"]:
        for i, name in enumerate(("analysis", "optimization", "planning")):
            ph = q[1 + i]
            if ph and lo <= ph[0] <= hi:
                c = caller((ph[0] + ph[1]) / 2 + 0.5)
                if c is not None:
                    spans.append({"id": next_id, "parent": c["id"], "name": name,
                                  "layer": "catalyst", "op": c["op"],
                                  "start": ph[0], "end": ph[1],
                                  "executing": c["name"] == "execute",
                                  "scan_bytes": q[4] if name == "planning" else 0})
                    next_id += 1
    stage_rows = {}
    for st in tr["stages"]:
        stage_rows[st[0]] = st
    job_of_stage = {}
    for j in tr["jobs"]:
        job_id, start, stage_ids, callsite, _op, end, _ok = j
        if not lo <= start <= hi:
            continue
        c = caller(start + 0.5)
        if c is None:
            continue
        layer = analysis.job_layer(callsite, c["name"], layers)
        jid = next_id
        next_id += 1
        spans.append({"id": jid, "parent": c["id"], "name": f"job {callsite}",
                      "layer": layer, "op": c["op"], "start": start, "end": end})
        for sid in stage_ids:
            job_of_stage[sid] = (jid, layer, c["op"])
            st = stage_rows.get(sid)
            if st and st[3] and st[4]:
                spans.append({"id": next_id, "parent": jid, "name": f"stage {st[2]}",
                              "layer": layer, "op": c["op"], "start": st[3], "end": st[4]})
                next_id += 1
    return spans, job_of_stage


def layer_metrics(res, args):
    """Per-layer metrics of the traced passes plus the report with the
    per-operation table and per-layer self times."""
    layers = file_layers()
    tr = res["trace"]
    n_cores = res["cores"]
    traced, t_walls, _ = pass_stats(res, "traced")
    _, u_walls, _ = pass_stats(res, "untraced")
    per_pass, report_passes = [], []
    for p in traced:
        lo, hi = p["start"], p["end"]
        spans, job_of_stage = build_tree(res, lo, hi, layers)
        selfs = analysis.self_times(spans)
        by_layer = {}
        for s in spans:
            by_layer[s["layer"]] = by_layer.get(s["layer"], 0.0) + selfs[s["id"]] / 1000
        tasks = [t for t in tr["tasks"] if lo <= t[1] <= hi]
        jobs = [s for s in spans if s["name"].startswith("job ")]
        named = lambda n: [s for s in spans if s["name"] == n]
        n_ops = len(p["ops"])
        wall_ms = hi - lo
        ops = {}
        for o in p["ops"]:
            key = f"{p['pass']}/{o['name']}"
            mine = [s for s in spans if s["op"] == key]
            o_tasks = [t for t in tasks if job_of_stage.get(t[0], (0, "", ""))[2] == key]
            ops[o["name"]] = {
                "latency_s": o["latency_ms"] / 1000,
                "build_s": sum(s["end"] - s["start"] for s in mine if s["name"] == "build") / 1000,
                "execute_s": sum(s["end"] - s["start"] for s in mine if s["name"] == "execute") / 1000,
                "sources_jobs": sum(1 for s in mine if s["name"].startswith("job ") and s["layer"] == "sources"),
                "operators_jobs": sum(1 for s in mine if s["name"].startswith("job ") and s["layer"] == "operators"),
                "exec_jobs": sum(1 for s in mine if s["name"].startswith("job ") and s["layer"] == "exec"),
                "catalyst_s": {n: sum(s["end"] - s["start"] for s in mine
                                      if s["name"] == n and s.get("executing")) / 1000
                               for n in ("analysis", "optimization", "planning")},
                "tasks": len(o_tasks),
                "task_cpu_s": sum(t[4] for t in o_tasks) / 1e9,
                "shuffle_read_mb": sum(t[6] for t in o_tasks) / 1e6,
                "scan_mb": sum(s.get("scan_bytes", 0) for s in mine) / 1e6,
                "persisted_left": o["persisted_left"],
            }
        executing = [s for s in spans if s["layer"] == "catalyst" and s.get("executing")]
        m = {
            "sources.load_jobs_per_op": sum(1 for j in jobs if j["layer"] == "sources") / n_ops,
            "sources.scan_mb": sum(s.get("scan_bytes", 0) for s in spans) / 1e6,
            "operators.build_s": sum(s["end"] - s["start"] for s in named("build")) / 1000,
            "operators.build_jobs": sum(1 for j in jobs if j["layer"] == "operators"),
            "operators.persisted_rdds_left": sum(o["persisted_left"] for o in p["ops"]),
            "catalyst.analysis_s": sum(s["end"] - s["start"] for s in executing if s["name"] == "analysis") / 1000,
            "catalyst.optimization_s": sum(s["end"] - s["start"] for s in executing if s["name"] == "optimization") / 1000,
            "catalyst.planning_s": sum(s["end"] - s["start"] for s in executing if s["name"] == "planning") / 1000,
            "exec.run_s": sum(s["end"] - s["start"] for s in named("execute")) / 1000,
            "exec.jobs": len(jobs),
            "exec.stages": sum(1 for s in spans if s["name"].startswith("stage ")),
            "exec.tasks": len(tasks),
            "exec.task_cpu_s": sum(t[4] for t in tasks) / 1e9,
            "exec.core_util": sum(t[3] for t in tasks) / (wall_ms * n_cores),
            "exec.gc_s": sum(t[5] for t in tasks) / 1000,
            "exec.shuffle_read_mb": sum(t[6] for t in tasks) / 1e6,
            "exec.shuffle_write_mb": sum(t[7] for t in tasks) / 1e6,
            "exec.spill_mb": sum(t[8] for t in tasks) / 1e6,
            "exec.idle_gap_s": (wall_ms - analysis.union_length(
                [(t[1], t[2]) for t in tasks], lo, hi)) / 1000,
            "driver.gc_s": p["gc_ms"] / 1000,
        }
        per_pass.append(m)
        report_passes.append({
            "pass": p["pass"], "wall_s": wall_ms / 1000,
            "self_s_by_layer": by_layer,
            "self_s_total": sum(by_layer.values()),
            "share_of_wall": {"sources_self": by_layer.get("sources", 0.0) * 1000 / wall_ms,
                              "operators_build": m["operators.build_s"] * 1000 / wall_ms},
            "metrics": m, "ops": ops})
    metrics = {k: statistics.median(pm[k] for pm in per_pass) for k in per_pass[0]}

    probes = res["probes"]
    loads = probes["loads"]
    load_jobs = [j for j in tr["jobs"] if any(a <= j[1] <= b for _, a, b in loads)]
    metrics["sources.load_ms"] = statistics.median(b - a for _, a, b in loads)
    metrics["sources.load_jobs"] = len(load_jobs) / len(loads)
    for k, v in probes["kernels"].items():
        metrics[f"functions.{k}.mrows_per_s"] = v["rows"] / statistics.median(v["ms"]) / 1000

    # streaming and pipeline: the workload's own batches on ingest, the
    # two-batch ingest probe elsewhere
    if args.workload == "ingest":
        batch_ops = [o for p in traced for o in p["ops"]]
        stats = ingest_stats(traced)
        windows = [(p["start"], p["end"]) for p in traced]
    else:
        batch_ops = [o for pr in probes["ingest"] for o in pr["ops"]]
        stats = [json.loads(c["detail"]) for pr in probes["ingest"]
                 for c in pr["checks"] if c["name"] == "stats"]
        windows = [(min(o["start"] for o in batch_ops), max(o["end"] for o in batch_ops))]
    in_win = lambda s: any(a <= s[5] <= b for a, b in windows)
    step = {n: [(s[6] - s[5]) / 1000 for s in tr["spans"] if s[2] == n and in_win(s)]
            for n in ("streaming.ingest", "streaming.sketch", "streaming.query",
                      "streaming.compact")}
    step_spans = [s for s in tr["spans"] if in_win(s) and s[2] in
                  ("streaming.ingest", "streaming.sketch", "streaming.query")]
    stream_jobs = sum(1 for j in tr["jobs"] if any(s[5] <= j[1] <= s[6] for s in step_spans))
    metrics.update({
        "streaming.ingest_s": statistics.median(step["streaming.ingest"]),
        "streaming.sketch_s": statistics.median(step["streaming.sketch"]),
        "streaming.query_s": statistics.median(step["streaming.query"]),
        "streaming.compact_s": statistics.median(step["streaming.compact"]),
        "streaming.segments": statistics.median(s["segments"] for s in stats),
        "streaming.checkpoint_mb": statistics.median(s["checkpoint_bytes"] for s in stats) / 1e6,
        "streaming.jobs_per_batch": stream_jobs / len(batch_ops),
        "streaming.rows_per_s": sum(s["landed_rows"] for s in stats) /
            sum(sum(v) for k, v in step.items() if k != "streaming.compact"),
        "streaming.stored_bytes_per_input_byte": statistics.median(
            s["stored_bytes"] / s["landed_bytes"] for s in stats),
        "pipeline.run_s": statistics.median(o["pipeline_run_ms"] for o in batch_ops) / 1000,
        "pipeline.stage_s": statistics.median(o["pipeline_stage_ms"] for o in batch_ops) / 1000,
        "pipeline.overhead_s": statistics.median(
            o["pipeline_run_ms"] - o["pipeline_stage_ms"] for o in batch_ops) / 1000,
        "engine.session_s": res["session_s"],
        "engine.warm_s": res["warm_s"],
        "trace.overhead_s": statistics.median(t_walls) - statistics.median(u_walls),
    })
    report = {"workload": args.workload, "seed": args.seed, "cores": n_cores,
              "untraced_pass_s": u_walls, "traced_pass_s": t_walls,
              "passes": report_passes, "kernels": probes["kernels"]}
    return metrics, report


def measure(args):
    """Build, stage the inputs and run the harness once; returns its raw
    result. ``args`` carries workload, seed, seconds, trace and queries."""
    build_dir = build()
    args.t0 = time.time()
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    if args.workload == "ingest" or args.trace:
        stage_batches(os.path.join(work, "batches"), args.seed, INGEST_BATCHES, INGEST_ROWS)
    res = run_harness(build_dir, args, work)
    # a failed run keeps its work directory and harness.log
    shutil.rmtree(work, ignore_errors=True)
    return res


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--capture", action="store_true",
                    help="store this run's result fingerprints as the expected ones")
    args = ap.parse_args()
    args.queries = WORKLOADS[args.workload] or []
    res = measure(args)

    attempted, failures = check_results(args.workload, res, args.capture)
    for f in failures:
        log(f"FAILED {f}")
    if args.trace:
        metrics, report = layer_metrics(res, args)
        reports = os.path.join(BUILD, "reports")
        os.makedirs(reports, exist_ok=True)
        path = os.path.join(reports, f"{args.workload}-seed{args.seed}-traced.json")
        with open(path, "w") as f:
            json.dump({"metrics": metrics, **report}, f, indent=1)
        log(f"traced report: {path}")
        from_bench = {m["name"]: m["unit"] for m in load_benchmark()["per_layer"]}
        out = {k: {"value": v, "unit": from_bench[k]} for k, v in metrics.items()}
    else:
        m, info = end_to_end(res)
        out = {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
        for k, v in info.items():
            print(f"{k}: {v}")
    print(f"failed_frac: {len(failures) / attempted:.6f} ({len(failures)}/{attempted})")
    for k, v in out.items():
        print(f"{k}: {v['value']} {v['unit']}")
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": out}))


def load_benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


if __name__ == "__main__":
    main()
