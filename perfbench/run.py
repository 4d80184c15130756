#!/usr/bin/env python3
"""ETL benchmark: bulk load, incremental re-run, cron ticks and a query mix.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source on first use (sbt, into
.bench_build/), generates the fixture tables once, stages the seed's
inputs, runs one JVM with Spark local[N] (N = min(4, nproc)) that sets up,
warms up and then runs whole passes of the workload back to back (as many
as take about `--seconds` at the workload's nominal pass time), checks
every output against DuckDB, and prints a report
followed by one JSON line: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones (from traced passes that alternate with untraced ones).
"""
import argparse
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
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

WORKLOADS = ("bulk_load", "incremental_rerun", "cron_ticks", "query_mix")
QUERIES = ("q5_row_hash", "q6_snapshot_distinct", "q7_incremental_antijoin",
           "q9_type_normalize", "q10_sanitize_quote", "bloom_incremental_dedup",
           "dedup_exact", "dedup_minhash_lsh", "merge_upsert", "cdc_apply",
           "scd2_history", "table_diff")
ETL_SF = 0.1                  # bulk_load, incremental_rerun, cron_ticks inputs
QUERY_SF = 0.01               # query_mix inputs (its DuckDB oracles include an
                              # exhaustive all-pairs Jaccard: ~170 s at sf0.1)
CRON_MIN_TICKS = 400          # the start hour leaves room for this many ticks
CRON_HOURS = 30 * 24          # the span of the events table
RUN_LIMIT_S = 170             # whole run, build excluded
JVM_OPTS = [
    "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UseDynamicNumberOfCompilerThreads",
    *[x for p in ("java.base/java.lang", "java.base/java.lang.invoke",
                  "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
                  "java.base/java.nio", "java.base/java.util",
                  "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
                  "java.base/sun.nio.ch", "java.base/sun.nio.cs",
                  "java.base/sun.security.action", "java.base/sun.util.calendar")
      for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
]

# End-to-end and per-layer metric units (names as in BENCHMARK.json).
E2E_UNITS = {"setup_s": "s", "pass_s": "s", "run_s.p50": "s", "run_s.p90": "s",
             "run_cpu_s.p50": "s", "jit_cpu_s": "s",
             "rows_per_s": "rows/s", "cpu_s": "s", "heap_peak_mb": "MB",
             "fail_ratio": "ratio"}


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---- build -------------------------------------------------------------

def source_digest():
    """Digest of everything the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def ensure_built(digest):
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = os.path.join(BUILD, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=fh,
                           text=True, timeout=850)
        fh.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        die(f"build failed (see {log})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cp


def commit_stamp(digest):
    try:
        c = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if c.returncode == 0 and c.stdout.strip():
            return c.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "source-sha256:" + digest[:16]


# ---- statistics --------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def p90(xs):
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def union_ms(intervals, lo, hi):
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# ---- checks ------------------------------------------------------------

def run_checks(workload, res, base, work):
    """Returns ({op seq: [problems]}, [run-level problems], self-check ok)."""
    import checks
    con = checks.connect()
    timed = [o for o in res["ops"] if o["phase"] != "warm"]
    per_op = {o["seq"]: ([o["error"]] if o["error"] else []) for o in res["ops"]}
    run_level = []
    planted_dir = os.path.join(work, "planted")
    if workload == "bulk_load":
        c = checks.BulkLoad(con, base)
        for o in timed:
            per_op[o["seq"]] += c.check(o) if not o["error"] else []
        checks.plant_extra_row(con, timed[0]["target"], planted_dir, "*.csv", "csv")
        planted_ok = bool(c.check(dict(timed[0], target=planted_dir)))
    elif workload == "incremental_rerun":
        c = checks.IncrementalRerun(con, base, os.path.join(
            work, "seed", "lineitem_tgt.parquet", "part-seed.parquet"))
        for o in timed:
            per_op[o["seq"]] += c.check(o) if not o["error"] else []
        checks.plant_extra_row(con, timed[0]["target"], planted_dir, "*.parquet", "parquet")
        planted_ok = bool(c.check(dict(timed[0], target=planted_dir)))
    elif workload == "cron_ticks":
        c = checks.CronTicks(con, base)
        ticks = sorted(res["ops"], key=lambda o: o["tick"])
        for o, probs in zip(ticks, c.tick_problems(ticks)):
            per_op[o["seq"]] += probs
        target = ticks[0]["target"]
        run_level = c.target_problems(target, ticks)
        checks.plant_extra_row(con, target, planted_dir, "*.parquet", "parquet")
        planted_ok = bool(c.target_problems(planted_dir, ticks))
    else:
        c = checks.QueryMix(con, base, os.path.join(BUILD, "oracle-cache"))
        oracle = res["meta"]["oracle_sql"]
        bad = {}
        for q in oracle:
            probs = c.compare(oracle[q], os.path.join(work, "qcheck", q))
            if probs:
                bad[q] = probs
        for o in res["ops"]:
            per_op[o["seq"]] += [f"{o['name']}: {p}" for p in bad.get(o["name"], [])]
        q0 = sorted(oracle)[0]
        checks.plant_extra_row(con, os.path.join(work, "qcheck", q0), planted_dir,
                               "*.parquet", "parquet")
        planted_ok = bool(c.compare(oracle[q0], planted_dir))
    con.close()
    if run_level:  # the target is the joint output of every tick
        for o in timed:
            per_op[o["seq"]] += ["target check failed"]
    return per_op, run_level, planted_ok


# ---- metrics -----------------------------------------------------------

def e2e_metrics(res, phase, setup_s, per_op):
    ops = [o for o in res["ops"] if o["phase"] == phase]
    passes = [p for p in res["passes"] if p["phase"] == phase]
    walls = [o["wall_s"] for o in ops]
    reads = [o["read"] for o in ops if "read" in o]
    failed = sum(1 for o in ops if per_op.get(o["seq"]))
    m = {"setup_s": setup_s,
         "pass_s": median([p["wall_s"] for p in passes]),
         "run_s.p50": median(walls),
         "run_s.p90": p90(walls),
         "run_cpu_s.p50": median([o["cpu_s"] for o in ops]),
         "rows_per_s": (sum(reads) / sum(walls)) if reads and sum(walls) > 0 else 0.0,
         "cpu_s": median([p["cpu_s"] for p in passes]),
         "jit_cpu_s": median([p["jit_cpu_s"] for p in passes]),
         "heap_peak_mb": median([p["heap_peak_mb"] for p in passes]),
         "fail_ratio": failed / len(ops) if ops else 1.0}
    counts = {"ops": len(ops), "passes": len(passes), "failed": failed}
    return m, counts


def layer_metrics(res, workload, seeded_rows, cores):
    """Per-layer metrics from the traced passes. Returns (metrics, bases)."""
    by_op = {}
    for s in res["spans"]:
        if not s["name"].startswith("bench."):
            by_op.setdefault(s["op"], []).append(s)
    span_op = {str(s["id"]): s["op"] for s in res["spans"] if not s["name"].startswith("bench.")}
    jobs_by_op, stages_by_op = {}, {}
    for j in res["jobs"]:
        if j["span"] in span_op:
            jobs_by_op.setdefault(span_op[j["span"]], []).append(j)
    for st in res["stages"]:
        if st["span"] in span_op:
            stages_by_op.setdefault(span_op[st["span"]], []).append(st)
    ops = [o for o in res["ops"] if o["phase"] == "traced"]
    sa = res["standalone"]
    etl = workload != "query_mix"
    incremental = workload in ("incremental_rerun", "cron_ticks")

    def per_op(f):
        return median([f(o) for o in ops]) if ops else 0.0

    def dur(o, name):
        return sum(s["end_ms"] - s["start_ms"] for s in by_op.get(o["op_id"], [])
                   if s["name"] == name)

    def stages(o):
        return stages_by_op.get(o["op_id"], [])

    def hashed_rows(o):
        """Source rows plus target-window rows: both sides of the anti-join."""
        if not incremental:
            return 0
        tgt = seeded_rows if workload == "incremental_rerun" else o.get("target_window_rows", 0)
        return o["read"] + tgt

    m = {}
    m["sources.read_ms"] = per_op(lambda o: dur(o, "sources.read"))
    m["sources.scan_tasks"] = per_op(lambda o: sum(s["tasks"] for s in stages(o) if s["in_records"]))
    m["sources.scan_busy_s"] = per_op(
        lambda o: sum(s["run_ms"] for s in stages(o) if s["in_records"]) / 1e3)
    m["sources.rows_scanned"] = per_op(lambda o: sum(s["in_records"] for s in stages(o)))
    m["sources.scans_per_run"] = per_op(
        lambda o: sum(s["in_records"] for s in stages(o)) / o["read"] if o.get("read") else 0.0)
    m["pipeline.plan_ms"] = sa.get("pipeline.plan_ms", 0.0)
    m["pipeline.jobs_per_run"] = per_op(lambda o: len(jobs_by_op.get(o["op_id"], [])))
    m["pipeline.tasks_per_run"] = per_op(lambda o: sum(s["tasks"] for s in stages(o)))
    m["pipeline.driver_s"] = per_op(lambda o: (o["end_ms"] - o["start_ms"] - union_ms(
        [(j["start_ms"], j["end_ms"]) for j in jobs_by_op.get(o["op_id"], [])],
        o["start_ms"], o["end_ms"])) / 1e3)
    m["pipeline.cache_mb"] = per_op(lambda o: o["cache_peak_bytes"] / 1e6)
    m["types.encode_s"] = sa.get("types.encode_s", 0.0)
    m["rowhash.rows"] = per_op(hashed_rows)
    m["rowhash.s"] = sa.get("rowhash.s", 0.0)
    m["rowhash.rows_per_written_row"] = median(
        [hashed_rows(o) / o["written"] for o in ops if o.get("written")]) if incremental else 0.0
    m["dedup.snapshot_rows"] = sa.get("dedup.snapshot_rows", 0)
    m["dedup.snapshot_s"] = sa.get("dedup.snapshot_s", 0.0)
    m["dedup.filter_s"] = sa.get("dedup.filter_s", 0.0)
    m["dedup.shuffle_mb"] = per_op(
        lambda o: sum(s["shuffle_write_bytes"] for s in stages(o)) / 1e6) if incremental else 0.0
    m["dedup.filtered_share"] = per_op(
        lambda o: o["filtered"] / o["read"] if o.get("read") else 0.0) if incremental else 0.0
    m["dedup.broadcast"] = sa.get("dedup.broadcast", 0)
    m["sink.write_s"] = per_op(lambda o: dur(o, "sink.write") / 1e3) if etl else 0.0
    m["sink.rows_out"] = per_op(lambda o: sum(s["out_records"] for s in stages(o))) if etl else 0.0
    m["sink.mb_out"] = per_op(lambda o: sum(s["out_bytes"] for s in stages(o)) / 1e6) if etl else 0.0
    m["sink.files_out"] = per_op(lambda o: o["files_after"] - o["files_before"]) if etl else 0.0
    m["sink.target_files"] = ops[-1]["files_after"] if etl and ops else 0
    rows_out = sum(s["out_records"] for o in ops for s in stages(o))
    bytes_out = sum(s["out_bytes"] for o in ops for s in stages(o))
    m["sink.bytes_per_row"] = bytes_out / rows_out if etl and rows_out else 0.0
    for q in QUERIES:
        m[f"queries.s.{q}"] = median([o["wall_s"] for o in ops if o["name"] == q]) \
            if workload == "query_mix" else 0.0
    passes = [p for p in res["passes"] if p["phase"] == "traced"]
    pass_of = {o["op_id"]: o["pass"] for o in ops}
    per_pass = {}
    for op_id, sts in stages_by_op.items():
        if op_id in pass_of:
            per_pass.setdefault(pass_of[op_id], []).extend(sts)

    def pass_stat(f):
        return median([f(per_pass.get(p["pass"], []), p) for p in passes]) if passes else 0.0

    m["engine.busy_share"] = pass_stat(
        lambda sts, p: sum(s["run_ms"] for s in sts) / 1e3 / (p["wall_s"] * cores))
    m["engine.gc_s"] = median([p["gc_s"] for p in passes])
    m["engine.shuffle_mb"] = pass_stat(lambda sts, p: sum(s["shuffle_write_bytes"] for s in sts) / 1e6)
    m["engine.spill_mb"] = pass_stat(lambda sts, p: sum(s["spill_bytes"] for s in sts) / 1e6)
    m["engine.tasks"] = pass_stat(lambda sts, p: sum(s["tasks"] for s in sts))
    untraced = [p["wall_s"] for p in res["passes"] if p["phase"] == "untraced"]
    m["trace.overhead_s"] = median([p["wall_s"] for p in passes]) - median(untraced)
    t_lo = min((o["start_ms"] for o in ops), default=0)
    m["trace.unattributed_jobs"] = sum(1 for j in res["jobs"] if j["span"] is None
                                       and j["start_ms"] >= t_lo)

    reads = per_op(lambda o: o.get("read", 0))
    bases = {
        "sources.scans_per_run": f"rows scanned / rowsRead {reads:.0f}",
        "rowhash.rows_per_written_row":
            f"rows hashed / rowsWritten {per_op(lambda o: o.get('written', 0)):.0f}",
        "dedup.filtered_share": f"rowsFiltered / rowsRead {reads:.0f}",
        "sink.bytes_per_row": f"bytes out {bytes_out} / rows out {rows_out}",
        "engine.busy_share": f"task run time / (pass wall x {cores} cores)",
        "trace.overhead_s": f"traced pass_s - untraced pass_s {median(untraced):.4f}",
        "pipeline.driver_s": "operation wall not covered by any Spark job",
    }
    return m, bases


def self_times(res):
    """Self time per span name: duration minus the part covered by child
    spans and by the Spark jobs attributed to the span."""
    kids = {}
    for s in res["spans"]:
        kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    for j in res["jobs"]:
        if j["span"] is not None and j["end_ms"] >= 0:
            kids.setdefault(int(j["span"]), []).append((j["start_ms"], j["end_ms"]))
    out = {}
    for s in res["spans"]:
        d = s["end_ms"] - s["start_ms"]
        own = d - union_ms(kids.get(s["id"], []), s["start_ms"], s["end_ms"])
        tot = out.setdefault(s["name"], [0, 0.0, 0.0])
        tot[0] += 1
        tot[1] += d / 1e3
        tot[2] += own / 1e3
    return out


# ---- main --------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    needed = [os.path.join(ROOT, "src", "main", "scala", "graft"),
              os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "tools", "gen_testdata.py"),
              os.path.join(ROOT, "tools", "compare.py")]
    if not all(os.path.exists(p) for p in needed):
        die("engine sources not found next to perfbench/ (run from a full checkout)")

    digest = source_digest()
    classpath = ensure_built(digest)
    import fixtures
    import numpy as np
    base = fixtures.ensure_base(BUILD, ROOT,
                                QUERY_SF if args.workload == "query_mix" else ETL_SF)

    cores = max(1, min(4, os.cpu_count() or 1))
    work = os.path.join(BUILD, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    t_setup0 = time.time()
    try:
        rng = np.random.default_rng([args.seed, 7])
        extra = []
        seeded_rows = 0
        if args.workload == "incremental_rerun":
            seeded_rows = fixtures.stage_incremental_target(
                base, os.path.join(work, "seed", "lineitem_tgt.parquet", "part-seed.parquet"),
                args.seed)
        elif args.workload == "cron_ticks":
            start = int(rng.integers(0, CRON_HOURS - CRON_MIN_TICKS - 2))
            extra += ["--cron-start-hour", str(start)]
        elif args.workload == "query_mix":
            extra += ["--query-order", ",".join(rng.permutation(list(QUERIES)))]
        out = os.path.join(work, "result.json")
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
            if os.environ.get("JAVA_HOME") else "java"
        cmd = [java, *JVM_OPTS, f"-Djava.io.tmpdir={work}/tmp", "-cp", classpath,
               "perfbench.Main", "--workload", args.workload, "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--fixtures", base, "--work", work, "--out", out,
               "--cores", str(cores), *extra]
        log = os.path.join(work, "jvm.log")
        with open(log, "w") as fh:
            p = subprocess.Popen(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT)
            try:
                rc = p.wait(timeout=max(30.0, RUN_LIMIT_S - (time.time() - t_setup0)))
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                rc = "timeout"
        if rc != 0 or not os.path.exists(out):
            with open(log) as fh:
                tail = fh.read()[-3000:]
            die(f"benchmark process failed ({rc}):\n{tail}")
        with open(out) as fh:
            res = json.load(fh)
        setup_s = res["ready_ms"] / 1e3 - t_setup0

        per_op, run_level, planted_ok = run_checks(args.workload, res, base, work)
        phase = "traced" if args.trace else "untraced"
        timed = [o for o in res["ops"] if o["phase"] == phase]
        attempted = len(timed)
        failed = sum(1 for o in timed if per_op.get(o["seq"]))
        # Any problem makes the run incorrect, warm-up and untimed ops
        # included; `failed` counts only the ops this run's metrics measure.
        correct = not any(per_op.values()) and not run_level and planted_ok and attempted > 0

        st = res["stamp"]
        print(f"# perfbench workload={args.workload} seed={args.seed} seconds={args.seconds:g} "
              f"trace={args.trace}")
        print(f"# stamp nproc={os.cpu_count()} spark_master={st['spark_master']} "
              f"spark={st['spark_version']} gc={st['gc']} max_heap_mb={st['max_heap_mb']:.0f} "
              f"spark.local.dir={os.path.relpath(st['spark_local_dir'], ROOT)} "
              f"java={st['java_version']} commit={commit_stamp(digest)}")
        print(f"# setup: staging {res['jvm_start_ms'] / 1e3 - t_setup0:.2f} s, jvm+session "
              f"{(res['session_ms'] - res['jvm_start_ms']) / 1e3:.2f} s, warm-up "
              f"{(res['ready_ms'] - res['staged_ms']) / 1e3:.2f} s; measured "
              f"{(res['end_ms'] - res['ready_ms']) / 1e3:.2f} s; checks "
              f"{time.time() - res['end_ms'] / 1e3:.2f} s")
        e2e, counts = e2e_metrics(res, "untraced", setup_s, per_op)
        print(f"# end_to_end (untraced, closed loop, 1 caller; {counts['ops']} operations in "
              f"{counts['passes']} passes)")
        for k, v in e2e.items():
            print(f"#   {k:<14} {v:>14.4f} {E2E_UNITS[k]}")
        if run_level:
            print(f"# run-level check problems: {run_level}")
        problems = [(o["seq"], per_op[o["seq"]]) for o in res["ops"] if per_op.get(o["seq"])]
        for seq, probs in problems[:10]:
            print(f"# failed op {seq}: {'; '.join(probs)[:300]}")
        print(f"# self-check: planted wrong target {'rejected' if planted_ok else 'NOT rejected'}")

        if args.trace:
            layers, bases = layer_metrics(res, args.workload, seeded_rows, cores)
            te2e, tcounts = e2e_metrics(res, "traced", setup_s, per_op)
            print(f"# traced passes: pass_s {te2e['pass_s']:.4f} s, run_s.p50 "
                  f"{te2e['run_s.p50']:.4f} s, cpu_s {te2e['cpu_s']:.4f} s "
                  f"({tcounts['ops']} operations)")
            print("# per_layer (traced passes; standalone layer timings after them)")
            for k, v in layers.items():
                b = f"   [{bases[k]}]" if k in bases else ""
                print(f"#   {k:<40} {v:>14.4f}{b}")
            print("# self time per span name: count, total s, self s")
            for name, (n, tot, own) in sorted(self_times(res).items()):
                print(f"#   {name:<40} {n:>5} {tot:>10.3f} {own:>10.3f}")
            metrics = {k: {"value": v, "unit": LAYER_UNITS[k]}
                       for k, v in layers.items()}
        else:
            metrics = {k: {"value": e2e[k], "unit": E2E_UNITS[k]} for k in GATED}

        os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
        with open(os.path.join(BUILD, "results",
                               f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
            json.dump({"stamp": st, "e2e": e2e, "metrics": metrics, "ops": res["ops"],
                       "meta": res["meta"],
                       "spans": res["spans"], "jobs": res["jobs"]}, fh)
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


# End-to-end metrics gated in BENCHMARK.json; the others are printed in the
# report only. pass_s is the wall-time gate and cpu_s (JIT compilation
# excluded) the cost gate. run_s.p50 spreads more than pass_s across seeds on
# query_mix, where it is a median over twelve different queries; rows_per_s
# is 0 on query_mix; heap_peak_mb spread 0.1-0.6 (IQR/median) over seeds.
GATED = ("setup_s", "pass_s", "cpu_s")


LAYER_UNITS = {
    "sources.read_ms": "ms", "sources.scan_tasks": "count", "sources.scan_busy_s": "s",
    "sources.rows_scanned": "rows", "sources.scans_per_run": "ratio",
    "pipeline.plan_ms": "ms", "pipeline.jobs_per_run": "count",
    "pipeline.tasks_per_run": "count", "pipeline.driver_s": "s", "pipeline.cache_mb": "MB",
    "types.encode_s": "s",
    "rowhash.rows": "rows", "rowhash.s": "s", "rowhash.rows_per_written_row": "ratio",
    "dedup.snapshot_rows": "rows", "dedup.snapshot_s": "s", "dedup.filter_s": "s",
    "dedup.shuffle_mb": "MB", "dedup.filtered_share": "ratio", "dedup.broadcast": "bool",
    "sink.write_s": "s", "sink.rows_out": "rows", "sink.mb_out": "MB",
    "sink.files_out": "count", "sink.target_files": "count", "sink.bytes_per_row": "B/row",
    **{f"queries.s.{q}": "s" for q in QUERIES},
    "engine.busy_share": "ratio", "engine.gc_s": "s", "engine.shuffle_mb": "MB",
    "engine.spill_mb": "MB", "engine.tasks": "count",
    "trace.overhead_s": "s", "trace.unattributed_jobs": "count",
}

if __name__ == "__main__":
    main()
