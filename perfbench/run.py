#!/usr/bin/env python3
"""The repository's benchmark: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (offline) into the build directory
($CARGO_TARGET_DIR, default `.bench_build`); later runs reuse the build while
the sources are unchanged. Each run then:

1. generates its inputs from the seed (gen.py) in a fresh run directory;
2. starts the harness JVM (perfbench.Main), which sets the workload up three
   times, times the host calibration probes, and runs one closed-loop client
   for `--seconds`;
3. checks the outputs (check.py): delivered CDC ranges against the expected
   latest state, query row counts against DuckDB;
4. prints a summary, then the result as the last line of stdout;
5. deletes the run directory.

With --trace 1 the harness records one span per call at each layer
boundary; the run prints the per-layer metrics and keeps the spans in
<build dir>/traces/. See NOTES.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

# a run, build excluded, must end within 180 s
RUN_BUDGET_S = 170

LINEITEM_PK = ["l_orderkey", "l_linenumber"]
ALLOWLIST_CONFIG = "l_orderkey,l_linenumber,version,l_quantity,l_extendedprice"
CLIENT_ALLOWLIST = "L_SHIPDATE"
DELIVERED_COLS = ["l_orderkey", "l_linenumber", "version", "l_quantity",
                  "l_extendedprice", "l_shipdate"]
VALUE_COLS = ["l_quantity", "l_extendedprice"]

WORKLOADS = {
    # 500-row change sets (the reference's Sql_Trigger_MaxBatchSize), one
    # commit and one drain per batch, every 10th POST answered 503
    "cdc-trickle": dict(kind="cdc", n_sets=24, rows_per_set=500, base_rows=20_000,
                        fault_every=10),
    # a fixed slice of SparkEntry.queries at sf0.01, full materialization
    "query-suite": dict(kind="suite", sf=0.01),
}

# every QUERY_STRIDE-th query in name order, plus the queries whose executed
# plans the traced run checks for the projections a count() would prune
QUERY_STRIDE = 48
PLAN_CHECKS = {"f17_json_serialize": "AS payload#",
               "e_pii_redact": "AS redacted#",
               "e_text_quality": "AS quality_score#"}

JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------------- build

def source_stamp(root):
    """Hash of every input of the build."""
    h = hashlib.sha256()
    tops = [os.path.join(root, p) for p in ("build.sbt", "project", "src/main",
                                            "perfbench/build.sbt", "perfbench/project",
                                            "perfbench/src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(top)
            if "target" not in os.path.relpath(d, top).split(os.sep) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(root, build_dir):
    """Compile the engine and harness; return the harness classpath."""
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "classpath.stamp")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(build_dir, exist_ok=True)
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # sbt's global state (its boot files and compiler bridge) goes in the build
    # directory; the offline dependency caches are only read
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false",
            f"-Dsbt.global.base={os.path.join(build_dir, 'sbt-global')}",
            f"-Djava.io.tmpdir={tmp}", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                             cwd=os.path.join(root, "perfbench"), env=env,
                             stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"build failed (exit {rc}); log in {log}")
    shutil.copy(os.path.join(root, "perfbench", "target", "classpath.txt"), cp_file)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as f:
        return f.read()


# --------------------------------------------------------------------- inputs

def cdc_inputs(cfg, run_dir, seed):
    base, sets = gen.cdc_inputs(os.path.join(run_dir, "inputs"), seed,
                                n_sets=cfg["n_sets"], rows_per_set=cfg["rows_per_set"],
                                base_rows=cfg["base_rows"])
    spec = {"table": "lineitem", "pk": LINEITEM_PK, "version": "version",
            "allowlist_config": ALLOWLIST_CONFIG, "client_allowlist": CLIENT_ALLOWLIST,
            "fault_every": cfg["fault_every"],
            "base": base,
            "sets": [{"path": p, "rows": t.num_rows} for p, t in sets]}
    columns = LINEITEM_PK + ["version"] + VALUE_COLS
    generated = {i: t.select(columns).to_pydict() for i, (_, t) in enumerate(sets)}
    return spec, generated


def suite_inputs(data_dir, seed, sf):
    gen.suite_tables(data_dir, seed, sf)
    return {"data_dir": data_dir, "stride": QUERY_STRIDE, "plan_checks": PLAN_CHECKS}


def oracle_rows(data_dir, oracle):
    """Row count of each query's DuckDB oracle over the same parquet files."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"SET temp_directory = '{os.path.join(data_dir, 'duckdb_tmp')}'")
    for t in gen.SUITE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t)}.parquet')")
    return {name: con.execute(f"SELECT count(*) FROM ({sql.strip().rstrip(';')})").fetchone()[0]
            for name, sql in oracle.items()}


# ------------------------------------------------------------------ the JVM

def run_jvm(classpath, run_dir, inputs, deadline):
    paths = {k: os.path.join(run_dir, k) for k in
             ("inputs.json", "result.json", "spans.jsonl", "posts.jsonl", "jvm.log")}
    with open(paths["inputs.json"], "w") as f:
        json.dump(inputs, f)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
           + JVM_OPENS + ["-cp", classpath, "perfbench.Main", paths["inputs.json"],
                          paths["result.json"], paths["spans.jsonl"], paths["posts.jsonl"]])
    with open(paths["jvm.log"], "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if rc != 0:
        with open(paths["jvm.log"]) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail("harness JVM " + ("timed out" if rc is None else f"exited with {rc}"), 3)
    with open(paths["result.json"]) as f:
        result = json.load(f)
    return result, paths


def read_jsonl(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


# -------------------------------------------------------------------- metrics

def op_walls_ms(ops, failed):
    return [(o["end_ns"] - o["start_ns"]) / 1e6 for o in ops if o["op"] not in failed]


def end_to_end(result, ops, failed):
    walls = op_walls_ms(ops, failed)
    window_ms = (result["window_end_ns"] - result["window_start_ns"]) / 1e6
    ok = max(1, len(walls))
    return {
        "setup_s": (statistics.median(result["setup_s"]), "s"),
        "op_p50_ms": (statistics.median(walls) if walls else window_ms, "ms"),
        "op_mean_ms": (window_ms / ok, "ms"),
        "cpu_ms_per_op": (result["cpu_s"] * 1000.0 / max(1, len(ops)), "ms"),
    }


def layer_self_ns(spans, posts):
    """Self time per layer: each span's duration minus the part of it its
    children cover. The POSTs under a sink action count as one child, the
    union of their intervals (they run in parallel)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ns"], s["end_ns"]))
    post_iv = {}
    for p in posts:
        post_iv.setdefault(p["parent"], []).append((p["start_ns"], p["end_ns"]))
    self_ns = {}
    for s in spans:
        own = children.get(s["id"], []) + post_iv.get(s["id"], [])
        clipped = [(max(a, s["start_ns"]), min(b, s["end_ns"])) for a, b in own]
        covered = check.union_length([iv for iv in clipped if iv[1] > iv[0]])
        self_ns[s["layer"]] = self_ns.get(s["layer"], 0) + (s["end_ns"] - s["start_ns"] - covered)
    for parent, ivs in post_iv.items():
        self_ns["sinks.post"] = self_ns.get("sinks.post", 0) + check.union_length(ivs)
    return self_ns


FAMILIES = ("relational", "sql", "corpus", "snapshot")


def per_layer(result, ops, spans, cdc_counts):
    """Every per-layer metric (BENCHMARK.json) for this traced run; a layer
    the workload does not touch reads 0."""
    n = max(1, len(ops))
    op_ids = {o["op"] for o in ops}
    spans = [s for s in spans if s["op"] in op_ids]   # set-up spans carry op 0
    window_ns = result["window_end_ns"] - result["window_start_ns"]
    jobs = result["jobs"]
    job_ns = check.union_length([(j["start_ms"] * 1e6, j["end_ms"] * 1e6) for j in jobs])
    op_ns = sum(o["end_ns"] - o["start_ns"] for o in ops) or 1
    posts = result["posts"]
    self_ns = layer_self_ns(spans, posts)
    m = {
        "spark.jobs_per_op": (len(jobs) / n, "count"),
        "spark.stages_per_op": (result["stages"] / n, "count"),
        "spark.tasks_per_op": (result["tasks"] / n, "count"),
        "spark.job_ms_per_op": (job_ns / 1e6 / n, "ms"),
        "spark.driver_gap_ms_per_op": ((window_ns - job_ns) / 1e6 / n, "ms"),
        "spark.shuffle_bytes_per_op": (result["shuffle_bytes"] / n, "bytes"),
        "trace.op_p50_ms": (statistics.median([(o["end_ns"] - o["start_ns"]) / 1e6
                                               for o in ops]), "ms"),
        "trace.self_sum_ratio": (sum(v for k, v in self_ns.items() if k != "op") / op_ns,
                                 "ratio"),
        "trace.spans_per_op": ((len(spans) + len(posts)) / n, "count"),
        "host.steal_share": (result["steal_s"] / (window_ns / 1e9) / (os.cpu_count() or 1),
                             "ratio"),
        "host.calibration_mt_s": (result["calibration_mt_s"], "s"),
        "host.calibration_st_s": (result["calibration_st_s"], "s"),
    }
    for layer in ("storage", "streaming", "pipeline", "state"):
        m[f"{layer}.self_share"] = (self_ns.get(layer, 0) / op_ns, "ratio")
    m["sinks.plan_share"] = (self_ns.get("sinks", 0) / op_ns, "ratio")
    m["sinks.post_share"] = (self_ns.get("sinks.post", 0) / op_ns, "ratio")

    commits = [c for o in ops for c in o.get("commits", [])]
    files = result.get("commit_files", [])
    # every row a batch commits is a feed row of its drain
    feed_rows = sum(o.get("rows", 0) for o in ops if "commits" in o)
    by_layer_jobs = {}
    for j in jobs:
        by_layer_jobs[j["layer"]] = by_layer_jobs.get(j["layer"], 0) + 1
    state_calls = sum(1 for s in spans if s["layer"] == "state")
    rows_posted = cdc_counts.get("rows_posted", 0)
    m.update({
        "storage.commit_jobs": (by_layer_jobs.get("storage", 0) / max(1, len(commits)), "count"),
        "storage.files_per_commit": (sum(f["files"] for f in files) / max(1, len(files)),
                                     "count"),
        "storage.bytes_per_row": (sum(f["bytes"] for f in files) / max(1, feed_rows),
                                  "bytes"),
        "streaming.feed_rows": (feed_rows / n, "count"),
        "pipeline.redeliveries": (cdc_counts.get("redeliveries", 0), "count"),
        "pipeline.retry_scheduled": (cdc_counts.get("retry_scheduled", 0), "count"),
        "pipeline.notify_required": (cdc_counts.get("notify_required", 0), "count"),
        "state.calls_per_op": (state_calls / n, "count"),
        "state.jobs_per_op": (by_layer_jobs.get("state", 0) / n, "count"),
        "sinks.posts_per_op": (len(posts) / n, "count"),
        "sinks.bytes_posted_per_op": (sum(p["bytes"] for p in posts) / n, "bytes"),
        "sinks.rows_posted_per_op": (rows_posted / n, "count"),
        "operators.dedup_keep_ratio": (rows_posted / feed_rows if feed_rows else 0.0, "ratio"),
    })
    fam_ops = {f: [o for o in ops if o.get("family") == f] for f in FAMILIES}
    for f in FAMILIES:
        ids = {str(o["op"]) for o in fam_ops[f]}
        fam_ns = sum(o["end_ns"] - o["start_ns"] for o in fam_ops[f])
        fam_jobs = [j for j in jobs if j["op"] in ids]
        gap_ns = fam_ns - sum(check.union_length(
            [(j["start_ms"] * 1e6, j["end_ms"] * 1e6) for j in fam_jobs if j["op"] == i])
            for i in ids)
        m[f"queries.{f}_share"] = (fam_ns / op_ns if fam_ops[f] else 0.0, "ratio")
        m[f"queries.{f}.jobs_per_query"] = (len(fam_jobs) / max(1, len(fam_ops[f])), "count")
        m[f"queries.{f}.driver_gap_share"] = (gap_ns / fam_ns if fam_ns else 0.0, "ratio")
    m["queries.memo_build_share"] = (sum(o.get("memo_s", 0.0) for o in ops) * 1e9 / op_ns,
                                     "ratio")
    return m, self_ns


# ----------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"run from the root of a checkout: {need} is missing")
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    classpath = build(root, build_dir)

    start = time.monotonic()
    deadline = start + RUN_BUDGET_S
    cfg = WORKLOADS[args.workload]
    run_dir = os.path.join(build_dir, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        inputs = {"workload": args.workload, "run_dir": run_dir,
                  "seconds": args.seconds, "trace": bool(args.trace)}
        if cfg["kind"] == "cdc":
            inputs["cdc"], generated = cdc_inputs(cfg, run_dir, args.seed)
        else:
            data_dir = os.path.join(run_dir, "data")
            inputs["suite"] = suite_inputs(data_dir, args.seed, cfg["sf"])
        t_jvm = time.monotonic()
        result, paths = run_jvm(classpath, run_dir, inputs, deadline - 10)
        t_check = time.monotonic()
        ops = result["ops"]
        spans = read_jsonl(paths["spans.jsonl"])
        problems, counts, lines = [], {}, []
        if cfg["kind"] == "cdc":
            posts = {}
            for p in read_jsonl(paths["posts.jsonl"]):
                posts[p["seq"]] = (p["status"], p["body"])
            spec = {"pk": LINEITEM_PK, "version": "version", "value_cols": VALUE_COLS,
                    "allowed": DELIVERED_COLS, "base_mark": result["base_mark"]}
            failed, problems, counts = check.check_cdc(ops, posts, generated, spec)
            counts["rows_posted"] = sum(len(b) for s, b in posts.values() if b is not None)
            window_s = (result["window_end_ns"] - result["window_start_ns"]) / 1e9
            acked = sum(o["rows"] for o in ops if o["op"] not in failed)
            lines.append(f"rows_per_s {acked / window_s:.1f} rows/s "
                         f"({acked} change rows committed and acknowledged)")
            lines.append(f"redeliveries {counts['redeliveries']} for "
                         f"{counts['faults']} injected faults")
        else:
            expected = oracle_rows(inputs["suite"]["data_dir"], result["oracle"])
            failed = check.check_queries(ops, expected)
            plan_checks = result.get("plan_checks", {})
            problems += [f"executed plan of {q} lacks '{PLAN_CHECKS[q]}'"
                         for q, ok in sorted(plan_checks.items()) if not ok]
            passes = sorted({o["pass"] for o in ops})
            pass_s = [sum(o["end_ns"] - o["start_ns"] for o in ops if o["pass"] == p) / 1e9
                      for p in passes]
            lines.append(f"suite_s {statistics.median(pass_s):.3f} s per pass of "
                         f"{len(result['queries'])} queries ({len(passes)} passes)")
        walls = op_walls_ms(ops, failed)
        lines.append("op latencies ms: " + " ".join(f"{w:.0f}" for w in walls))
        tail = check.tail_percentile(walls)
        lines.append(f"ops {len(ops)} attempted, {len(failed)} failed; latency p50 "
                     + (f"{statistics.median(walls):.1f} ms" if walls else "n/a")
                     + (f", p{tail[0]:g} {tail[1]:.1f} ms" if tail else "")
                     + f" (n={len(walls)})")
        lines.append(f"peak RSS {result['peak_rss_kb'] / 1024:.0f} MB; host steal "
                     f"{result['steal_s']:.2f} s over the window; calibration "
                     f"mt {result['calibration_mt_s']:.3f} s, st {result['calibration_st_s']:.3f} s")
        for op, why in list(failed.items())[:10]:
            lines.append(f"FAILED op {op}: {why}")
        lines += [f"CHECK FAILED: {p}" for p in problems]
        lines.append(f"run time: inputs {t_jvm - start:.1f} s, harness JVM {t_check - t_jvm:.1f} s "
                     f"(session {result['session_s']:.1f} s, set-ups "
                     + "/".join(f"{x:.1f}" for x in result["setup_s"])
                     + f" s, window {(result['window_end_ns'] - result['window_start_ns']) / 1e9:.1f} s), "
                     f"checks {time.monotonic() - t_check:.1f} s")

        if args.trace:
            metrics, self_ns = per_layer(result, ops, spans, counts)
            op_ns = sum(o["end_ns"] - o["start_ns"] for o in ops) or 1
            lines.append("self ms per op: " + ", ".join(
                f"{k} {v / 1e6 / max(1, len(ops)):.1f}" for k, v in sorted(self_ns.items())))
            lines.append(f"layer self times sum to {metrics['trace.self_sum_ratio'][0]:.3f} "
                         f"of op wall ({op_ns / 1e9:.2f} s)")
            traces = os.path.join(build_dir, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(paths["spans.jsonl"],
                        os.path.join(traces, f"{args.workload}-seed{args.seed}.jsonl"))
        else:
            metrics = end_to_end(result, ops, failed)
        for line in lines:
            print(line)
        out = {"correct": not failed and not problems, "attempted": len(ops),
               "failed": len(failed),
               "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
        print(json.dumps(out))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
