#!/usr/bin/env python3
"""Alternating same-host A/B of two checkouts on the repository benchmark.

    python3 tools/perf_ab.py --parent <checkout> --change <checkout> \\
        --workload query-suite [--workload cdc-trickle] --pairs 10 --seed 9501 \\
        --seconds 10 --build-root <dir> --out BENCH_<name>_ab.json --what "<text>"

Each checkout builds into its own directory under --build-root (passed to
perfbench/run.py as $CARGO_TARGET_DIR), so neither side reuses the other's
classes. Pair i runs seed + i on both sides, strictly one run at a time; the
parent runs first in even pairs and the change first in odd ones. From each
run the tool keeps the result line (correctness, attempted and failed
operations, the end-to-end metrics), the host calibration probes and the CPU
steal over the window.

The output is {what, summary, runs}: per workload, each side's median and
inclusive quartiles of every metric, the number of pairs in which the change
read lower, and the change/parent ratio of the medians. The file is rewritten
after every run, so an interrupted A/B keeps the runs it finished.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import tempfile
import time

HOST_LINE = re.compile(r"host steal ([0-9.]+) s over the window; calibration "
                       r"mt ([0-9.]+) s, st ([0-9.]+) s")
HOST_KEYS = ("calibration_mt_s", "calibration_st_s", "steal_s")


def run_once(checkout, build_dir, workload, seed, seconds):
    """One perfbench run; returns its record (rc != 0 when it failed)."""
    env = dict(os.environ, CARGO_TARGET_DIR=build_dir)
    t0 = time.monotonic()
    proc = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                          cwd=checkout, env=env, capture_output=True, text=True)
    rec = {"rc": proc.returncode, "wall_s": round(time.monotonic() - t0, 1)}
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        rec["error"] = (proc.stderr or proc.stdout)[-2000:]
        return rec
    rec.update(correct=result["correct"], attempted=result["attempted"],
               failed=result["failed"])
    rec.update({k: m["value"] for k, m in result["metrics"].items()})
    for line in lines:
        m = HOST_LINE.search(line)
        if m:
            rec.update(zip(("steal_s", "calibration_mt_s", "calibration_st_s"),
                           map(float, m.groups())))
    return rec


def spread(values):
    if len(values) < 2:
        return {"median": values[0]} if values else {}
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return {"median": round(q2, 4), "q1": round(q1, 4), "q3": round(q3, 4)}


def summarize(runs, workloads):
    summary = {}
    for w in workloads:
        ok = [r for r in runs if r["workload"] == w and r["rc"] == 0]
        by_pair = {}
        for r in ok:
            by_pair.setdefault(r["pair"], {})[r["side"]] = r
        pairs = [p for p in by_pair.values() if len(p) == 2]
        if not pairs:
            continue
        sides = ("parent", "change")
        s = {"pairs": len(pairs),
             "failed_ops": {sd: sum(p[sd]["failed"] for p in pairs) for sd in sides},
             "attempted_ops": {sd: sum(p[sd]["attempted"] for p in pairs) for sd in sides},
             "all_correct": all(p[sd]["correct"] for p in pairs for sd in sides)}
        metrics = [k for k in pairs[0]["parent"] if k not in HOST_KEYS and
                   isinstance(pairs[0]["parent"][k], float) and k != "wall_s"]
        for k in metrics:
            vals = {sd: [p[sd][k] for p in pairs] for sd in sides}
            lower = sum(p["change"][k] < p["parent"][k] for p in pairs)
            entry = {sd: spread(vals[sd]) for sd in sides}
            entry["change_lower_in_pairs"] = f"{lower}/{len(pairs)}"
            pm, cm = statistics.median(vals["parent"]), statistics.median(vals["change"])
            entry["median_ratio_change_over_parent"] = round(cm / pm, 4) if pm else None
            s[k] = entry
        for k in HOST_KEYS:
            vals = {sd: [p[sd][k] for p in pairs if k in p[sd]] for sd in sides}
            s[k] = {sd: spread(v) for sd, v in vals.items()}
        summary[w] = s
    return summary


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, required=True, help="seed of pair 0")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--build-root", default=os.path.join(tempfile.gettempdir(), "perf_ab"))
    ap.add_argument("--out", required=True)
    ap.add_argument("--what", required=True, help="the artifact's description")
    args = ap.parse_args()

    checkouts = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    builds = {sd: os.path.join(os.path.abspath(args.build_root), sd) for sd in checkouts}
    runs = []
    for i in range(args.pairs):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for w in args.workload:
            for side in order:
                rec = {"workload": w, "pair": i, "seed": args.seed + i, "side": side,
                       "first": order[0]}
                rec.update(run_once(checkouts[side], builds[side], w, args.seed + i,
                                    args.seconds))
                runs.append(rec)
                print(json.dumps(rec), file=sys.stderr, flush=True)
                with open(args.out, "w") as f:
                    json.dump({"what": args.what,
                               "summary": summarize(runs, args.workload),
                               "runs": runs}, f, indent=1)
                    f.write("\n")


if __name__ == "__main__":
    main()
