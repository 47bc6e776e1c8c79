#!/usr/bin/env python3
"""Alternating same-box perfbench pairs: a parent checkout against a change.

    python3 tools/perf_pairs.py --parent DIR --change DIR --workload daily_snapshot \
        --seeds 21-30 [--trace 0] [--out pairs.jsonl]
    python3 tools/perf_pairs.py --report pairs.jsonl

The box's speed drifts between runs, so one run per side says little. For
each seed this runs `perfbench/run.py` once in each checkout, the parent
first on odd seeds and the change first on even ones, and appends every
result line (with its seed, side and run order) to `--out` as it arrives.
It then prints, per workload and metric: each side's median and quartiles,
the change's wins and ties over the pairs, and the verdict. A claimed gain
holds when the change wins at least 9 of every 10 pairs and its median
beats the parent's by more than the parent's interquartile range. An
end-to-end metric is a REGRESSION when the change's median is worse than
the parent's by more than the metric's `bound` (a fraction of the
parent's median). The better direction and the bounds come from the
parent's `BENCHMARK.json` (lower and no bound when a metric is not
declared there). Last come the change/parent ratio of each pair for
every end-to-end metric.

`--report` re-reads a kept file and prints the same summary.
Standard library only.
"""
import argparse
import json
import math
import os
import statistics
import subprocess
import sys


def seed_range(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_one(checkout, workload, seed, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", "1", "--trace", str(trace)]
    res = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, text=True)
    lines = [ln for ln in res.stdout.splitlines() if ln.strip()]
    if res.returncode != 0 or not lines:
        return {"correct": False, "failed": -1, "metrics": {}, "error": res.returncode}
    return json.loads(lines[-1])


def run_pairs(parent, change, workload, seeds, trace, out):
    records = []
    for seed in seeds:
        order = ["parent", "change"] if seed % 2 else ["change", "parent"]
        for i, side in enumerate(order):
            line = run_one(parent if side == "parent" else change, workload, seed, trace)
            rec = {"workload": workload, "seed": seed, "side": side, "first": i == 0,
                   "line": line}
            records.append(rec)
            with open(out, "a") as f:
                f.write(json.dumps(rec) + "\n")
            op = line.get("metrics", {}).get("op_ms", {}).get("value")
            print(f"[pairs] {workload} seed {seed} {side}: op_ms {op} "
                  f"correct {line.get('correct')}", file=sys.stderr, flush=True)
    return records


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0]
    q = statistics.quantiles(values, n=4, method="inclusive")
    return q[0], q[2]


def bench_spec(checkout):
    """(better direction per metric, bound per end-to-end metric)."""
    path = os.path.join(checkout or "", "BENCHMARK.json")
    if not os.path.exists(path):
        return {}, {}
    with open(path) as f:
        bench = json.load(f)
    better = {m["name"]: m.get("better", "lower")
              for m in bench.get("end_to_end", []) + bench.get("per_layer", [])}
    bounds = {m["name"]: m["bound"] for m in bench.get("end_to_end", []) if "bound" in m}
    return better, bounds


def full_pairs(records, workload):
    """{seed: {"parent": line, "change": line}} for the seeds run on both sides."""
    pairs = {}
    for r in records:
        if r["workload"] == workload:
            pairs.setdefault(r["seed"], {})[r["side"]] = r["line"]
    return {s: p for s, p in sorted(pairs.items()) if len(p) == 2}


def summarize(records, better=None, bounds=None):
    """Per (workload, metric): medians, quartiles, wins, ties, verdicts."""
    better = better or {}
    bounds = bounds or {}
    out = []
    for workload in sorted({r["workload"] for r in records}):
        full = full_pairs(records, workload)
        runs = [line for p in full.values() for line in p.values()]
        ok = all(line.get("correct") and line.get("failed") == 0 for line in runs)
        names = sorted({m for line in runs for m in line.get("metrics", {})})
        for name in names:
            got = [(p["parent"]["metrics"][name]["value"], p["change"]["metrics"][name]["value"])
                   for p in full.values()
                   if name in p["parent"].get("metrics", {})
                   and name in p["change"].get("metrics", {})]
            if not got:
                continue
            sign = -1.0 if better.get(name, "lower") == "higher" else 1.0
            par = [a for a, _ in got]
            chg = [b for _, b in got]
            wins = sum(1 for a, b in got if sign * (b - a) < 0)
            ties = sum(1 for a, b in got if a == b)
            pq1, pq3 = quartiles(par)
            gap = sign * (statistics.median(par) - statistics.median(chg))
            holds = wins >= math.ceil(0.9 * len(got)) and gap > pq3 - pq1
            bound = bounds.get(name)
            regression = bound is not None and -gap > bound * abs(statistics.median(par))
            out.append({"workload": workload, "metric": name, "pairs": len(got),
                        "parent_median": statistics.median(par), "parent_q1": pq1,
                        "parent_q3": pq3, "change_median": statistics.median(chg),
                        "change_q1": quartiles(chg)[0], "change_q3": quartiles(chg)[1],
                        "wins": wins, "ties": ties, "gain_holds": holds,
                        "regression": regression, "all_correct": ok})
    return out


def pair_ratios(records, metrics):
    """Per (workload, metric): [(seed, change / parent)] in seed order."""
    out = []
    for workload in sorted({r["workload"] for r in records}):
        full = full_pairs(records, workload)
        for name in metrics:
            ratios = []
            for seed, p in full.items():
                a = p["parent"].get("metrics", {}).get(name, {}).get("value")
                b = p["change"].get("metrics", {}).get(name, {}).get("value")
                if a is not None and b is not None:
                    ratios.append((seed, b / a if a else math.nan))
            if ratios:
                out.append((workload, name, ratios))
    return out


def print_summary(rows):
    print("workload metric pairs | parent median [q1 q3] | change median [q1 q3] | "
          "wins ties | verdict")
    for r in rows:
        verdict = "GAIN" if r["gain_holds"] else "no gain"
        if r["regression"]:
            verdict += " REGRESSION"
        if not r["all_correct"]:
            verdict += " (a run was not correct or failed)"
        print(f"{r['workload']} {r['metric']} {r['pairs']} | "
              f"{r['parent_median']:.4g} [{r['parent_q1']:.4g} {r['parent_q3']:.4g}] | "
              f"{r['change_median']:.4g} [{r['change_q1']:.4g} {r['change_q3']:.4g}] | "
              f"{r['wins']} {r['ties']} | {verdict}")


def print_ratios(ratios):
    print("workload metric | change/parent per pair (seed:ratio)")
    for workload, name, got in ratios:
        print(f"{workload} {name} | " + " ".join(f"{seed}:{x:.3f}" for seed, x in got))


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent")
    ap.add_argument("--change")
    ap.add_argument("--workload", action="append")
    ap.add_argument("--seeds", default="21-30")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", default="pairs.jsonl")
    ap.add_argument("--report", help="summarize a kept JSON-lines file instead of running")
    args = ap.parse_args(argv)
    if args.report:
        with open(args.report) as f:
            records = [json.loads(ln) for ln in f if ln.strip()]
    else:
        if not (args.parent and args.change and args.workload):
            ap.error("--parent, --change and --workload are required without --report")
        records = []
        for workload in args.workload:
            records += run_pairs(args.parent, args.change, workload, seed_range(args.seeds),
                                 args.trace, args.out)
    better, bounds = bench_spec(args.parent)
    print_summary(summarize(records, better, bounds))
    print_ratios(pair_ratios(records, sorted(bounds) or ["op_ms"]))


if __name__ == "__main__":
    main()
