#!/usr/bin/env python3
"""Paired parent-vs-change comparison of the product-path benchmark.

Run alternating pairs (the same seed on both sides of a pair, the side
that runs first alternating) and append every result to a log:

    python3 perfbench/compare.py run --parent <parent checkout> \
        --change <change checkout> --workload cdc_index --pairs 10 \
        --log pairs.jsonl

Report a log (one row per workload x end-to-end metric):

    python3 perfbench/compare.py report pairs.jsonl [--benchmark BENCHMARK.json]

Verdicts follow the measurement rules for a small sandbox:
  improved      the change wins at least 9/10 of the pairs (ties count for
                neither side) and the medians differ, in the better
                direction, by more than the parent's own quartile distance;
  regressed     the change's median is worse than the parent's by more
                than the metric's bound;
  within bound  otherwise, when the parent's quartile distance is within
                the bound;
  no regression otherwise, when every change run reads better than every
                parent run (not a gain: the parent's spread is wider
                than the bound);
  unresolved    otherwise (the runs spread wider than the bound).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def run_one(checkout, workload, seed, seconds, trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=checkout, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        return None
    return json.loads(lines[-1])


def cmd_run(a):
    bench = json.load(open(os.path.join(a.change, "BENCHMARK.json")))
    seconds = bench["run_seconds"]
    with open(a.log, "a") as log:
        for i in range(a.pairs):
            seed = a.seed + i
            order = [("parent", a.parent), ("change", a.change)]
            if i % 2:
                order.reverse()
            for side, checkout in order:
                res = run_one(checkout, a.workload, seed, seconds, 0)
                rec = {"side": side, "workload": a.workload, "seed": seed,
                       "pair": i, "result": res}
                log.write(json.dumps(rec) + "\n")
                log.flush()
                status = "failed" if res is None else (
                    "ok" if res["correct"] else "INCORRECT")
                print(f"pair {i} {side} seed {seed}: {status}",
                      file=sys.stderr)


def verdict(parent, change, better, bound, pairs):
    pq1, pm, pq3 = quartiles(parent)
    _, cm, _ = quartiles(change)
    sign = 1.0 if better == "lower" else -1.0
    # positive = change better
    gain = sign * (pm - cm)
    wins = sum(1 for p, c in pairs if sign * (p - c) > 0)
    iqr = pq3 - pq1
    if pairs and wins >= 0.9 * len(pairs) and gain > iqr:
        return "improved", wins
    if -gain > bound * abs(pm):
        return "regressed", wins
    if iqr <= bound * abs(pm):
        return "within bound", wins
    if all(sign * (p - c) > 0 for p in parent for c in change):
        return "no regression", wins
    return "unresolved", wins


def cmd_report(a):
    bench = json.load(open(a.benchmark))
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    recs = [json.loads(l) for l in open(a.log) if l.strip()]
    by = {}
    for r in recs:
        by.setdefault(r["workload"], {}).setdefault(r["pair"], {})[r["side"]] = r
    rows = []
    for wl, pairs in sorted(by.items()):
        complete = [p for p in pairs.values()
                    if all(p.get(s) and p[s]["result"] and p[s]["result"]["correct"]
                           for s in ("parent", "change"))]
        bad = len(pairs) - len(complete)
        for name, m in metrics.items():
            vals = [(p["parent"]["result"]["metrics"][name]["value"],
                     p["change"]["result"]["metrics"][name]["value"])
                    for p in complete
                    if name in p["parent"]["result"]["metrics"]
                    and name in p["change"]["result"]["metrics"]]
            if not vals:
                continue
            par = [v[0] for v in vals]
            chg = [v[1] for v in vals]
            v, wins = verdict(par, chg, m["better"], m["bound"], vals)
            rows.append({
                "workload": wl, "metric": name, "unit": m["unit"],
                "pairs": len(vals), "failed_or_incorrect_pairs": bad,
                "parent_q1_median_q3": quartiles(par),
                "change_q1_median_q3": quartiles(chg),
                "change_won_share": wins / len(vals), "verdict": v})
    if a.json:
        print(json.dumps(rows, indent=1))
        return
    print(f"{'workload':<14}{'metric':<24}{'parent median [q1,q3]':<34}"
          f"{'change median [q1,q3]':<34}{'won':>6}  verdict")
    for r in rows:
        p, c = r["parent_q1_median_q3"], r["change_q1_median_q3"]
        ps = f"{p[1]:.4g} [{p[0]:.4g}, {p[2]:.4g}]"
        cs = f"{c[1]:.4g} [{c[0]:.4g}, {c[2]:.4g}]"
        print(f"{r['workload']:<14}{r['metric']:<24}{ps:<34}{cs:<34}"
              f"{r['change_won_share']:>6.0%}  {r['verdict']}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run", help="run alternating parent/change pairs")
    r.add_argument("--parent", required=True)
    r.add_argument("--change", required=True)
    r.add_argument("--workload", required=True)
    r.add_argument("--pairs", type=int, default=10)
    r.add_argument("--seed", type=int, default=1000)
    r.add_argument("--log", required=True)
    p = sub.add_parser("report", help="verdicts from a pairs log")
    p.add_argument("log")
    p.add_argument("--benchmark", default="BENCHMARK.json")
    p.add_argument("--json", action="store_true")
    a = ap.parse_args()
    cmd_run(a) if a.cmd == "run" else cmd_report(a)


if __name__ == "__main__":
    main()
