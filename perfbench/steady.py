#!/usr/bin/env python3
"""Steadiness and A/B tool for the benchmark.

Steadiness: run each workload N times, each on another seed, and print
each end-to-end metric's median, quartiles and quartile spread against
its bound (the spread must stay below the bound; aim for a third of it).

    python3 perfbench/steady.py steady --runs 10 [--workload W ...] [--seed0 100]

A/B: paired, interleaved runs of two checkouts (parent and change), the
side that runs first alternating per pair, on the same seeds. Prints each
side's median and quartiles, the change's win share, and the verdict of
the rule: a gain needs wins in at least 9/10 of the pairs (ties count for
neither) and a median difference larger than the parent's own quartile
spread; a metric is a regression when the change's median is worse than
the parent's by more than the bound, and unresolved when the parent's
spread is wider than the bound.

    python3 perfbench/steady.py ab --parent <checkout> --change <checkout> \\
        --pairs 10 [--workload W ...] [--seed0 200]

Both commands run `python3 perfbench/run.py` inside each checkout (its
own build) and keep every raw result under .bench_build/steady/.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_spec(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def run(root, workload, seed, seconds):
    """One benchmark run in checkout `root`; returns the result object."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    res = json.loads(lines[-1]) if lines else {"correct": False, "metrics": {}}
    res["exit"] = p.returncode
    res["wall_s"] = time.time() - t0
    return res


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2 if q2 else float("inf")


def save(name, data):
    d = os.path.join(ROOT, ".bench_build", "steady")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{name}-{int(time.time())}.json")
    with open(path, "w") as f:
        json.dump(data, f, indent=1)
    return path


def steady(a, spec):
    out = {}
    ok_all = True
    for w in a.workload or [x["name"] for x in spec["workloads"]]:
        runs = []
        for i in range(a.runs):
            r = run(ROOT, w, a.seed0 + i, spec["run_seconds"])
            runs.append(r)
            vals = " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
            print(f"{w} seed {a.seed0 + i}: correct={r['correct']} wall={r['wall_s']:.1f}s {vals}", flush=True)
        out[w] = runs
        print(f"\n{w}: {a.runs} runs, wall median {statistics.median(r['wall_s'] for r in runs):.1f}s")
        print(f"  {'metric':<18}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>7}  verdict")
        for m in spec["end_to_end"]:
            xs = [r["metrics"][m["name"]]["value"] for r in runs if m["name"] in r["metrics"]]
            if len(xs) < 2:
                print(f"  {m['name']:<18} too few values")
                ok_all = False
                continue
            q1, q2, q3 = quartiles(xs)
            sp = spread(xs)
            verdict = ("ok (< bound/3)" if sp < m["bound"] / 3 else
                       "ok (< bound)" if sp < m["bound"] else "TOO WIDE")
            if sp >= m["bound"]:
                ok_all = False
            print(f"  {m['name']:<18}{q2:>12.4g}{q1:>12.4g}{q3:>12.4g}{sp:>9.3f}{m['bound']:>7}  {verdict}")
        if not all(r["correct"] for r in runs):
            ok_all = False
            print("  some runs were not correct")
    print(f"\nraw results: {save('steady', out)}")
    return ok_all


def ab(a, spec):
    out = {}
    for w in a.workload or [x["name"] for x in spec["workloads"]]:
        pairs = []
        for i in range(a.pairs):
            seed = a.seed0 + i
            sides = [("parent", a.parent), ("change", a.change)]
            if i % 2:
                sides.reverse()
            pair = {name: run(root, w, seed, spec["run_seconds"]) for name, root in sides}
            pairs.append(pair)
            print(f"{w} pair {i} seed {seed}: first={sides[0][0]}", flush=True)
        out[w] = pairs
        print(f"\n{w}: {a.pairs} pairs")
        for m in spec["end_to_end"]:
            n = m["name"]
            par = [p["parent"]["metrics"][n]["value"] for p in pairs if n in p["parent"]["metrics"]]
            chg = [p["change"]["metrics"][n]["value"] for p in pairs if n in p["change"]["metrics"]]
            if len(par) < 2 or len(chg) < 2:
                print(f"  {n}: too few values")
                continue
            lower = m["better"] == "lower"
            wins = sum(1 for p in pairs if n in p["parent"]["metrics"] and n in p["change"]["metrics"] and
                       ((p["change"]["metrics"][n]["value"] < p["parent"]["metrics"][n]["value"]) if lower
                        else (p["change"]["metrics"][n]["value"] > p["parent"]["metrics"][n]["value"])))
            pq1, pm, pq3 = quartiles(par)
            cq1, cm, cq3 = quartiles(chg)
            worse = (cm - pm) / pm if lower else (pm - cm) / pm
            better_by = -worse * pm
            if wins >= 0.9 * len(pairs) and better_by > (pq3 - pq1):
                verdict = "GAIN"
            elif spread(par) > m["bound"]:
                verdict = ("no regression (every change run better)"
                           if (max(chg) < min(par) if lower else min(chg) > max(par))
                           else "UNRESOLVED (parent spread wider than bound)")
            elif worse > m["bound"]:
                verdict = "REGRESSION"
            else:
                verdict = "no regression"
            print(f"  {n:<18} parent {pm:.4g} [{pq1:.4g}, {pq3:.4g}]  change {cm:.4g} [{cq1:.4g}, {cq3:.4g}]"
                  f"  change/parent {cm / pm:.3f}  wins {wins}/{len(pairs)}  {verdict}")
        fails = sum(1 for p in pairs for s in p.values() if not s["correct"])
        if fails:
            print(f"  {fails} runs were not correct")
    print(f"\nraw results: {save('ab', out)}")


def main():
    ap = argparse.ArgumentParser(description="steadiness and A/B runs of the benchmark")
    sub = ap.add_subparsers(dest="cmd", required=True)
    s = sub.add_parser("steady")
    s.add_argument("--runs", type=int, default=10)
    s.add_argument("--workload", action="append")
    s.add_argument("--seed0", type=int, default=100)
    b = sub.add_parser("ab")
    b.add_argument("--parent", required=True)
    b.add_argument("--change", required=True)
    b.add_argument("--pairs", type=int, default=10)
    b.add_argument("--workload", action="append")
    b.add_argument("--seed0", type=int, default=200)
    a = ap.parse_args()
    spec = load_spec(ROOT)
    if a.cmd == "steady":
        sys.exit(0 if steady(a, spec) else 1)
    ab(a, spec)


if __name__ == "__main__":
    main()
