#!/usr/bin/env python3
"""Interleaved comparator: runs a base build and this checkout's build of
the program alternately (ABAB, same benchmark code, settings and seeds)
and reports, per workload and end-to-end metric, each side's median and
quartiles and the change's win fraction.

    python3 perfbench/compare.py --base <dir> [--workloads a,b] [--pairs 10]
                                 [--seconds 10] [--seed 1]

`<dir>` is another checkout of the repository (for example the parent
commit, extracted with `git archive <rev> | tar -x -C <dir>`); only its
`build.sbt` and `src/main` are used. With `--base .` both sides run this
checkout, which gives the A/A spread.

Verdicts, per metric (the rules of BENCHMARK.json's bounds):
  unresolved  fewer than 10 pairs, or the base's own spread (IQR / median)
              is wider than the bound
  better      the change wins at least 9 of 10 pairs and the medians
              differ by more than the base's IQR
  worse       the change's median is worse than the base's by more than
              the bound
  same        otherwise
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload, seed, seconds, src):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0", "--src", src]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        raise SystemExit(f"run failed: {' '.join(cmd)}")
    return json.loads(lines[-1])


def spread(values):
    """(median, q1, q3) as statistics.quantiles(n=4) gives them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3


def verdict(base, change, better, bound):
    bmed, bq1, bq3 = spread(base)
    cmed = statistics.median(change)
    sign = 1 if better == "lower" else -1
    wins = sum(1 for b, c in zip(base, change) if sign * (b - c) > 0)
    win_frac = wins / len(base)
    if len(base) < 10 or (bmed and (bq3 - bq1) / abs(bmed) > bound):
        return "unresolved", win_frac
    if win_frac >= 0.9 and abs(cmed - bmed) > bq3 - bq1 and sign * (bmed - cmed) > 0:
        return "better", win_frac
    if bmed and sign * (cmed - bmed) / abs(bmed) > bound:
        return "worse", win_frac
    return "same", win_frac


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", required=True)
    ap.add_argument("--workloads")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    seconds = a.seconds or bench["run_seconds"]
    base_src, change_src = os.path.abspath(a.base), ROOT
    if a.pairs < 2:
        raise SystemExit("--pairs must be at least 2")

    report = {}
    for w in workloads:
        runs = {"base": [], "change": []}
        for i in range(a.pairs):
            seed = a.seed + i
            sides = [("base", base_src), ("change", change_src)]
            for side, src in (sides if i % 2 == 0 else sides[::-1]):
                res = run_once(w, seed, seconds, src)
                if not res["correct"]:
                    print(f"{w} {side} seed {seed}: {res['failed']} failed", file=sys.stderr)
                runs[side].append(res)
        print(f"\n{w}: {a.pairs} pairs, {seconds}s runs")
        print(f"  {'metric':18} {'base median [q1, q3]':>30} {'change median [q1, q3]':>30}  wins  verdict")
        report[w] = {}
        for m in bench["end_to_end"]:
            name = m["name"]
            b = [r["metrics"][name]["value"] for r in runs["base"]]
            c = [r["metrics"][name]["value"] for r in runs["change"]]
            v, win = verdict(b, c, m["better"], m["bound"])
            bs, cs = spread(b), spread(c)
            print(f"  {name:18} {bs[0]:12.4g} [{bs[1]:.4g}, {bs[2]:.4g}]"
                  f"{cs[0]:14.4g} [{cs[1]:.4g}, {cs[2]:.4g}]  {win:4.2f}  {v}")
            report[w][name] = {"base": b, "change": c, "verdict": v, "win_fraction": win}
    out = os.path.join(ROOT, ".bench_build", "perfbench", "compare.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(report, f, indent=1)
    print(f"\nwrote {out}")


if __name__ == "__main__":
    main()
