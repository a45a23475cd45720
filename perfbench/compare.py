#!/usr/bin/env python3
"""Spread and comparison of perfbench run records.

    python3 perfbench/compare.py spread .bench_build/results/lake_backfill-seed*-trace0.json
    python3 perfbench/compare.py diff --base BASE.json ... --new NEW.json ...

`spread` prints, per end-to-end metric, the median of the runs and the
distance between the first and third quartile as a share of the median.
`diff` prints both sides' medians and quartiles and, given the bounds in
BENCHMARK.json, whether the new median is worse than the base median by
more than the metric's bound.

Records must agree on everything that shapes the numbers (workload, trace
mode, seconds, cores, heap, Spark and JVM versions, input sizes, operation
mix); a set must also come from one commit. Mismatched runs are refused,
not compared.
"""
import argparse
import json
import os
import statistics
import sys

SAME = ["workload", "trace", "seconds", "nproc", "jvm_heap", "spark_version",
        "jvm_version", "input_sizes", "params"]


def load(paths):
    recs = [json.load(open(p)) for p in paths]
    if not recs:
        sys.exit("no run records given")
    return recs


def refuse_mismatch(recs, also=()):
    for k in list(SAME) + list(also):
        vals = {json.dumps(r.get(k), sort_keys=True) for r in recs}
        if len(vals) > 1:
            sys.exit(f"refusing to compare: runs differ in {k}: {sorted(vals)}")


def stats(values):
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = med
    return med, q1, q3


def metric_values(recs):
    key = "per_layer" if recs[0]["trace"] else "end_to_end"
    names = list(recs[0][key])
    return {n: [r[key][n] for r in recs] for n in names}


def spread(paths):
    recs = load(paths)
    refuse_mismatch(recs, also=["git_commit"])
    print(f"{recs[0]['workload']}: {len(recs)} runs, seeds "
          f"{sorted(r['seed'] for r in recs)}")
    for n, vs in metric_values(recs).items():
        med, q1, q3 = stats(vs)
        share = (q3 - q1) / med if med else float("nan")
        print(f"  {n:42s} median {med:12.6g}  IQR/median {share:7.2%}")


def bounds():
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "BENCHMARK.json")
    if not os.path.exists(path):
        return {}
    return {m["name"]: m for m in json.load(open(path))["end_to_end"]}


def diff(base_paths, new_paths):
    base, new = load(base_paths), load(new_paths)
    refuse_mismatch(base, also=["git_commit"])
    refuse_mismatch(new, also=["git_commit"])
    refuse_mismatch([base[0], new[0]])
    b, n = metric_values(base), metric_values(new)
    bd = bounds()
    worse = []
    for name in b:
        bm, bq1, bq3 = stats(b[name])
        nm, nq1, nq3 = stats(n[name])
        verdict = ""
        if name in bd and bm:
            sign = 1 if bd[name]["better"] == "lower" else -1
            change = sign * (nm - bm) / bm
            verdict = f"{'worse' if change > bd[name]['bound'] else 'ok':5s} ({change:+.1%})"
            if change > bd[name]["bound"]:
                worse.append(name)
        print(f"  {name:42s} base {bm:10.5g} [{bq1:.5g}, {bq3:.5g}]  "
              f"new {nm:10.5g} [{nq1:.5g}, {nq3:.5g}]  {verdict}")
    if worse:
        print(f"worse than the bound: {', '.join(worse)}")
        sys.exit(1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    sp = sub.add_parser("spread")
    sp.add_argument("records", nargs="+")
    dp = sub.add_parser("diff")
    dp.add_argument("--base", nargs="+", required=True)
    dp.add_argument("--new", nargs="+", required=True)
    a = ap.parse_args()
    if a.cmd == "spread":
        spread(a.records)
    else:
        diff(a.base, a.new)


if __name__ == "__main__":
    main()
