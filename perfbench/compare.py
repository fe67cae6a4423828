#!/usr/bin/env python3
"""Compare two sets of benchmark runs, or two trace files.

    python3 perfbench/compare.py BASE CHANGE
    python3 perfbench/compare.py --traces BASE.trace.json CHANGE.trace.json

A run set is a directory holding `*.line.json` files (run.py writes one per
run under `.bench_build/results/`), or a file of JSON lines, each a run's
output line with a `workload` key. For every workload and metric the first
form prints each set's median and quartiles and a verdict against the
metric's bound in BENCHMARK.json:

  improved    the change wins at least 9 of 10 pairs (runs paired by order
              when the sets are the same size, all cross pairs otherwise)
              and the medians differ by more than the base's quartile spread
  worse       the change's median is worse than the base's by more than the
              bound, and the base's own spread is within the bound (or every
              change run is worse than every base run)
  unresolved  the base's spread is wider than the bound, so neither claim
              can be made
  unchanged   otherwise

Metrics without a bound (the per-layer ones) get their medians and the
relative change only. The second form diffs two trace files layer by
layer: the per-layer metrics of each, and each entry's build, plan and exec
self time (median over warm rounds).
"""
import argparse
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import per_layer  # noqa: E402


def load_set(path):
    files = sorted(glob.glob(os.path.join(path, "*.line.json"))) \
        if os.path.isdir(path) else [path]
    runs = []
    for f in files:
        with open(f) as fh:
            runs += [json.loads(ln) for ln in fh if ln.strip()]
    by_wl = {}
    for r in runs:
        for k, v in r["metrics"].items():
            by_wl.setdefault(r["workload"], {}).setdefault(k, []).append(v["value"])
    return by_wl


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def verdict(base, change, bound, lower_better):
    sign = 1.0 if lower_better else -1.0
    q1, mb, q3 = quartiles(base)
    _, mc, _ = quartiles(change)
    spread = (q3 - q1) / abs(mb) if mb else 0.0
    rel = sign * (mc - mb) / abs(mb) if mb else 0.0
    pairs = list(zip(base, change)) if len(base) == len(change) else \
        [(a, b) for a in base for b in change]
    wins = sum(1 for a, b in pairs if sign * (b - a) < 0)
    if wins >= 0.9 * len(pairs) and abs(mc - mb) > (q3 - q1):
        return "improved", rel
    if rel > bound:
        every = all(sign * (b - a) > 0 for a in base for b in change)
        return ("worse" if spread <= bound or every else "unresolved"), rel
    if spread > bound:
        return "unresolved", rel
    return "unchanged", rel


def compare_sets(base_path, change_path):
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    base, change = load_set(base_path), load_set(change_path)
    print(f"{'workload':10s} {'metric':26s} {'base q1/med/q3':>30s} "
          f"{'change q1/med/q3':>30s} {'delta':>8s}  verdict")
    for wl in sorted(set(base) & set(change)):
        for name in sorted(set(base[wl]) & set(change[wl])):
            a, b = base[wl][name], change[wl][name]
            qa, qb = quartiles(a), quartiles(b)
            if name in bounds:
                m = bounds[name]
                v, rel = verdict(a, b, m["bound"], m["better"] == "lower")
                v = f"{v} (bound {m['bound']:.0%}, n={len(a)}/{len(b)})"
            else:
                rel = (qb[1] - qa[1]) / abs(qa[1]) if qa[1] else 0.0
                v = "no bound"
            fa = "/".join(f"{x:.4g}" for x in qa)
            fb = "/".join(f"{x:.4g}" for x in qb)
            print(f"{wl:10s} {name:26s} {fa:>30s} {fb:>30s} {rel:+8.1%}  {v}")


def entry_self_times(trace):
    out = {}
    for s in trace["spans"]:
        if s["name"] in ("build", "plan", "exec") and s["round"].startswith("warm-"):
            out.setdefault((s["key"], s["name"]), []).append(s["end_s"] - s["start_s"])
    return {k: statistics.median(v) for k, v in out.items()}


def compare_traces(base_path, change_path):
    with open(base_path) as fh:
        ta = json.load(fh)
    with open(change_path) as fh:
        tb = json.load(fh)
    # calibration times live in the run's result file, next to its trace
    calib = [json.load(open(p.replace(".trace.json", ".result.json")))["result"]["calib_s"]
             for p in (base_path, change_path)]
    la, lb = per_layer(ta, calib[0]), per_layer(tb, calib[1])
    print(f"{'layer metric':28s} {'base':>12s} {'change':>12s} {'delta':>8s}")
    for k in la:
        a, b = la[k]["value"], lb.get(k, {}).get("value", float("nan"))
        rel = (b - a) / abs(a) if a else float("nan")
        print(f"{k:28s} {a:12.4g} {b:12.4g} {rel:+8.1%}  {la[k]['unit']}")
    ea, eb = entry_self_times(ta), entry_self_times(tb)
    print(f"\n{'entry':28s} {'span':6s} {'base s':>10s} {'change s':>10s} {'delta':>8s}")
    for key in sorted(set(ea) & set(eb)):
        a, b = ea[key], eb[key]
        print(f"{key[0]:28s} {key[1]:6s} {a:10.4f} {b:10.4f} {(b - a) / a if a else 0:+8.1%}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--traces", action="store_true",
                    help="BASE and CHANGE are trace files, not run sets")
    ap.add_argument("base")
    ap.add_argument("change")
    args = ap.parse_args()
    if args.traces:
        compare_traces(args.base, args.change)
    else:
        compare_sets(args.base, args.change)


if __name__ == "__main__":
    main()
