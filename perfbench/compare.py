#!/usr/bin/env python3
"""Compare benchmark runs of two commits.

Usage:

    python3 perfbench/compare.py --base BASE.jsonl --head HEAD.jsonl \\
        [--claim reports-cli:pass_s] [--bench BENCHMARK.json]

Each file holds the run records `perfbench/run.py` appends to
`.bench_build/perfbench/runs.jsonl` (one JSON object per line); pass the
parent commit's records as --base and the change's as --head.

Prints, for every workload x metric, each side's median and quartiles
(`statistics.quantiles(n=4)`) with the run count, the highest percentile
with at least ten runs beyond it, then a verdict:

- end-to-end metrics with a bound in BENCHMARK.json: `no-worse`, `worse`
  (the head median is worse than the base median by more than the bound) or
  `unresolved` (a side's interquartile range is wider than the bound, and
  not every head run beats every base run);
- every other metric is printed without a verdict.

`--claim workload:metric` applies the rule for claiming a gain: at least 10
base/head pairs, run alternately; the head wins at least 9 of every 10
pairs (ties count for neither side); and the medians differ by more than
the base's interquartile range.

The host stamps of every run are summarised first (nproc, heap, CPU
pressure at start, the share of CPU time the hypervisor stole during the
run), so a contended run is visible.
"""
import argparse
import json
import statistics
import sys

CONTENDED_PSI = 10.0  # % of time some task waited for a CPU, last 10 s


def load(paths):
    runs = []
    for p in paths:
        with open(p) as f:
            for line in f:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                r = json.loads(line)
                if "workload" in r and "metrics" in r:
                    runs.append(r)
    return runs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def tail(xs, better):
    """The highest percentile with at least ten samples beyond it, as
    'pNN=value', or '-' when there are too few samples."""
    n = len(xs)
    if n < 11:
        return "-"
    v = sorted(xs, reverse=(better != "lower"))[n - 11]
    return f"p{100 * (n - 10) / n:.0f}={v:.4g}"


def values(runs, workload, metric, trace):
    return [r["metrics"][metric]["value"] for r in runs
            if r["workload"] == workload and r["trace"] == trace
            and metric in r["metrics"] and r["metrics"][metric]["value"] is not None]


def worse_by(base, head, better):
    """Relative change of head against base, positive when head is worse."""
    if base == 0:
        return 0.0 if head == base else float("inf")
    d = (head - base) / abs(base)
    return d if better == "lower" else -d


def beats(a, b, better):
    return a < b if better == "lower" else a > b


def stamp_summary(name, runs):
    psi = [r["stamp"].get("psi_cpu_some_avg10") for r in runs
           if r.get("stamp", {}).get("psi_cpu_some_avg10") is not None]
    nprocs = sorted({r.get("stamp", {}).get("nproc") for r in runs}, key=str)
    heaps = sorted({r.get("stamp", {}).get("heap") for r in runs}, key=str)
    hot = sum(1 for p in psi if p > CONTENDED_PSI)
    steal = [r["stamp"]["steal_frac"] for r in runs
             if "steal_frac" in r.get("stamp", {})]
    line = f"{name}: {len(runs)} runs, nproc {nprocs}, heap {heaps}"
    if steal:
        line += (f", hypervisor steal median {statistics.median(steal):.1%} "
                 f"max {max(steal):.1%}")
    if psi:
        line += (f", cpu pressure avg10 median {statistics.median(psi):.1f}% "
                 f"max {max(psi):.1f}%, {hot} run(s) above {CONTENDED_PSI:.0f}%")
    fails = sum(r.get("failed", 0) for r in runs)
    if fails:
        line += f", {fails} FAILED operation(s)"
    print(line)


def claim(base, head, workload, metric, better):
    pairs_b = sorted((r for r in base if r["workload"] == workload
                      and r["trace"] == 0), key=lambda r: r["time"])
    pairs_h = sorted((r for r in head if r["workload"] == workload
                      and r["trace"] == 0), key=lambda r: r["time"])
    n = min(len(pairs_b), len(pairs_h))
    print(f"\nclaim {workload}:{metric} ({better} is better)")
    ok = True
    if n < 10:
        print(f"  NOT MET: {n} pairs, at least 10 are needed")
        ok = False
    firsts = ["base" if b["time"] < h["time"] else "head"
              for b, h in zip(pairs_b[:n], pairs_h[:n])]
    if any(a == b for a, b in zip(firsts, firsts[1:])):
        print("  warning: pairs do not alternate which side runs first")
    wins = losses = 0
    for b, h in zip(pairs_b[:n], pairs_h[:n]):
        bv, hv = b["metrics"][metric]["value"], h["metrics"][metric]["value"]
        if beats(hv, bv, better):
            wins += 1
        elif beats(bv, hv, better):
            losses += 1
    bv = [r["metrics"][metric]["value"] for r in pairs_b[:n]]
    hv = [r["metrics"][metric]["value"] for r in pairs_h[:n]]
    if n:
        q1, bmed, q3 = quartiles(bv)
        hmed = statistics.median(hv)
        print(f"  pairs {n}: head wins {wins}, loses {losses}, "
              f"ties {n - wins - losses}")
        print(f"  base median {bmed:.6g} (IQR {q3 - q1:.6g}), "
              f"head median {hmed:.6g}, difference {abs(hmed - bmed):.6g}")
        if wins * 10 < 9 * n:
            print("  NOT MET: the head wins fewer than 9 of 10 pairs")
            ok = False
        if not beats(hmed, bmed, better) or abs(hmed - bmed) <= q3 - q1:
            print("  NOT MET: medians are not apart by more than the base IQR")
            ok = False
    print("  CLAIM MET" if ok else "  CLAIM NOT MET")
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", nargs="+", required=True)
    ap.add_argument("--head", nargs="+", required=True)
    ap.add_argument("--bench", default="BENCHMARK.json")
    ap.add_argument("--claim", action="append", default=[],
                    help="workload:metric to test as a claimed gain")
    args = ap.parse_args()
    with open(args.bench) as f:
        bench = json.load(f)
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    betters = {m["name"]: m["better"]
               for m in bench["end_to_end"] + bench["per_layer"]}
    base, head = load(args.base), load(args.head)
    stamp_summary("base", base)
    stamp_summary("head", head)

    workloads = sorted({r["workload"] for r in base + head})
    print(f"\n{'workload':22} {'metric':34} {'base median [q1, q3] n':>34} "
          f"{'head median [q1, q3] n':>34} {'worse by':>8} {'base tail':>12} "
          f"{'head tail':>12}  verdict")
    for w in workloads:
        for trace in (0, 1):
            names = []
            for r in base + head:
                if r["workload"] == w and r["trace"] == trace:
                    names += [m for m in r["metrics"] if m not in names]
            for m in names:
                bv, hv = values(base, w, m, trace), values(head, w, m, trace)
                if not bv or not hv:
                    continue
                bq, hq = quartiles(bv), quartiles(hv)
                better = betters.get(m, "lower")
                change = worse_by(bq[1], hq[1], better)
                verdict = "-"
                if trace == 0 and m in bounds:
                    bound = bounds[m]["bound"]
                    spread = max((q[2] - q[0]) / abs(q[1]) if q[1] else 0.0
                                 for q in (bq, hq))
                    all_better = all(beats(h, b, better) for h in hv for b in bv)
                    if all_better:
                        verdict = "no-worse"
                    elif spread > bound:
                        verdict = f"unresolved (spread {spread:.0%} > bound {bound:.0%})"
                    elif change > bound:
                        verdict = f"WORSE (bound {bound:.0%})"
                    else:
                        verdict = f"no-worse (bound {bound:.0%})"
                label = m if trace == 0 else f"{m} [traced]"
                print(f"{w:22} {label:34} "
                      f"{bq[1]:>12.5g} [{bq[0]:.4g}, {bq[2]:.4g}] {len(bv):>2} "
                      f"{hq[1]:>12.5g} [{hq[0]:.4g}, {hq[2]:.4g}] {len(hv):>2} "
                      f"{change:>+8.1%} {tail(bv, better):>12} "
                      f"{tail(hv, better):>12}  {verdict}")

    ok = True
    for c in args.claim:
        w, _, m = c.partition(":")
        ok &= claim(base, head, w, m, betters.get(m, "lower"))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
