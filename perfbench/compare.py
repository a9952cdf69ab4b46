#!/usr/bin/env python3
"""Compare two sets of benchmark runs, or check the spread of one set.

    python3 perfbench/compare.py BASE [CHANGE] [--trace] [--overhead]

BASE and CHANGE are result files saved by `run.py`, or directories holding
them (`.bench_build/perfbench/results/` by default collects every run). For
each (metric, workload) row the script prints each side's run count, median
and quartiles (`statistics.quantiles(values, n=4)`), and the spread: the
distance between the quartiles as a share of the median.

With one set it checks steadiness: a row is `steady` when its spread is below
a third of the metric's bound in BENCHMARK.json, `wide` when it is below the
bound, and `too wide` otherwise (`setup_s` is exempt from the spread check).

With two sets it applies the bounds. A row whose base spread is wider than
its bound is `unresolved`, unless every run of one side beats every run of
the other. Otherwise the change `regressed` when its median is worse than the
base median by more than the bound, `improved` when it is better by more than
the base spread, and is `within bound` else.

`--trace` compares traced runs on the per-layer metrics (which carry no
bound). `--overhead` reports, per workload, the traced runs' median
`trace.op_p50_ms` against the untraced runs' median `op_p50_ms`.
"""
import argparse
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_runs(paths, trace):
    runs = []
    for p in paths:
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(p, f) for f in os.listdir(p) if f.endswith(".json"))
        for f in files:
            with open(f) as fh:
                r = json.load(fh)
            if int(r.get("trace", 0)) == int(trace):
                runs.append(r)
    return runs


def table(runs):
    """{(metric, workload): [values]} over runs."""
    rows = {}
    for r in runs:
        for m, v in r["result"]["metrics"].items():
            rows.setdefault((m, r["workload"]), []).append(float(v["value"]))
    return rows


def summary(xs):
    med = statistics.median(xs)
    q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) >= 2 else (xs[0], xs[0], xs[0])
    spread = (q3 - q1) / abs(med) if med else float("inf")
    return med, q1, q3, spread


def worse(delta, better):
    """Relative change towards worse, for a metric whose better is `better`."""
    return delta if better == "lower" else -delta


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("base", nargs="?", default=os.path.join(ROOT, ".bench_build", "perfbench", "results"))
    ap.add_argument("change", nargs="?")
    ap.add_argument("--trace", action="store_true", help="compare per-layer metrics of traced runs")
    ap.add_argument("--overhead", action="store_true", help="report the tracing overhead")
    ap.add_argument("--benchmark", default=os.path.join(ROOT, "BENCHMARK.json"))
    args = ap.parse_args()

    with open(args.benchmark) as fh:
        bench = json.load(fh)
    spec = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}

    if args.overhead:
        plain, traced = table(load_runs([args.base], 0)), table(load_runs([args.base], 1))
        for w in sorted({w for _, w in plain}):
            a, b = plain.get(("op_p50_ms", w)), traced.get(("trace.op_p50_ms", w))
            if a and b:
                ma, mb = statistics.median(a), statistics.median(b)
                print(f"{w:14} untraced {ma:10.2f} ms (n={len(a)})  traced {mb:10.2f} ms (n={len(b)})"
                      f"  overhead {100 * (mb - ma) / ma:+6.1f}%")
        return 0

    base = table(load_runs([args.base], args.trace))
    if not base:
        print("no runs found", file=sys.stderr)
        return 1
    change = table(load_runs([args.change], args.trace)) if args.change else None
    bad = 0
    print(f"{'metric':34} {'workload':13} {'n':>3} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>7}"
          + (f" {'n':>3} {'median':>12} {'q1':>12} {'q3':>12} {'delta':>7}" if change else "")
          + f" {'bound':>6}  verdict")
    for (m, w) in sorted(base, key=lambda k: (k[1], k[0])):
        s = spec.get(m, {})
        bound, better = s.get("bound"), s.get("better", "lower")
        med, q1, q3, spread = summary(base[(m, w)])
        line = f"{m:34} {w:13} {len(base[(m, w)]):3} {med:12.4f} {q1:12.4f} {q3:12.4f} {100 * spread:6.1f}%"
        if change is None:
            if bound is None:
                verdict = "-"
            elif m == "setup_s":
                verdict = "exempt"
            else:
                verdict = "steady" if spread < bound / 3 else "wide" if spread <= bound else "too wide"
                bad += verdict == "too wide"
        else:
            ys = change.get((m, w))
            if not ys:
                print(line + "  missing in change")
                bad += 1
                continue
            cmed, cq1, cq3, _ = summary(ys)
            delta = (cmed - med) / abs(med) if med else 0.0
            line += f" {len(ys):3} {cmed:12.4f} {cq1:12.4f} {cq3:12.4f} {100 * delta:+6.1f}%"
            xs = base[(m, w)]
            lo_better = better == "lower"
            all_better = all((y < x) if lo_better else (y > x) for x in xs for y in ys)
            all_worse = all((y > x) if lo_better else (y < x) for x in xs for y in ys)
            if bound is None:
                verdict = "-"
            elif spread > bound and not (all_better or all_worse):
                verdict = "unresolved"
            elif worse(delta, better) > bound:
                verdict = "regressed"
            elif -worse(delta, better) > spread:
                verdict = "improved"
            else:
                verdict = "within bound"
            bad += verdict in ("regressed", "unresolved")
        print(line + (f" {bound:6.2f}" if bound is not None else f" {'-':>6}") + f"  {verdict}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
