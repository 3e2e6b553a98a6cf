#!/usr/bin/env python3
"""Compare two benchmark result sets (or summarise one).

A result set is a JSON-lines file that `perfbench/run.py --out FILE` appends
to, one run per line. Usage:

    python3 perfbench/compare.py BASE.jsonl [CHANGE.jsonl]

For every workload and end-to-end metric (untraced runs) it prints each
set's median and quartiles, the spread (quartile distance / median), the
pair wins of the change (runs paired by seed, else in file order), and a
verdict:

- "unresolved" where either set's spread exceeds the metric's bound,
  unless every change run reads better than every base run;
- "better" / "worse" where the medians differ by more than the bound;
- "same" otherwise.

For traced runs it prints the median of every per-layer metric in both
sets and the delta, self times (self.*) first.
"""
import json
import os
import statistics
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    runs = defaultdict(list)
    with open(path) as fh:
        for line in fh:
            if line.strip():
                r = json.loads(line)
                runs[(r["workload"], r["trace"])].append(r)
    return runs


def quartiles(vals):
    if len(vals) == 1:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, q2, q3


def values(runs, name):
    return [(r["seed"], r["metrics"][name]["value"]) for r in runs if name in r["metrics"]]


def pair_wins(base, change, better):
    b = dict(base)
    pairs = ([(b[s], v) for s, v in change if s in b] if set(b) & {s for s, _ in change}
             else list(zip([v for _, v in base], [v for _, v in change])))
    wins = sum((c < p) if better == "lower" else (c > p) for p, c in pairs)
    return wins, len(pairs)


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    base = load(sys.argv[1])
    change = load(sys.argv[2]) if len(sys.argv) == 3 else None
    e2e = {m["name"]: m for m in spec["end_to_end"]}

    for w in [x["name"] for x in spec["workloads"]]:
        if (w, 0) not in base:
            continue
        print(f"== {w} (untraced; {len(base[(w, 0)])} base runs"
              + (f", {len(change.get((w, 0), []))} change runs)" if change else ")"))
        failed = sum(r["failed"] for r in base[(w, 0)])
        bad = sum(not r["correct"] for r in base[(w, 0)])
        print(f"   base: {bad} incorrect runs, {failed} failed operations")
        for name, m in e2e.items():
            bv = values(base[(w, 0)], name)
            q1, med, q3 = quartiles([v for _, v in bv])
            spread = (q3 - q1) / med if med else float("inf")
            line = (f"   {name:<18} base med {med:12.4f} q1 {q1:12.4f} q3 {q3:12.4f} "
                    f"spread {spread:6.3f} (bound {m['bound']})")
            if change and (w, 0) in change:
                cv = values(change[(w, 0)], name)
                c1, cmed, c3 = quartiles([v for _, v in cv])
                cspread = (c3 - c1) / cmed if cmed else float("inf")
                rel = (cmed - med) / med if med else 0.0
                worse = rel > m["bound"] if m["better"] == "lower" else -rel > m["bound"]
                better = -rel > m["bound"] if m["better"] == "lower" else rel > m["bound"]
                wins, n = pair_wins(bv, cv, m["better"])
                bvals, cvals = [v for _, v in bv], [v for _, v in cv]
                all_better = (max(cvals) < min(bvals) if m["better"] == "lower"
                              else min(cvals) > max(bvals))
                verdict = ("better" if all_better and better
                           else "unresolved" if max(spread, cspread) > m["bound"]
                           else "worse" if worse else "better" if better else "same")
                line += (f" | change med {cmed:12.4f} q1 {c1:12.4f} q3 {c3:12.4f} "
                         f"spread {cspread:6.3f} delta {rel:+.3f} wins {wins}/{n} {verdict}")
            print(line)

    for w in [x["name"] for x in spec["workloads"]]:
        if (w, 1) not in base:
            continue
        print(f"== {w} (traced, per layer)")
        names = [m["name"] for m in spec["per_layer"]]
        for name in sorted(names, key=lambda n: (not n.startswith("self."), names.index(n))):
            bmed = statistics.median(v for _, v in values(base[(w, 1)], name))
            if change and (w, 1) in change:
                cmed = statistics.median(v for _, v in values(change[(w, 1)], name))
                if bmed or cmed:
                    print(f"   {name:<34} {bmed:14.4f} -> {cmed:14.4f}  delta {cmed - bmed:+.4f}")
            elif bmed:
                print(f"   {name:<34} {bmed:14.4f}")


if __name__ == "__main__":
    main()
