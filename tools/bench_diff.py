#!/usr/bin/env python3
"""Diff two Bench detail payloads per query, host-normalized.

Usage: python3 tools/bench_diff.py OLD.json NEW.json [topN]

Each input is a BENCH_DETAIL.json / target/bench.json payload (two JSON
lines: the per-query detail line, then the final summary line). Every
query's seconds are divided by that run's host_index before comparing, so
a uniformly slower container doesn't read as 193 regressions
(r10 VERDICT #2: full-distribution round-over-round diffs used to need
TimeQ archaeology; the detail file + this diff replaces it).

Prints the topN regressions and improvements by normalized delta, plus
queries present in only one side. A query that failed reads -1 in the
payload; the failed queries of each side are listed on their own and only
queries measured on both sides are diffed. Small absolute deltas (<0.3 s)
are suppressed — they sit inside the container's documented run-to-run
band.
"""
import json
import sys


def load(path):
    with open(path) as f:
        lines = [json.loads(l) for l in f.read().strip().splitlines()]
    detail = next(l for l in lines if l.get("detail") == "per_query_sec")
    final = next(l for l in lines if l.get("metric") == "total")
    host = final.get("host_index", 1.0)
    if not host or host <= 0:
        host = 1.0
    queries = detail["queries"]
    failed = sorted(k for k, v in queries.items() if v < 0)
    measured = {k: v / host for k, v in queries.items() if v >= 0}
    return measured, failed, final


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    old, failed_old, fold = load(sys.argv[1])
    new, failed_new, fnew = load(sys.argv[2])
    top_n = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    print(f"old total={fold['value']} (host {fold.get('host_index')}) -> "
          f"new total={fnew['value']} (host {fnew.get('host_index')}, "
          f"end {fnew.get('host_index_end', 'n/a')})")
    for side, failed in (("old", failed_old), ("new", failed_new)):
        if failed:
            print(f"failed in {side}:", ", ".join(failed))
    only_old = sorted(set(old) - set(new) - set(failed_new))
    only_new = sorted(set(new) - set(old) - set(failed_old))
    if only_old:
        print("only in old:", ", ".join(only_old))
    if only_new:
        print("only in new:", ", ".join(only_new))
    deltas = sorted(
        ((new[k] - old[k], k) for k in set(old) & set(new)),
        reverse=True)
    sig = [(d, k) for d, k in deltas if abs(d) >= 0.3]
    print(f"\n{len(sig)} queries moved >=0.3 s normalized "
          f"(of {len(deltas)} shared)")
    for label, rows in (("regressions", sig[:top_n]),
                        ("improvements", [x for x in reversed(sig)][:top_n])):
        rows = [r for r in rows
                if (r[0] > 0) == (label == "regressions")]
        if rows:
            print(f"-- top {label}")
            for d, k in rows:
                print(f"  {k:36s} {old[k]:7.3f} -> {new[k]:7.3f}  "
                      f"({'+' if d > 0 else ''}{d:.3f})")


if __name__ == "__main__":
    main()
