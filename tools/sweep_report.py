#!/usr/bin/env python3
"""Merge target/scalesweep.jsonl (append-only journal across ScaleSweep
runs; later entries supersede earlier ones, -1 = failed run) into the final
per-query per-decade exponent table. Writes target/scalesweep_final.json and
prints a markdown table sorted by e2 desc.

Usage: python3 tools/sweep_report.py [--md]
"""
import json, math, sys

acc = {}
for line in open('target/scalesweep.jsonl'):
    r = json.loads(line)
    # last entry wins, but never let a -1 overwrite a real measurement
    cur = acc.setdefault(r['query'], {})
    if r['sec'] > 0 or r['dir'] not in cur:
        cur[r['dir']] = r['sec']

def expo(a, b):
    if a and b and a > 0 and b > 0:
        return round(math.log10(max(b, 1e-3) / max(a, 1e-3)), 3)
    return None

rows = {}
for q, m in sorted(acc.items()):
    b, t10, t100 = (m.get(d) for d in ('base', 'x10', 'x100'))
    rows[q] = {
        'base_sec': b, 'x10_sec': t10, 'x100_sec': t100,
        'e1': expo(b, t10), 'e2': expo(t10, t100),
    }
json.dump(rows, open('target/scalesweep_final.json', 'w'), indent=1)

have_e2 = [(v['e2'], q) for q, v in rows.items() if v['e2'] is not None]
have_e1 = [(v['e1'], q) for q, v in rows.items() if v['e1'] is not None]
missing = [q for q, v in rows.items()
           if v['x100_sec'] in (None, -1.0) or v['base_sec'] in (None, -1.0)]
have_e2.sort(reverse=True)
e2s = sorted(e for e, _ in have_e2)
e1s = sorted(e for e, _ in have_e1)

print(f"queries: {len(rows)}  with full 3-decade data: {len(have_e2)}  "
      f"missing/failed: {missing}")
print(f"e1: median {e1s[len(e1s)//2]:.3f} max {e1s[-1]:.3f}  "
      f"e2: median {e2s[len(e2s)//2]:.3f} max {e2s[-1]:.3f}  "
      f"e2>1.1: {sum(1 for e in e2s if e > 1.1)}  "
      f"e2 in (1.0,1.1]: {sum(1 for e in e2s if 1.0 < e <= 1.1)}")
print("\ntop 15 by e2:")
for e, q in have_e2[:15]:
    v = rows[q]
    print(f"| {q} | {v['base_sec']:.2f} | {v['x10_sec']:.2f} | "
          f"{v['x100_sec']:.2f} | {v['e1']:.2f} | {v['e2']:.2f} |")
