#!/usr/bin/env python3
"""Compare interleaved A/B bench artifacts: min-per-query across N runs
of each side, sorted by absolute delta. Usage:
  ab_compare.py oldA.json oldB.json ... -- newA.json newB.json ...
"""
import json, sys

def load(paths):
    per = {}
    totals = []
    for p in paths:
        with open(p) as f:
            d = json.load(f)
        totals.append(d["value"])
        for k, v in d["queries"].items():
            per[k] = min(per.get(k, 1e18), v)
    return per, totals

args = sys.argv[1:]
i = args.index("--") if "--" in args else -1
if i < 1 or i == len(args) - 1:
    print(__doc__.strip(), file=sys.stderr)
    sys.exit(2)
old, old_totals = load(args[:i])
new, new_totals = load(args[i + 1:])
keys = sorted(set(old) & set(new), key=lambda k: -(abs(new[k] - old[k])))
print(f"old: per-run totals {old_totals}  min-per-query sum {sum(old.values()):.2f}")
print(f"new: per-run totals {new_totals}  min-per-query sum {sum(new.values()):.2f}")
print(f"{'query':<28} {'old':>7} {'new':>7} {'delta':>7} {'ratio':>6}")
for k in keys[:40]:
    d = new[k] - old[k]
    r = new[k] / old[k] if old[k] > 0 else float("inf")
    print(f"{k:<28} {old[k]:>7.3f} {new[k]:>7.3f} {d:>+7.3f} {r:>6.2f}")
onlyold = set(old) - set(new); onlynew = set(new) - set(old)
if onlyold: print("only-old:", sorted(onlyold))
if onlynew: print("only-new:", sorted(onlynew))
