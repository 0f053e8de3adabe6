#!/usr/bin/env python3
"""Interleaved A/B of one lancebench workload between two checkouts.

    python3 scripts/lancebench_ab.py PARENT_DIR CHANGE_DIR --workload serve \
        --pairs 10 --seed0 101 [--out lancebench_ab.json]

Pair i runs both sides on seed SEED0 + i, each side through its own
checkout's `lancebench/run.py` (so each builds from its own source) for
the `run_seconds` that the change checkout's BENCHMARK.json declares,
alternating which side runs first. Prints every pair, each side's median
and quartiles of `ops_per_s` (higher is better), each side's median of
every per-op-kind `<kind>.p50_ms` (from the runs' `[lancebench]` lines,
so the A/B shows which ops moved), the change's win count, and whether
the claim rule holds: the change wins at least 9 of every 10 pairs and
its median beats the parent's by more than the parent's interquartile
range.
Every run, with its wall time, its result JSON and its `[lancebench]`
lines, is written to the --out file. Exits 1 when a run fails.
"""
import argparse
import json
import math
import os
import statistics
import subprocess
import sys
import time

METRIC = "ops_per_s"  # higher is better


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("parent", help="checkout of the parent commit")
    p.add_argument("change", help="checkout of the change")
    p.add_argument("--workload", required=True)
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--seed0", type=int, required=True)
    p.add_argument("--out", default="lancebench_ab.json")
    return p.parse_args(argv)


def run_side(root, workload, seed, seconds):
    """One lancebench run: (wall seconds, result dict, [lancebench] lines)."""
    cmd = [sys.executable, os.path.join(root, "lancebench", "run.py"),
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds)]
    # each side builds into its own checkout's .bench_build
    env = {k: v for k, v in os.environ.items() if k != "CARGO_TARGET_DIR"}
    t0 = time.monotonic()
    r = subprocess.run(cmd, cwd=root, capture_output=True, text=True, env=env)
    wall = time.monotonic() - t0
    lines = r.stdout.splitlines()
    result = None
    if r.returncode == 0 and lines and lines[-1].startswith("{"):
        result = json.loads(lines[-1])
    else:
        sys.stderr.write(r.stderr[-4000:])
    return wall, result, [l for l in lines if l.startswith("[lancebench]")]


def op_p50s(lines):
    """{op kind: p50 ms} from one run's `[lancebench] <workload> <kind>.p50_ms
    <value> ms n=<samples>` lines."""
    out = {}
    for line in lines:
        f = line.split()
        if len(f) >= 4 and f[2].endswith(".p50_ms"):
            out[f[2][:-len(".p50_ms")]] = float(f[3])
    return out


def quartiles(xs):
    q = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else [xs[0]] * 3
    return q[0], q[1], q[2]


def main(argv):
    a = parse_args(argv)
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    with open(os.path.join(sides["change"], "BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]
    runs, values = [], {"parent": [], "change": []}
    wins = 0
    failed = False
    for i in range(a.pairs):
        seed = a.seed0 + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        got = {}
        for side in order:
            wall, result, lines = run_side(sides[side], a.workload, seed, seconds)
            runs.append({"pair": i, "seed": seed, "side": side, "first": side == order[0],
                         "wall_s": round(wall, 3), "result": result, "lines": lines})
            if result is None or result.get("failed", 1) != 0:
                failed = True
            got[side] = None if result is None else result["metrics"][METRIC]["value"]
        if got["parent"] is None or got["change"] is None:
            print(f"pair {i} seed {seed}: a run failed", flush=True)
            continue
        for side in values:
            values[side].append(got[side])
        better = got["change"] > got["parent"]
        wins += better
        walls = {r["side"]: r["wall_s"] for r in runs if r["pair"] == i}
        print(f"pair {i} seed {seed} first={order[0]:<6} parent {got['parent']:.4f} "
              f"({walls['parent']:.0f}s)  change {got['change']:.4f} ({walls['change']:.0f}s)  "
              f"{'change' if better else 'parent'} wins", flush=True)
    summary = {}
    for side, xs in values.items():
        if xs:
            q1, med, q3 = quartiles(xs)
            summary[side] = {"median": med, "q1": q1, "q3": q3, "n": len(xs)}
            print(f"{side:<6} {METRIC} median {med:.4f}  q1 {q1:.4f}  q3 {q3:.4f}  n={len(xs)}")
    kinds = {side: {} for side in sides}
    for r in runs:
        if r["result"] is not None:
            for k, v in op_p50s(r["lines"]).items():
                kinds[r["side"]].setdefault(k, []).append(v)
    op_medians = {side: {k: statistics.median(v) for k, v in ks.items()}
                  for side, ks in kinds.items()}
    print(f"{'op p50_ms':<12} {'parent':>10} {'change':>10}")
    for k in sorted(set(op_medians["parent"]) | set(op_medians["change"])):
        cells = [op_medians[side].get(k) for side in ("parent", "change")]
        print(f"{k:<12} " + " ".join(f"{c:>10.1f}" if c is not None else f"{'-':>10}"
                                      for c in cells))
    summary["op_p50_ms"] = op_medians
    n = len(values["change"])
    holds = False
    if n and "parent" in summary:
        p, c = summary["parent"], summary["change"]
        gap = c["median"] - p["median"]
        iqr = p["q3"] - p["q1"]
        need = math.ceil(0.9 * n)
        holds = wins >= need and gap > iqr and not failed
        print(f"change wins {wins}/{n} (need {need}); median gap {gap:.4f} vs parent IQR "
              f"{iqr:.4f}; rule {'holds' if holds else 'does not hold'}")
        summary.update({"wins": wins, "pairs": n, "gap": gap, "parent_iqr": iqr, "rule_holds": holds})
    with open(a.out, "w") as fh:
        json.dump({"workload": a.workload, "metric": METRIC, "better": "higher",
                   "seconds": seconds, "seed0": a.seed0, "summary": summary, "runs": runs},
                  fh, indent=1)
    print(f"runs written to {a.out}")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main(sys.argv[1:])
