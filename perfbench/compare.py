#!/usr/bin/env python3
"""Compare two sets of benchmark runs (say, parent and change).

    python3 perfbench/compare.py BASE NEW

BASE and NEW are run records written by run.py (directories of them, or
single files; run.py keeps them under .bench_build/perfbench/records/).
Runs are paired in file-name order, which is start-time order, so pair i
is the i-th run of each side; alternate which side runs first.

For each workload and end-to-end metric of BENCHMARK.json it prints both
sides' medians and quartiles and a verdict:
  better      at least 10 pairs, NEW wins at least 9/10 of them (ties count
              for neither) and the medians differ by more than BASE's IQR;
  worse       NEW's median is worse than BASE's by more than the bound;
  unresolved  BASE's own spread (IQR / median) is wider than the bound and
              not every NEW run beats every BASE run;
  same        none of the above: no worse than the bound allows.
Traced runs add the per-layer medians and their deltas.
"""
import json
import sys
from collections import defaultdict
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
from lib import stats  # noqa: E402

SPEC = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())


def load(arg):
    p = Path(arg)
    files = sorted(p.glob("*.json")) if p.is_dir() else [p]
    runs = defaultdict(list)
    for f in files:
        r = json.loads(f.read_text())
        runs[(r["workload"], r["trace"])].append(r)
    return runs


def verdict(base, new, better, bound):
    """Verdict for one metric; `better` is "lower" or "higher"."""
    sign = 1 if better == "lower" else -1
    pairs = list(zip(base, new))
    wins = sum(1 for b, n in pairs if sign * (b - n) > 0)
    mb, mn = stats.median(base), stats.median(new)
    q1, _, q3 = stats.quartiles(base)
    if len(pairs) >= 10 and wins >= 0.9 * len(pairs) and sign * (mb - mn) > q3 - q1:
        return "better", wins, len(pairs)
    if sign * (mn - mb) > bound * abs(mb):
        return "worse", wins, len(pairs)
    beats_all = max(new) < min(base) if sign > 0 else min(new) > max(base)
    if stats.iqr_share(base) > bound and not beats_all:
        return "unresolved", wins, len(pairs)
    return "same", wins, len(pairs)


def fmt(xs):
    q1, q2, q3 = stats.quartiles(xs)
    return f"{q2:10.4f} [{q1:.4f}, {q3:.4f}]"


def main():
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    base, new = load(sys.argv[1]), load(sys.argv[2])
    print(f"{'workload':14} {'metric':26} {'base median [Q1, Q3]':>32} {'new median [Q1, Q3]':>32}"
          f" {'wins':>7}  verdict")
    for w in SPEC["workloads"]:
        name = w["name"]
        b_runs, n_runs = base.get((name, 0), []), new.get((name, 0), [])
        for m in SPEC["end_to_end"]:
            b = [r["metrics"][m["name"]] for r in b_runs if m["name"] in r["metrics"]]
            n = [r["metrics"][m["name"]] for r in n_runs if m["name"] in r["metrics"]]
            if not b or not n:
                continue
            v, wins, pairs = verdict(b, n, m["better"], m["bound"])
            print(f"{name:14} {m['name']:26} {fmt(b):>32} {fmt(n):>32} {wins:>3}/{pairs:<3}  {v}")
    for w in SPEC["workloads"]:
        b_runs, n_runs = base.get((w["name"], 1), []), new.get((w["name"], 1), [])
        if not b_runs or not n_runs:
            continue
        print(f"\nper-layer medians, {w['name']} ({len(b_runs)} vs {len(n_runs)} traced runs)")
        keys = sorted(set(b_runs[0]["layers"]) & set(n_runs[0]["layers"]))
        for k in keys:
            b = stats.median([r["layers"][k] for r in b_runs if k in r["layers"]])
            n = stats.median([r["layers"][k] for r in n_runs if k in r["layers"]])
            pct = f"{100 * (n - b) / abs(b):+7.1f}%" if b else "      -"
            print(f"  {k:40} {b:14.6g} {n:14.6g} {n - b:+14.6g} {pct}")


if __name__ == "__main__":
    main()
