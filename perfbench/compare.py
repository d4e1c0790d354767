#!/usr/bin/env python3
"""Compares two sets of benchmark results, the parent's and a change's.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR
    python3 perfbench/compare.py --counts DIR [DIR ...]

Each DIR holds the per-run files run.py leaves in perfbench/out/ (copy
them aside between commits). The first form prints, per workload and
end-to-end metric, each side's median and quartiles over its untraced
runs, the fraction of seed-matched pairs the change wins (ties count for
neither) and a verdict:

  unresolved   a side's own spread (quartile distance over median) is
               wider than the metric's bound, and not every change run
               beats every parent run
  worse        the change's median is worse than the parent's by more
               than the bound
  better       the change wins at least 9 of 10 pairs and the medians
               differ by more than the parent's quartile distance
  same         none of the above

The second form checks that the scheduler counts (jobs, stages, tasks)
of every query repeat exactly across the traced runs given, whatever
their seeds.
"""
import json
import statistics
import sys
from pathlib import Path

BENCHMARK = Path(__file__).resolve().parent.parent / "BENCHMARK.json"
COUNTS = ("scheduler.jobs", "scheduler.stages", "scheduler.tasks")


def load(dirs, trace):
    """{workload: {seed: result}} of the runs with the given trace flag."""
    runs = {}
    for d in dirs:
        for f in sorted(Path(d).glob("*.json")):
            r = json.loads(f.read_text())
            if r.get("trace") == trace and not f.name.startswith("smoke-"):
                runs.setdefault(r["workload"], {})[r["seed"]] = r
    return runs


def quartiles(v):
    if len(v) < 2:
        return v[0], v[0], v[0]
    q1, q2, q3 = statistics.quantiles(v, n=4)
    return q1, q2, q3


def verdict(a, b, pairs, bound, lower_better):
    qa1, ma, qa3 = quartiles(a)
    qb1, mb, qb3 = quartiles(b)
    sign = 1 if lower_better else -1
    wins = sum(1 for x, y in pairs if sign * (x - y) > 0)
    frac = wins / len(pairs) if pairs else float("nan")
    worse_by = sign * (mb - ma) / ma
    all_better = (max(b) < min(a)) if lower_better else (min(b) > max(a))
    if ((qa3 - qa1) / ma > bound or (qb3 - qb1) / mb > bound) and not all_better:
        v = "unresolved"
    elif worse_by > bound:
        v = "worse"
    elif frac >= 0.9 and abs(mb - ma) > qa3 - qa1:
        v = "better"
    else:
        v = "same"
    return (qa1, ma, qa3), (qb1, mb, qb3), frac, v


def compare(parent, change):
    spec = json.loads(BENCHMARK.read_text())
    a_runs, b_runs = load([parent], 0), load([change], 0)
    print(f"{'workload':18s} {'metric':14s} {'parent q1/med/q3':>28s} "
          f"{'change q1/med/q3':>28s} {'wins':>5s} {'bound':>6s}  verdict")
    worst = 0
    for wl in sorted(set(a_runs) | set(b_runs)):
        a, b = a_runs.get(wl, {}), b_runs.get(wl, {})
        if not a or not b:
            print(f"{wl:18s} runs missing on one side (parent {len(a)}, change {len(b)})")
            worst = 1
            continue
        seeds = sorted(set(a) & set(b))
        for m in spec["end_to_end"]:
            name = m["name"]
            av = [r["metrics"][name] for r in a.values()]
            bv = [r["metrics"][name] for r in b.values()]
            pairs = [(a[s]["metrics"][name], b[s]["metrics"][name]) for s in seeds]
            qa, qb, frac, v = verdict(av, bv, pairs, m["bound"], m["better"] == "lower")
            fmt = lambda q: f"{q[0]:8.3f}/{q[1]:8.3f}/{q[2]:8.3f}"
            wins = f"{frac:5.2f}" if pairs else "    -"
            print(f"{wl:18s} {name:14s} {fmt(qa):>28s} {fmt(qb):>28s} "
                  f"{wins} {m['bound']:6.2f}  {v}  (n={len(av)}/{len(bv)}, {m['unit']})")
            if v in ("worse", "unresolved"):
                worst = 1
    return worst


def check_counts(dirs):
    runs = load(dirs, 1)
    bad = 0
    for wl, by_seed in sorted(runs.items()):
        seen = {}
        for seed, r in sorted(by_seed.items()):
            for q, m in r["per_query"].items():
                seen.setdefault(q, {})[seed] = tuple(m[c] for c in COUNTS)
        for q, by in sorted(seen.items()):
            distinct = set(by.values())
            status = "identical" if len(distinct) == 1 else "DIFFER"
            bad |= len(distinct) != 1
            print(f"{wl:18s} {q:32s} {status:9s} seeds {sorted(by)}  "
                  f"jobs/stages/tasks {' | '.join('/'.join(f'{x:g}' for x in t) for t in sorted(distinct))}")
    return bad


def main(argv):
    if len(argv) >= 2 and argv[0] == "--counts":
        return check_counts(argv[1:])
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    return compare(*argv)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
