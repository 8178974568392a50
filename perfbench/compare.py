#!/usr/bin/env python3
"""Compare two sets of benchmark runs: a parent commit and a change.

Usage:

    python3 perfbench/compare.py PARENT_RECORDS CHANGE_RECORDS [--json]

Each side is a directory of run records (perfbench/records/*.json written by
run.py) or a glob of them. Runs are grouped by workload and trace mode:
end-to-end metrics come only from untraced runs (--trace 0) and per-layer
metrics only from traced runs (--trace 1). Records of one side that differ
in cpus or sf are refused.

For every workload and metric the report gives each side's median and
quartiles, the pairwise win share of the change (runs paired by seed, else
in run order; ties count for neither side) and a verdict:

- "unresolved": the parent's own spread (interquartile distance over the
  median) is wider than the metric's bound, and the change does not beat
  every parent run with every one of its runs;
- "regressed": the change's median is worse than the parent's by more than
  the bound;
- "gain": the change wins at least nine tenths of the pairs and the medians
  differ by more than the parent's interquartile distance;
- "same" otherwise.

Per-layer metrics (no bound) get medians, quartiles and win share only. One
summary row per workload gives the worst end-to-end verdict.
"""
import argparse
import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

WIN_SHARE = 0.9
ORDER = ["regressed", "unresolved", "gain", "same"]


def load(side):
    paths = (sorted(glob.glob(os.path.join(side, "*.json")))
             if os.path.isdir(side) else sorted(glob.glob(side)))
    runs = []
    for p in paths:
        with open(p) as f:
            runs.append(json.load(f))
    if not runs:
        raise SystemExit(f"no run records in {side}")
    shapes = {(r["cpus"], r["sf"]) for r in runs}
    if len(shapes) > 1:
        raise SystemExit(f"{side} mixes cpus/sf settings: {sorted(shapes)}")
    return runs


def pairs(parent, change):
    """(parent value, change value) pairs, matched by seed when possible."""
    by_seed = {s: v for s, v in change}
    if all(s in by_seed for s, _ in parent):
        return [(v, by_seed[s]) for s, v in parent]
    return list(zip([v for _, v in parent], [v for _, v in change]))


def verdict(parent, change, better, bound):
    """Apply the comparison rule to two lists of (seed, value)."""
    pv = [v for _, v in parent]
    cv = [v for _, v in change]
    sign = 1.0 if better == "higher" else -1.0
    pq1, pmed, pq3 = stats.quartiles(pv)
    cq1, cmed, cq3 = stats.quartiles(cv)
    pr = pairs(parent, change)
    wins = sum(1 for p, c in pr if sign * (c - p) > 0)
    row = {
        "parent": {"q1": pq1, "median": pmed, "q3": pq3, "n": len(pv)},
        "change": {"q1": cq1, "median": cmed, "q3": cq3, "n": len(cv)},
        "win_share": wins / len(pr) if pr else 0.0,
        "pairs": len(pr),
    }
    if bound is None:
        row["verdict"] = None
        return row
    worse_by = sign * (pmed - cmed) / abs(pmed) if pmed else 0.0
    all_better = all(sign * (c - p) > 0 for c in cv for p in pv)
    if stats.spread(pv) > bound and not all_better:
        v = "unresolved"
    elif worse_by > bound:
        v = "regressed"
    elif row["win_share"] >= WIN_SHARE and abs(cmed - pmed) > (pq3 - pq1):
        v = "gain"
    else:
        v = "same"
    row["worse_by"] = worse_by
    row["verdict"] = v
    return row


def compare(parent_runs, change_runs, spec):
    # (metric, record block, the trace mode whose records carry it)
    metrics = ([(m, "end_to_end", 0) for m in spec["end_to_end"]]
               + [(m, "per_layer", 1) for m in spec["per_layer"]])
    out = {}
    for w in [x["name"] for x in spec["workloads"]]:
        rows = {}
        for m, kind, trace in metrics:
            def values(runs):
                return [(r["seed"], r[kind][m["name"]]["value"]) for r in runs
                        if r["workload"] == w and r["trace"] == trace
                        and r.get(kind) and m["name"] in r[kind]]
            pv, cv = values(parent_runs), values(change_runs)
            if pv and cv:
                rows[m["name"]] = verdict(pv, cv, m["better"], m.get("bound"))
        bounded = [r["verdict"] for r in rows.values() if r["verdict"]]
        if rows:
            out[w] = {"metrics": rows,
                      "verdict": min(bounded, key=ORDER.index) if bounded else None}
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--spec", default=os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
    ap.add_argument("--json", action="store_true")
    a = ap.parse_args()
    with open(a.spec) as f:
        spec = json.load(f)
    result = compare(load(a.parent), load(a.change), spec)
    if a.json:
        print(json.dumps(result, indent=1))
        return
    print(f"{'workload':14} {'metric':28} {'parent q1/med/q3':>30} "
          f"{'change q1/med/q3':>30} {'wins':>5} verdict")
    for w, res in result.items():
        for name, r in res["metrics"].items():
            p, c = r["parent"], r["change"]
            print(f"{w:14} {name:28} "
                  f"{p['q1']:9.4g} {p['median']:9.4g} {p['q3']:9.4g}  "
                  f"{c['q1']:9.4g} {c['median']:9.4g} {c['q3']:9.4g}  "
                  f"{r['win_share']:5.2f} {r['verdict'] or '-'}")
        print(f"{w:14} {'== workload verdict':28} {'':>62} {res['verdict']}")


if __name__ == "__main__":
    main()
