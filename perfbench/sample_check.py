#!/usr/bin/env python3
"""Check that a workload's timed sample stands for the whole workload.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload cmdb_batch --seed 0 --seconds 600 --trace 1 --full
    python3 perfbench/sample_check.py perfbench/records/cmdb_batch_*_trace1_*.json

Each record must come from a --full --trace 1 run, which times every member
of the workload and records the counters each query added in the traced
passes. The record also names the sample (the members a run without --full
times). For the whole workload and for the sample, the script prints, from
that one run:

- quantiles of the per-query time (each query's median over the untraced
  timed passes) and the eager members' share of the summed time;
- per-query means of the counts (jobs, tasks, Catalyst executions, bytes);
- each layer's share of query wall time in the traced passes.

The last column is sample / workload.
"""
import argparse
import json
import statistics

# (label, counters summed, divisor: "wall" = Σ query wall s, "cores" = wall
# × cpus, "query" = one per query execution)
ROWS = [
    ("build share of wall", ["operators.build_s"], "wall"),
    ("catalyst share of wall", ["catalyst.analysis_s", "catalyst.optimization_s",
                                "catalyst.planning_s"], "wall"),
    ("job time over wall", ["scheduler.job_s"], "wall"),
    ("driver gap share of wall", ["scheduler.driver_gap_s"], "wall"),
    ("executor busy (run / wall x cores)", ["executor.run_s"], "cores"),
    ("executor cpu / wall x cores", ["executor.cpu_s"], "cores"),
    ("stream trigger share of wall", ["streaming.trigger_ms"], "wall_ms"),
    ("stream start/stop share of wall", ["streaming.start_stop_s"], "wall"),
    ("jobs per query", ["scheduler.jobs"], "query"),
    ("tasks per query", ["scheduler.tasks"], "query"),
    ("catalyst executions per query", ["catalyst.executions"], "query"),
    ("shuffle write MB per query", ["shuffle.write_bytes"], "query_mb"),
    ("input MB per query", ["sources.input_bytes"], "query_mb"),
    ("micro-batches per query", ["streaming.batches"], "query"),
]


def query_times(raw):
    """Each query's median time over the untraced timed passes."""
    timed = [p for p in raw["passes"] if p["pass"] > 0 and not p["traced"]]
    return {q: statistics.median(p["seconds"][q] for p in timed) for q in raw["queries"]}


def time_profile(times, eager):
    xs = sorted(times.values())
    # cut points at 5 %, 10 %, ..., 95 %
    cuts = statistics.quantiles(xs, n=20, method="inclusive") if len(xs) > 1 else xs * 19
    total = sum(xs)
    return {
        "queries": len(xs),
        "p10 s": cuts[1], "p25 s": cuts[4], "p50 s": cuts[9], "p75 s": cuts[14],
        "p90 s": cuts[17], "max s": xs[-1], "mean s": total / len(xs),
        "eager share of time": sum(t for n, t in times.items() if n in eager) / total,
    }


def layer_profile(raw, members):
    """Layer shares and per-query counts over the traced passes."""
    traced = [p for p in raw["passes"] if p["traced"]]
    wall = sum(p["seconds"][q] for p in traced for q in members)
    execs = len(traced) * len(members)
    divisor = {"wall": wall, "wall_ms": wall * 1e3, "cores": wall * raw["cpus"],
               "query": execs, "query_mb": execs * 1e6}
    out = {}
    for label, keys, div in ROWS:
        total = sum(p["layers"]["per_query"].get(q, {}).get(k, 0.0)
                    for p in traced for q in members for k in keys)
        out[label] = total / divisor[div] if divisor[div] else 0.0
    return out


def check(record):
    raw = record["raw"]
    if not raw["full"] or not any(p["traced"] for p in raw["passes"]):
        raise SystemExit(f"{record['run']}: needs a --full --trace 1 run")
    everyone, sample = raw["queries"], raw["sample"]
    times = query_times(raw)
    eager = set(raw["eager"])
    rows = []
    whole = time_profile(times, eager)
    part = time_profile({q: times[q] for q in sample}, eager)
    rows += [(k, whole[k], part[k]) for k in whole]
    whole = layer_profile(raw, everyone)
    part = layer_profile(raw, sample)
    rows += [(k, whole[k], part[k]) for k in whole]
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("records", nargs="+")
    a = ap.parse_args()
    for path in a.records:
        with open(path) as f:
            record = json.load(f)
        raw = record["raw"]
        print(f"{record['workload']}: sample of {len(raw['sample'])} of "
              f"{len(raw['queries'])} queries: {', '.join(raw['sample'])}")
        print(f"  {'':38} {'workload':>10} {'sample':>10} {'ratio':>7}")
        for label, w, s in check(record):
            ratio = f"{s / w:7.2f}" if w else f"{'-':>7}"
            print(f"  {label:38} {w:10.4g} {s:10.4g} {ratio}")


if __name__ == "__main__":
    main()
