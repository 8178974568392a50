#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its metrics.

Usage (from the root of a graft checkout):

    python3 perfbench/run.py --workload cmdb_batch --seed 1 --seconds 30 --trace 0

Builds the driver (perfbench/build.sbt, which compiles the library sources
beside it) on first use, runs graftbench.Main in one JVM with a private
java.io.tmpdir and spark.local.dir, reduces its raw record to the metrics
named in BENCHMARK.json, checks every fingerprint against the cold pass and
the committed golden set, writes one self-describing record under
perfbench/records/, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer metrics.
Exits non-zero without a result line when the checkout lacks the library
sources, the build fails or the run does not finish in time.
"""
import argparse
import datetime
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import stats  # noqa: E402

SF = "sf0.01"
DATA = os.path.join(HERE, "data", SF)
GOLDEN = os.path.join(HERE, "golden", SF + ".json")
RECORDS = os.path.join(HERE, "records")
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "perfbench-classpath.txt")
RUN_TIMEOUT_S = 170  # a --full run is not bounded
BUILD_TIMEOUT_S = 850

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def benchmark_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def source_digest():
    """Hash of every file the driver build compiles."""
    h = hashlib.sha256()
    files = sorted(
        glob.glob(os.path.join(ROOT, "src", "main", "**", "*.scala"), recursive=True)
        + glob.glob(os.path.join(HERE, "src", "main", "**", "*.scala"), recursive=True)
        + [os.path.join(HERE, "build.sbt"),
           os.path.join(HERE, "project", "build.properties")])
    for path in files:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return None, None
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise


def build(digest):
    """Compile the driver if its sources changed; return the classpath."""
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as f:
            cached = json.load(f)
        if cached["digest"] == digest:
            return cached["classpath"]
    log("building the driver with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, text=True)
    if code != 0:
        log("build failed" if code is not None else "build timed out")
        if out:
            sys.stderr.write(out[-4000:])
        sys.exit(3)
    lines = [ln for ln in out.splitlines() if ln and not ln.startswith("[")]
    classpath = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        json.dump({"digest": digest, "classpath": classpath}, f)
    return classpath


def driver_mem():
    """The tier-1 SPARK_DRIVER_MEM rule: half the RAM, clamped to 2..8 GiB."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def tree_bytes(path):
    total = 0
    for d, _, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(d, name)).st_size
            except OSError:
                pass
    return total


def bucketed_scratch(data_dir):
    """The tree the library's bucketed-join fixture writes outside tmpdir."""
    digest = hashlib.md5(os.path.abspath(data_dir).encode()).hexdigest()[:8]
    tag = "".join(c if c.isalnum() else "_" for c in os.path.basename(data_dir))
    return os.path.join("/tmp", "graft_bucketed", f"{tag}_{digest}")


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, or None where /proc/stat is absent."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
        return fields[7] if len(fields) > 7 else 0, sum(fields[:8])
    except (OSError, ValueError):
        return None


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                             capture_output=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def end_to_end(raw, golden, scratch_mb):
    """Reduce the raw record to the end-to-end metrics and the verdict."""
    names = raw["queries"]
    timed = [p for p in raw["passes"] if p["pass"] > 0 and not p["traced"]]
    cold = raw["passes"][0]
    per_query = {n: [p["seconds"][n] for p in timed] for n in names}
    samples = [s for xs in per_query.values() for s in xs]
    pct, tail_v, beyond, n = stats.tail(samples)

    pipe = raw["pipeline"]
    # (query, pass, error, fingerprint) of every execution; the pipeline's
    # back-to-back runs after the passes count as pass "pipeline"
    executions = [(q, p["pass"], p["errors"].get(q), p["fingerprints"].get(q))
                  for p in raw["passes"] for q in names]
    executions += [(pipe, "pipeline", r["error"], r["fingerprint"])
                   for r in raw["pipeline_runs"]]
    attempted = len(executions)
    failed = mismatched = 0
    failures, mismatches = {}, {}
    for q, pas, err, fp in executions:
        if err is not None:
            failed += 1
            failures.setdefault(q, err)
        elif fp != (golden.get(q) if pas == 0 else cold["fingerprints"].get(q)):
            mismatched += 1
            mismatches.setdefault(q, []).append(pas)
    fail_ratio = (failed + mismatched) / attempted
    metrics = {
        "setup_s": (raw["setup_s"], "s"),
        "cold_pass_s": (raw["cold_pass_s"], "s"),
        "suite_s": (suite(raw, traced=False), "s"),
        "query_p50_s": (statistics.median(samples), "s"),
        "query_tail_s": (tail_v, "s"),
        "pipeline_s": (statistics.median(per_query[pipe] + [
            r["seconds"] for r in raw["pipeline_runs"]]), "s"),
        "pass_ratio": (1.0 - fail_ratio, "ratio"),
    }
    detail = {
        "fail_ratio": fail_ratio,
        "scratch_mb": scratch_mb,
        "query_tail": {"percentile": pct, "samples": n, "beyond": beyond},
        "timed_passes": len(timed),
        "failures": failures,
        "mismatches": mismatches,
        "golden_missing": sorted(q for q in names if q not in golden),
    }
    return metrics, attempted, failed + mismatched, detail


def suite(raw, traced):
    """Sum over the queries of each one's median across the timed passes
    that were (or were not) traced."""
    passes = [p for p in raw["passes"] if p["pass"] > 0 and p["traced"] == traced]
    return sum(statistics.median([p["seconds"][n] for p in passes]) for n in raw["queries"])


def per_layer(raw, spec, scratch_mb):
    """Per-layer metrics: means over the traced passes, codegen and JIT
    across the cold pass, batch percentiles over every traced batch, the
    retained heap and the scratch the run left on disk."""
    traced = [p["layers"] for p in raw["passes"] if p["traced"]]
    batches = [b for lay in traced for b in lay["batch_ms"]]
    # heap after the full GC that ends each timed pass; the lowest, since a
    # transient buffer of tens of MB often survives one of those GCs
    heap = [p["heap_before_mb"] for p in raw["passes"] if p["pass"] > 1]
    heap.append(raw["heap_after_last_mb"])
    values = dict(raw["cold_layers"], scratch_mb=scratch_mb,
                  retained_heap_mb=min(heap))
    values["streaming.batch_p50_ms"] = statistics.median(batches) if batches else 0.0
    values["streaming.batch_tail_ms"] = stats.tail(batches)[1] if batches else 0.0
    values["trace.overhead_ratio"] = suite(raw, traced=True) / suite(raw, traced=False) - 1.0
    for m in spec["per_layer"]:
        if m["name"] not in values:
            values[m["name"]] = sum(lay["counters"].get(m["name"], 0.0)
                                    for lay in traced) / len(traced)
    return {m["name"]: (values[m["name"]], m["unit"]) for m in spec["per_layer"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--full", action="store_true",
                    help="run every member of the workload, not the timed sample")
    ap.add_argument("--update-golden", action="store_true",
                    help="store this run's cold-pass fingerprints as golden")
    a = ap.parse_args()
    t_start = time.monotonic()
    # a TERM unwinds like an exception, so the driver JVM is killed with us
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        log(f"no graft library sources under {ROOT}/src; run from a checkout")
        sys.exit(2)
    spec = benchmark_spec()

    digest = source_digest()
    classpath = build(digest)

    cpus = len(os.sched_getaffinity(0))
    stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%S")
    run_id = f"{a.workload}_c{cpus}_{SF}_seed{a.seed}_trace{a.trace}_{stamp}_{os.getpid()}"
    run_dir = os.path.join(BUILD, "runs", run_id)
    tmp_dir, local_dir = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "local")
    os.makedirs(tmp_dir)
    os.makedirs(local_dir)
    os.makedirs(RECORDS, exist_ok=True)
    raw_path = os.path.join(run_dir, "raw.json")
    spans_path = os.path.join(RECORDS, run_id + ".spans.jsonl")
    jvm = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xmx{driver_mem()}", f"-Djava.io.tmpdir={tmp_dir}",
              f"-Dspark.local.dir={local_dir}", "-cp", classpath, "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--data", DATA, "--out", raw_path, "--cpus", str(cpus)]
           + (["--spans", spans_path] if a.trace else [])
           + (["--full", "1"] if a.full else []))
    bucketed = bucketed_scratch(DATA)
    try:
        budget = RUN_TIMEOUT_S - (time.monotonic() - t_start)
        if budget < 30:  # the first run of a checkout spent its time building
            budget = RUN_TIMEOUT_S
        ticks0 = cpu_ticks()
        code, _ = run_bounded(jvm, None if a.full else budget, cwd=run_dir,
                              stdin=subprocess.DEVNULL, stdout=sys.stderr)
        if code != 0 or not os.path.exists(raw_path):
            log("driver failed" if code is not None else "driver timed out")
            sys.exit(4)
        ticks1 = cpu_ticks()
        with open(raw_path) as f:
            raw = json.load(f)
        scratch_mb = (tree_bytes(tmp_dir) + tree_bytes(local_dir)) / 1e6
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        shutil.rmtree(bucketed, ignore_errors=True)

    golden = {}
    if os.path.exists(GOLDEN):
        with open(GOLDEN) as f:
            golden = json.load(f)
    if a.update_golden:
        cold = raw["passes"][0]
        golden.update({q: cold["fingerprints"][q] for q in raw["queries"]
                       if q in cold["fingerprints"]})
        os.makedirs(os.path.dirname(GOLDEN), exist_ok=True)
        with open(GOLDEN, "w") as f:
            json.dump(dict(sorted(golden.items())), f, indent=1)
            f.write("\n")

    e2e, attempted, failed, detail = end_to_end(raw, golden, scratch_mb)
    # CPU time the hypervisor gave to other guests while the driver ran: the
    # main source of run-to-run spread on a shared host
    if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
        detail["cpu_steal_share"] = (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1])
    correct = failed == 0 and not detail["golden_missing"]
    layers = per_layer(raw, spec, scratch_mb) if a.trace else None
    metrics = layers or {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}

    record = {
        "run": run_id, "workload": a.workload, "seed": a.seed, "sf": SF,
        "cpus": cpus, "trace": a.trace, "seconds": a.seconds,
        "git_commit": git_commit(), "source_digest": digest,
        "jvm_flags": raw["jvm_flags"], "java_version": raw["java_version"],
        "spark_version": raw["spark_version"],
        "env": {k: v for k, v in sorted(os.environ.items())
                if k.startswith("SPARK_GRAFT_")},
        "correct": correct, "attempted": attempted, "failed": failed,
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "per_layer": layers and {k: {"value": v, "unit": u}
                                 for k, (v, u) in layers.items()},
        "detail": detail, "raw": raw,
    }
    with open(os.path.join(RECORDS, run_id + ".json"), "w") as f:
        json.dump(record, f, indent=1)

    for k, (v, u) in metrics.items():
        log(f"{a.workload} {k} = {v:.6g} {u}")
    log(f"{a.workload} fail_ratio = {detail['fail_ratio']:.6g} "
        f"({failed} of {attempted}); tail = p{detail['query_tail']['percentile']} "
        f"of {detail['query_tail']['samples']} samples; "
        f"{detail['timed_passes']} timed passes; "
        f"cpu steal {detail.get('cpu_steal_share', 0.0):.3f}")
    for q, e in sorted(detail["failures"].items()):
        log(f"FAILED {q}: {e}")
    for q, ps in sorted(detail["mismatches"].items()):
        log(f"MISMATCH {q} in passes {ps}")
    for q in detail["golden_missing"]:
        log(f"NO GOLDEN fingerprint for {q}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u}
                                  for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
