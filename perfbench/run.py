#!/usr/bin/env python3
"""Benchmark of the graft engine: index lifecycles, iterations and corpus scans.

Usage (from the repository root):
  python3 perfbench/run.py --workload index_lifecycle --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark's JVM program (perfbench/src) from source
(perfbench/build.py), runs one workload in one JVM on local[<cores>] against the sf0.1 tables in
perfbench/data, checks every unit's output against its query's DuckDB oracle,
and prints one JSON object as the last line of standard output. With
--trace 0 its metrics are the end-to-end metrics; with --trace 1 the
per-layer metrics. See BENCHMARK.json for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import oracle  # noqa: E402

BENCH = Path(__file__).resolve().parent
DATA = BENCH / "data" / "sf0.1"
JVM_TIMEOUT_S = 150
HEAP = "2g"

WORKLOADS = ("index_lifecycle", "analytics")

END_TO_END = {"wall_s": "s", "wall_norm": "ratio", "cpu_s": "s", "setup_s": "s"}
# Printed on the report line only: zero outside index_lifecycle, zero at a
# healthy HEAD, or (the heap) too noisy from run to run to carry a bound.
REPORT_ONLY = {
    "mutate_s": "s", "search_s": "s", "stored_mb": "MB",
    "heap_live_peak_mb": "MB", "unit_failed_frac": "ratio",
}

ENGINE = ["spark.jobs", "spark.stages", "spark.tasks", "spark.task_retries",
          "spark.job_active_s", "spark.driver_only_s", "spark.catalyst_s",
          "spark.commit_s", "spark.executor_run_s", "spark.executor_cpu_s",
          "spark.gc_s", "spark.core_occupancy", "spark.shuffle_write_mb",
          "spark.spill_mb", "spark.output_mb", "spark.files_written"]
INDEX_CALLS = [
    "text.PostingsIndex.write", "text.PostingsIndex.admit",
    "text.PostingsIndex.forget", "text.PostingsIndex.searchGrown",
    "sim.IvfIndex.write", "sim.IvfIndex.admit", "sim.IvfIndex.searchGrown",
    "dedup.DedupIndex.write", "dedup.DedupIndex.flagAgainst",
    "dedup.FingerprintIndex.write", "dedup.FingerprintIndex.flagAgainst"]
ITERATIVE_CALLS = ["graph.Algorithms.kMeans", "api.Iterations.bulk",
                   "sim.Similarity.knnGraph"]
CORPUS_MODULES = ["ops.Relational", "ops.Events", "text", "multimodal",
                  "dedup.Dedup", "pipeline"]


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("core_occupancy"):
        return "ratio"
    return "count"


PER_LAYER = (
    ENGINE
    + [f"{c}.{m}" for c in INDEX_CALLS for m in ("call_s", "jobs", "driver_only_s")]
    + [f"{c}.{m}" for c in ITERATIVE_CALLS for m in ("call_s", "jobs", "executor_run_s")]
    + [f"{c}.{m}" for c in CORPUS_MODULES
       for m in ("call_s", "executor_run_s", "core_occupancy")]
    + ["index.mutate_s", "index.search_s", "index.stored_mb", "jvm.heap_live_peak_mb",
       "trace.overhead_s"])


def cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def commit():
    try:
        done = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT,
                              capture_output=True, text=True, timeout=10)
        return done.stdout.strip() if done.returncode == 0 else None
    except OSError:
        return None


def cpu_ticks():
    """(steal, total) jiffies of the machine, where /proc/stat exists."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
        return ticks[7], sum(ticks)
    except (OSError, IndexError, ValueError):
        return None


def jvm_options() -> list:
    pkgs = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
            "java.net", "java.nio", "java.util", "java.util.concurrent",
            "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
            "sun.security.action", "sun.util.calendar"]
    opens = [a for p in pkgs for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return opens + [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}"]


def run_jvm(classes: Path, work: Path, args) -> dict:
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    cp = f"{classes}{os.pathsep}{build.spark_jars() / '*'}"
    cmd = ["java", *jvm_options(), f"-Djava.io.tmpdir={tmp}", "-cp", cp,
           "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--cores", str(cores()), "--data", str(DATA), "--work", str(work)]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"perfbench: the run exceeded {JVM_TIMEOUT_S} s")
    finally:  # also on SIGTERM (see main) or Ctrl-C: never leave the JVM behind
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if proc.returncode != 0:
        raise SystemExit(f"perfbench: the benchmark JVM exited with {proc.returncode}")
    lines = [ln for ln in out.splitlines() if ln.startswith("PERFBENCH ")]
    if not lines:
        raise SystemExit("perfbench: no result line from the benchmark JVM")
    return json.loads(lines[-1][len("PERFBENCH "):])


def main() -> int:
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not DATA.is_dir():
        raise SystemExit(f"perfbench: input tables missing: {DATA}")

    classes, source_hash = build.build()
    ticks0 = cpu_ticks()
    work = build.BUILD / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        r = run_jvm(classes, work, args)
        ticks1 = cpu_ticks()
        t0 = time.monotonic()
        mismatches = oracle.check(DATA, r["oracle_sql"], r["outputs"],
                                  build.BUILD / "oracle-cache")
        oracle_s = time.monotonic() - t0
        if args.trace:
            spans = build.BUILD / "traces" / f"{args.workload}-seed{args.seed}.json"
            spans.parent.mkdir(parents=True, exist_ok=True)
            shutil.copyfile(work / "spans.json", spans)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # a unit run fails if it threw, returned other rows than the warm-up
    # pass, left state behind, or (every pass of it) missed its oracle
    failures = r["failures"] + [
        {"query": q, "pass": "all", "reason": why} for q, why in mismatches.items()]
    passes = r["passes"]
    failed_runs = {(f["query"], f["pass"]) for f in r["failures"] if f["pass"] > 0}
    failed_runs |= {(q, p) for q in mismatches for p in range(1, passes + 1)}
    attempted = r["attempted"]
    failed = len(failed_runs)
    # share of the machine's CPU time taken by its hypervisor during the
    # JVM run: the first thing to check when a run reads slow
    steal = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]) if ticks0 and ticks1 else None
    e2e = dict(r["e2e"])
    e2e["unit_failed_frac"] = failed / attempted
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "units": r["units"], "passes": passes, "pass_wall_s": r["pass_wall_s"],
        "canary_s": r["canary_s"],
        "unit_s": r["unit_s"],
        "end_to_end": {k: {"value": e2e[k], "unit": u}
                       for k, u in {**END_TO_END, **REPORT_ONLY}.items()},
        "setup": r["setup"], "timeline_s": r["timeline_s"], "oracle_s": oracle_s,
        "cpu_steal_frac": steal, "failures": failures,
        "env": {**r["env"], "commit": commit(), "source_hash": source_hash},
    }
    print("perfbench report " + json.dumps(report))
    if args.trace:
        metrics = {k: {"value": r["layer"].get(k, 0.0), "unit": unit_of(k)}
                   for k in PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
