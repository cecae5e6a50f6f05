#!/usr/bin/env python3
"""Runs one benchmark workload (or all of them) and prints its metrics.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run builds the program and
the harness from source with sbt (perfbench/build.sbt, which loads the
program's own build); later runs reuse the build while the sources are
unchanged. Each run starts a fresh JVM (graft.perfbench.Runner), whose
scratch output lives under a per-run directory that is removed at the end.

The last stdout line is one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end ones; with
--trace 1 they are the per-layer ones. The line before it is the run record
(provenance, per-query medians, sample counts). The exit code is nonzero
when any query failed or returned a result whose fingerprint differs from
its reference.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
TARGET = BENCH / "target"
LAUNCH = TARGET / "launch.txt"
STAMP = TARGET / "launch.stamp"
DATA = BENCH / "data" / "sf0.01"
REFERENCES = BENCH / "references.tsv"
WORKLOADS = ["graph_fixpoint", "frame_write"]
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# name -> unit; the end-to-end set comes from a run without tracing
END_TO_END = {"setup_s": "s", "wall_s": "s", "query_geomean_s": "s",
              "peak_live_heap_mb": "MB"}
PER_LAYER_UNITS = {"jobs": "count", "executions": "count", "stages": "count",
                   "tasks": "count", "blocks": "count", "rows": "count",
                   "memo_artifacts": "count", "core_util": "ratio",
                   "overhead_frac": "ratio"}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads from the checkout, in a stable order."""
    trees = [ROOT / "src" / "main", BENCH / "src"]
    files = [ROOT / "build.sbt", BENCH / "build.sbt",
             BENCH / "project" / "build.properties"]
    files += sorted(p for p in (ROOT / "project").glob("*") if p.is_file())
    for t in trees:
        files += sorted(p for p in t.rglob("*") if p.is_file())
    return files


def build():
    """Builds with sbt unless the launch file matches the current sources."""
    for need in (ROOT / "build.sbt", ROOT / "src" / "main", DATA, REFERENCES):
        if not need.exists():
            fail(f"{need.relative_to(ROOT)} is missing; run from a source checkout")
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    stamp = h.hexdigest()
    if LAUNCH.exists() and STAMP.exists() and STAMP.read_text() == stamp:
        return
    env = dict(os.environ)
    if "-Xmx" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Xmx3g").strip()
    started = time.monotonic()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"],
                       cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not LAUNCH.exists():
        fail(f"build failed (sbt exit {r.returncode})")
    STAMP.write_text(stamp)
    print(f"perfbench: built in {time.monotonic() - started:.1f} s", file=sys.stderr)


def mem_total_kb():
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


def heap_gb(mem_kb):
    """A quarter of host memory, clamped to [2, 4] GB."""
    return 3 if mem_kb is None else max(2, min(4, mem_kb // (4 * 1024 * 1024)))


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(workload, seed, seconds, trace):
    """Runs one Runner JVM and returns its result record."""
    mem_kb = mem_total_kb()
    scratch = TARGET / f"scratch-{os.getpid()}-{workload}"
    shutil.rmtree(scratch, ignore_errors=True)
    scratch.mkdir(parents=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(scratch / "local"))
    java = str(Path(os.environ["JAVA_HOME"], "bin", "java")) if "JAVA_HOME" in os.environ else "java"
    cmd = [java] + LAUNCH.read_text().split("\n")[:-1] + [
        # a fixed heap size: the full collection after every query would
        # otherwise shrink the heap, and the next query's young collections
        # would depend on how far
        f"-Xms{heap_gb(mem_kb)}g", f"-Xmx{heap_gb(mem_kb)}g", "graft.perfbench.Runner",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", "1" if trace else "0", "--data", str(DATA),
        "--references", str(REFERENCES), "--scratch", str(scratch)]
    if trace:
        cmd += ["--spans", str(TARGET / "spans" / f"{workload}-seed{seed}.jsonl")]
    setups, result = [], None
    steal0 = cpu_steal()
    started = time.monotonic()
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, stdin=subprocess.DEVNULL, text=True)
    watchdog = threading.Timer(RUN_TIMEOUT_S, proc.kill)
    watchdog.start()
    try:
        for line in proc.stdout:
            if not line.startswith("PERFBENCH "):
                continue
            _, kind, body = line.rstrip("\n").split(" ", 2)
            if kind == "ready":
                setups.append(time.monotonic() - started)
            elif kind == "setup":
                setups.append(json.loads(body)["s"])
            elif kind == "result":
                result = json.loads(body)
        proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)
    if proc.returncode != 0 or result is None or not setups:
        fail(f"{workload}: runner exited {proc.returncode} without a result")
    result["provenance"] = {
        "nproc": len(os.sched_getaffinity(0)), "mem_total_kb": mem_kb,
        "heap_gb": heap_gb(mem_kb), "cores_used": result.pop("cores"),
        "jvm": result.pop("jvm"), "spark": result.pop("spark"),
        "seed": seed, "git_commit": git_commit()}
    result["setup_s"] = setups
    steal1 = cpu_steal()
    if steal0 and steal1:
        result["provenance"]["steal_frac"] = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    return result


def cpu_steal():
    """(steal, total) jiffies of all CPUs, or None where /proc/stat is absent."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v[:8])
    except (OSError, IndexError, ValueError):
        return None


def metrics_of(result, trace):
    if trace:
        return {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(result["layers"].items())}
    m = {"setup_s": statistics.median(result["setup_s"])}
    m.update({k: result[k] for k in END_TO_END if k != "setup_s"})
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in m.items()}


def unit_of(name):
    last = name.split(".")[-1]
    if last in PER_LAYER_UNITS:
        return PER_LAYER_UNITS[last]
    for suffix, unit in (("_s", "s"), ("_mb", "MB")):
        if last.endswith(suffix) or last == suffix[1:]:
            return unit
    return "count"


def table(results, trace):
    names = sorted({k for r in results for k in metrics_of(r, trace)})
    lines = ["| metric | unit | " + " | ".join(r["workload"] for r in results) + " |",
             "|---|---|" + "---|" * len(results)]
    for n in names:
        cells = []
        for r in results:
            m = metrics_of(r, trace).get(n)
            cells.append("" if m is None else f"{m['value']:.4g}")
        lines.append(f"| {n} | {unit_of(n) if trace else END_TO_END[n]} | " + " | ".join(cells) + " |")
    return "\n".join(lines)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args()
    build()
    names = WORKLOADS if a.workload == "all" else [a.workload]
    results = []
    for w in names:
        r = run_jvm(w, a.seed, a.seconds, a.trace == 1)
        for e in r["errors"]:
            print(f"perfbench: {w}: {e}", file=sys.stderr)
        print(json.dumps({"record": r}, sort_keys=True))
        results.append(r)
    if a.workload == "all":
        print(table(results, a.trace == 1))
    attempted = sum(r["attempted"] for r in results)
    failed = sum(r["failed"] for r in results)
    metrics = {}
    for r in results:
        prefix = "" if len(results) == 1 else r["workload"] + "."
        metrics.update({prefix + k: v for k, v in metrics_of(r, a.trace == 1).items()})
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.stdout.flush()
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
