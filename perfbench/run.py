#!/usr/bin/env python3
"""Layered benchmark for graft.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all [--seed N] [--seconds S]

Run from the root of a graft checkout. The first call builds graft and the
benchmark from source with sbt (the benchmark is its own sbt build in this
directory); later calls reuse the build until a source file changes.

A single-workload call starts one JVM, which builds the workload's seeded
fixture three times (set-up time is the median), warms up, runs the timed
window, and dumps what it measured. This script then checks every op's
output against an oracle that does not use graft (oracle.py), derives the
metrics, and prints as its last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones (spans.py).
Result files land in .bench_build/perfbench/results/.

`--workload all` runs every workload untraced and then traced with one
seed, and prints each end-to-end metric with its unit, the failure rate,
the self time per layer, and the tracing overhead.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

import oracle
import spans

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build" / "perfbench"
WORKLOADS = ["zng_query", "het_zson", "convert", "lake_service"]
JVM_TIMEOUT_S = 160
# a fixed heap: the engine's peak RSS should not depend on when G1 decides
# to grow the heap
HEAP = "1536m"
# Spark 4 on JDK 17 outside spark-submit (as in the root build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

# metric name -> unit, for both metric lists of the benchmark's contract
UNITS = {m["name"]: m["unit"] for key in ("end_to_end", "per_layer")
         for m in json.loads((ROOT / "BENCHMARK.json").read_text())[key]}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---- build ------------------------------------------------------------------

def _sources():
    files = [ROOT / "build.sbt", HERE / "build.sbt", HERE / "project" / "build.properties"]
    files += sorted((ROOT / "project").glob("*.sbt")) + sorted((ROOT / "project").glob("*.properties"))
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def _stamp():
    h = hashlib.sha256()
    for f in _sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def _sbt_env():
    env = dict(os.environ)
    repos = Path.home() / ".sbt" / "repositories"
    opts = env.get("SBT_OPTS", "")
    if repos.exists() and "sbt.repository.config" not in opts:
        env.setdefault("COURSIER_MODE", "offline")
        opts += (f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
                 " -Dsbt.offline=true")
    if "-Xmx" not in opts:
        opts += " -Xmx2g"
    env["SBT_OPTS"] = opts.strip()
    return env


def build():
    """Compile graft and the benchmark; return the runtime classpath."""
    OUT.mkdir(parents=True, exist_ok=True)
    cp_file, stamp_file = OUT / "classpath", OUT / "stamp"
    with open(OUT / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = _stamp()
        if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
            return cp_file.read_text().strip()
        log("building graft and the benchmark with sbt ...")
        t = time.time()
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=_sbt_env(), capture_output=True, text=True, timeout=840)
        lines = [x for x in p.stdout.splitlines() if x and not x.startswith("[")]
        if p.returncode != 0 or not lines:
            sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
            raise SystemExit("perfbench: build failed")
        cp = lines[-1].strip()
        cp_file.write_text(cp)
        stamp_file.write_text(stamp)
        log(f"built in {time.time() - t:.0f} s")
        return cp


# ---- one run ----------------------------------------------------------------

def run_jvm(cp, workload, seed, seconds, trace, cores):
    """Run one workload in a fresh JVM; return its raw measurements."""
    work = OUT / "work" / f"{workload}-s{seed}-t{trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    raw_path = work / "raw.json"
    cmd = ["java", *ADD_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), "--cores", str(cores), "--work", str(work), "--out", str(raw_path)]
    try:
        with open(work / "jvm.log", "w") as jlog:
            p = subprocess.run(cmd, stdout=jlog, stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S)
        if p.returncode != 0 or not raw_path.exists():
            sys.stderr.write((work / "jvm.log").read_text()[-6000:])
            raise SystemExit(f"perfbench: {workload} run failed (exit {p.returncode})")
        raw = json.loads(raw_path.read_text())
        raw["wrong"] = oracle.check(raw)
        return raw
    except subprocess.TimeoutExpired:
        raise SystemExit(f"perfbench: {workload} run exceeded {JVM_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _pct(xs, q):
    if not xs:
        return 0.0
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def failures(raw):
    """Ops that errored, differed from their first execution, or belong to
    an op whose output the oracle rejected."""
    return [o for o in raw["ops"] if not o["ok"] or o["name"] in raw["wrong"]]


def e2e_metrics(raw):
    ops = raw["ops"]
    bad = {id(o) for o in failures(raw)}
    good = [o for o in ops if id(o) not in bad]

    def lat(kind):
        return [(o["end"] - o["start"]) / 1e6 for o in good if o["kind"] == kind]

    def per_cycle(amount):
        """Median over the window's whole mix cycles of amount / cycle wall
        time: a few seconds of host interference move one cycle, not the
        figure."""
        cycles = {}
        for o in good:
            cycles.setdefault(o["cycle"], []).append(o)
        return statistics.median([
            amount(c) / max((max(o["end"] for o in c) - min(o["start"] for o in c)) / 1e9, 1e-9)
            for c in cycles.values()]) if cycles else 0.0

    writes = [o for o in good if o["kind"] == "write"]
    if raw["workload"] == "lake_service":
        out_bpr = spans.lake_bytes_per_row(raw)
    else:
        w_rows = sum(o["in_rows"] for o in writes)
        out_bpr = sum(o["out_bytes"] for o in writes) / w_rows if w_rows else 0.0
    v = {
        "setup_s": raw["session_s"] + statistics.median(raw["setup_runs_s"]),
        "rows_per_s": per_cycle(lambda c: sum(o["in_rows"] for o in c)),
        "query_p50_ms": _pct(lat("read"), 50),
        "query_p90_ms": _pct(lat("read"), 90),
        "write_p50_ms": _pct(lat("write"), 50),
        "write_p90_ms": _pct(lat("write"), 90),
        "ops_per_s": per_cycle(len),
        "peak_rss_mb": raw["rss_hwm_kb"] / 1024.0,
        "out_bytes_per_row": out_bpr,
    }
    return {k: {"value": x, "unit": UNITS[k]} for k, x in v.items()}


def per_layer_metrics(raw):
    return {k: {"value": x, "unit": UNITS[k]} for k, x in spans.layer_metrics(raw).items()}


def one(cp, workload, seed, seconds, trace, cores):
    raw = run_jvm(cp, workload, seed, seconds, trace, cores)
    bad = failures(raw)
    raw["e2e"] = e2e_metrics(raw)
    if trace:
        raw["per_layer"] = per_layer_metrics(raw)
    reads = sum(1 for o in raw["ops"] if o["kind"] == "read")
    raw["summary"] = {
        "attempted": len(raw["ops"]), "failed": len(bad),
        "failed_frac": len(bad) / max(len(raw["ops"]), 1),
        "read_ops": reads, "write_ops": len(raw["ops"]) - reads,
        "errors": sorted({o["err"] or raw["wrong"].get(o["name"], "") for o in bad})[:10],
    }
    res = OUT / "results"
    res.mkdir(parents=True, exist_ok=True)
    (res / f"{workload}-s{seed}-t{trace}.json").write_text(json.dumps(raw))
    return raw


def final_line(raw):
    s = raw["summary"]
    metrics = raw["per_layer"] if raw["trace"] else raw["e2e"]
    return {"correct": s["failed"] == 0 and not raw["wrong"], "attempted": s["attempted"],
            "failed": s["failed"], "metrics": metrics}


def suite(cp, seed, seconds, cores):
    for w in WORKLOADS:
        plain = one(cp, w, seed, seconds, 0, cores)
        traced = one(cp, w, seed, seconds, 1, cores)
        s = plain["summary"]
        inp = plain["input"]
        print(f"\n== {w} (seed {seed}, {seconds} s, local[{cores}]): {inp['desc']}; "
              f"{inp['rows']} rows, {inp['bytes']} bytes on disk")
        for k, m in plain["e2e"].items():
            print(f"  {k:<18} {m['value']:14.4f} {m['unit']}")
        print(f"  {'failed_frac':<18} {s['failed_frac']:14.4f} ({s['failed']} of {s['attempted']} ops; "
              f"{s['read_ops']} read, {s['write_ops']} write)")
        for e in s["errors"]:
            print(f"    error: {e}")
        spans.print_report(traced, plain)
        print("  per-layer metrics (traced run):")
        for k, m in traced["per_layer"].items():
            print(f"    {k:<36} {m['value']:14.4f} {m['unit']}")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=14)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        sys.exit(f"perfbench: {ROOT} is not a graft checkout (no build.sbt / src/main/scala)")
    cores = len(os.sched_getaffinity(0))
    cp = build()
    if a.workload == "all":
        suite(cp, a.seed, a.seconds, cores)
        return
    raw = one(cp, a.workload, a.seed, a.seconds, a.trace, cores)
    s = raw["summary"]
    log(f"{a.workload}: {s['attempted']} ops ({s['read_ops']} read, {s['write_ops']} write), "
        f"{s['failed']} failed; input {raw['input']['rows']} rows, {raw['input']['bytes']} bytes")
    for e in s["errors"]:
        log(f"error: {e}")
    print(json.dumps(final_line(raw)))


if __name__ == "__main__":
    main()
