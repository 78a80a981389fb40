#!/usr/bin/env python3
"""Pipeline benchmark for the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the engine and the harness from
source (sbt, offline), generates the workload's inputs from the seed, runs
one JVM on local[4], checks every output in DuckDB, and prints one JSON
line: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.
Scratch files live under .bench_build/ and are removed on exit.
"""
import argparse
import concurrent.futures
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

HEAP = "4g"  # fixed, well under the 15 GiB of a 4-core test box
SETUPS = 3  # input generation is repeated and its median reported
JVM_TIMEOUT_S = 150
STREAM_RATE = 15.0  # files landed a second
# Every run is one cold pass of short jobs, so compile latency outweighs peak
# code quality: C2 compiles made a run a third slower and its timings noisier.
# C1 compiles far more methods (every generated class among them), which
# filled the default code cache in about one run in twenty.
JIT = ["-XX:TieredStopAtLevel=1", "-XX:-SegmentedCodeCache", "-XX:ReservedCodeCacheSize=512m"]

# Input sizes per workload: medallion events and star-schema customers,
# corpus documents, stream backfill rows and rows per landed file.
WORKLOADS = {
    "medallion": {"events": 20_000, "customers": 1_000, "docs": 2_000,
                  "backfill_rows": 1_000, "file_rows": 5},
    "stream_upsert": {"events": 5_000, "customers": 300, "docs": 2_000,
                      "backfill_rows": 5_000, "file_rows": 40},
}
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

# share of the near-duplicate pairs with exact Jaccard >= 0.85 that the chain
# must find; it misses one with probability about 2e-4
MIN_LIGHT_FOUND = 0.95


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    out = []
    for r in roots:
        if os.path.isfile(r):
            out.append(r)
        for d, dirs, files in os.walk(r):
            dirs.sort()
            out += [os.path.join(d, f) for f in sorted(files)]
    return out


def build():
    """Compiles engine + harness once per source state, then records a
    class-data-sharing archive of one small run. Returns (classpath,
    archive). The project jar is copied to a name keyed by the source hash,
    so a later build of other sources in the same tree (sbt rebuilds its
    jar in place) changes neither what this state runs nor the jar its
    archive was recorded against. A build without its archive fails."""
    h = hashlib.sha256()
    for p in sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    key = h.hexdigest()[:16]
    stamp = os.path.join(BUILD, f"classpath-{key}.txt")
    archive = os.path.join(BUILD, f"classes-{key}.jsa")
    if os.path.exists(stamp):
        with open(stamp) as f:
            return f.read().strip(), archive
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    if "SPARK_HOME" not in env:
        submit = shutil.which("spark-submit")
        if submit:
            env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    log("building engine and harness")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    if r.returncode != 0 or not lines or not lines[-1].endswith(".jar"):
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build failed")
    entries = lines[-1].split(os.pathsep)
    own = [e for e in entries if os.path.basename(e).startswith("graft-perfbench")]
    if len(own) != 1:
        raise SystemExit(f"build failed: no single project jar in {lines[-1][:300]}")
    os.makedirs(BUILD, exist_ok=True)
    jar = os.path.join(BUILD, f"graft-perfbench-{key}.jar")
    shutil.copyfile(own[0], jar)
    classpath = os.pathsep.join(jar if e == own[0] else e for e in entries)
    log("recording the class-data-sharing archive")
    work = os.path.join(BUILD, f"cds-{key}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        generate("medallion", 0, 1, os.path.join(work, "in"), small=True)
        jvm(classpath, ["-XX:ArchiveClassesAtExit=" + archive], 1, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not os.path.exists(archive):
        raise SystemExit("build failed: no class-data-sharing archive")
    with open(stamp, "w") as f:
        f.write(classpath)
    return classpath, archive


def generate(workload, seed, seconds, in_dir, small=False):
    """All inputs of one run, from the seed alone."""
    w = WORKLOADS[workload]
    scale = 10 if small else 1
    gen.medallion(seed, os.path.join(in_dir, "med"), w["events"] // scale,
                  w["customers"] // scale)
    gen.corpus(seed, os.path.join(in_dir, "llm"), w["docs"] // scale)
    gen.stream(seed, os.path.join(in_dir, "stream"), w["backfill_rows"] // scale,
               1 + math.ceil(STREAM_RATE * seconds), w["file_rows"])


def jvm(classpath, flags, trace, work):
    """Runs one engine process over work/in with extra JVM `flags`;
    returns its result."""
    out_file = os.path.join(work, "result.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    # no hsperfdata file, which the JVM would write under /tmp
    cmd = [java, f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData"] + JIT + flags
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")  # native libraries unpack here, not in /tmp
    os.makedirs(tmp, exist_ok=True)
    cmd += [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false", "-cp", classpath, "graftbench.Main",
            "--trace", str(trace), "--in", os.path.join(work, "in"), "--work", work,
            "--out", out_file, "--rate", str(STREAM_RATE)]
    jvm_log = os.path.join(work, "jvm.log")
    with open(jvm_log, "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    with open(jvm_log) as f:
        text = f.read()
    if rc != 0 or not os.path.exists(out_file):
        sys.stderr.write(text[-6000:])
        raise SystemExit(f"engine run failed ({rc})")
    sys.stderr.writelines(ln for ln in text.splitlines(True) if ln.startswith("[perfbench]"))
    with open(out_file) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("engine sources not found: run from the root of a graft checkout")
    classpath, archive = build()

    work = os.path.join(BUILD, f"run-{os.getpid()}-{int(time.time() * 1000)}")
    try:
        return measure(a, classpath, archive, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(a, classpath, archive, work):
    in_dir = os.path.join(work, "in")
    gen_s = []
    for _ in range(SETUPS):
        shutil.rmtree(in_dir, ignore_errors=True)
        t0 = time.perf_counter()
        generate(a.workload, a.seed, a.seconds, in_dir)
        gen_s.append(time.perf_counter() - t0)
    log(f"inputs generated in {statistics.median(gen_s):.2f} s")
    launched = time.time()
    # -Xshare:on: a run whose archive does not map fails instead of
    # silently loading every class from the jars
    res = jvm(classpath, ["-Xshare:on", "-XX:SharedArchiveFile=" + archive], a.trace, work)

    fails = list(res["failures"])
    checks = [
        lambda: check.medallion(res["oracles"]["med"], os.path.join(work, "med", "lake"),
                                os.path.join(in_dir, "med"),
                                os.path.join(work, "check", "med"), res["counts"]),
        lambda: check.llm(res["oracles"]["llm"], os.path.join(work, "llm", "corpus"),
                          os.path.join(work, "check", "llm")),
        lambda: check.stream(os.path.join(in_dir, "stream"),
                             os.path.join(work, "check", "stream", "snapshot")),
    ]

    def run_check(c):
        t0 = time.perf_counter()
        try:
            out = c()
        except Exception as e:  # noqa: BLE001 - a check that cannot run is a failed check
            out = [f"check failed to run: {e}"]
        log(f"check took {time.perf_counter() - t0:.1f} s")
        return out

    # each check opens its own DuckDB connection, so they run side by side
    with concurrent.futures.ThreadPoolExecutor(len(checks)) as pool:
        for out in pool.map(run_check, checks):
            fails += out
    e2e = dict(res["end_to_end"])
    found, light = res["counts"].get("light_dups_found"), res["counts"].get("light_dups")
    if not light or found < MIN_LIGHT_FOUND * light:
        fails.append(f"near-duplicates found: {found} of {light} with Jaccard >= 0.85")
    attempted = res["attempted"] + len(checks) + 1
    e2e["setup_s"] = statistics.median(gen_s) + (res["ready_ms"] / 1000.0 - launched)

    spec = benchmark()["per_layer" if a.trace else "end_to_end"]
    got = res["per_layer"] if a.trace else e2e
    metrics = {m["name"]: {"value": got.get(m["name"]), "unit": m["unit"]} for m in spec}
    for k, m in metrics.items():
        if m["value"] is None:
            fails.append(f"metric {k} not measured")
            m["value"] = 0
    for f in fails:
        log(f"FAILED {f}")
    print(json.dumps({"correct": not fails, "attempted": attempted,
                      "failed": min(len(fails), attempted), "metrics": metrics}))
    return 0


def benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


if __name__ == "__main__":
    sys.exit(main())
