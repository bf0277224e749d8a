#!/usr/bin/env python3
"""Benchmark entry point: builds the engine and the bench from the checkout's
sources, runs one workload in a fresh JVM, and prints its result as the last
line of standard output.

    python3 perfbench/run.py --workload dashboard --seed 7 --seconds 8 --trace 0

Workloads: dashboard, lambda_live, query_sweep (see perfbench/README.md).
For query_sweep the runner first generates the corpus from the seed, and
after the run checks every query's result against DuckDB.
Optional: --cores N (Spark local[N], default min(4, nproc)), --artifact PATH
(full JSON artifact; default under .bench_build/artifacts/), --corrupt 1
(perturb the expected outputs, so every checked operation must fail).
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import corpus

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
RUN_TIMEOUT_S = 170
# Spark 4 on JDK 17 needs these when started outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    for top in (ENGINE_SRC, os.path.join(BENCH, "src")):
        for d, _, files in sorted(os.walk(top)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(BENCH, "build.sbt"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile once per source state; returns the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        digest = source_digest()
        if os.path.exists(cp_file) and os.path.exists(stamp) \
                and open(stamp).read() == digest:
            return open(cp_file).read().strip()
        t0 = time.time()
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, text=True, timeout=840)
        lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
        if r.returncode != 0 or not lines or ":" not in lines[-1]:
            sys.stderr.write(r.stdout[-4000:])
            fail("build failed")
        cp = lines[-1].strip()
        with open(cp_file, "w") as fh:
            fh.write(cp)
        with open(stamp, "w") as fh:
            fh.write(digest)
        print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
        return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["dashboard", "lambda_live", "query_sweep"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=min(4, os.cpu_count() or 1))
    ap.add_argument("--corrupt", type=int, choices=[0, 1], default=0)
    ap.add_argument("--artifact")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC, os.getcwd())}")
    cp = build()
    work = os.path.join(BUILD, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    extra = []
    if a.workload == "query_sweep":
        t0 = time.time()
        corpus.generate(os.path.join(work, "data"), a.seed)
        extra = ["--data", os.path.join(work, "data"), "--prep-s", str(time.time() - t0)]
    artifact = a.artifact or os.path.join(
        BUILD, "artifacts", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
              "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--cores", str(a.cores), "--corrupt", str(a.corrupt),
              "--work", work, "--artifact", os.path.abspath(artifact)] + extra)
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"{a.workload} did not finish within {RUN_TIMEOUT_S} s")
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        shutil.rmtree(work, ignore_errors=True)
        fail(f"{a.workload} exited with code {proc.returncode}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line")
    if a.workload == "query_sweep":
        checked, errors = corpus.check(os.path.join(work, "data"),
                                       os.path.join(work, "results"), corrupt=a.corrupt == 1)
        result["attempted"] += checked
        result["failed"] += len(errors)
        result["correct"] = result["failed"] == 0
        for e in errors[:10]:
            print(f"[perfbench] FAILED: {e}", file=sys.stderr)
        with open(artifact) as fh:
            art = json.load(fh)
        art.update(attempted=result["attempted"], failed=result["failed"],
                   errors=art["errors"] + errors[:20], oracle_checked=checked)
        with open(artifact, "w") as fh:
            json.dump(art, fh)
            fh.write("\n")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
