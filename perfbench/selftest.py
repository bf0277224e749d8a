#!/usr/bin/env python3
"""Self-tests of the benchmark itself (about eight minutes):

  1. a smoke-size run of each workload reports zero failed operations;
  2. the metric names and units each workload prints equal BENCHMARK.json's
     end_to_end (untraced) and per_layer (traced) lists;
  3. with the expected outputs corrupted (--corrupt 1), each workload
     reports failed operations;
  4. in a directory holding only BENCHMARK.json and the bench's files, the
     bench exits non-zero without printing a result.

    python3 perfbench/selftest.py
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
SMOKE_S = 6
failures = []


def run(workload, trace=0, corrupt=0, cwd=ROOT):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "5", "--seconds", str(SMOKE_S), "--trace", str(trace),
           "--corrupt", str(corrupt)]
    r = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=900)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    return r.returncode, (json.loads(lines[-1]) if r.returncode == 0 and lines else None)


def check(ok, what):
    print(("ok    " if ok else "FAIL  ") + what, flush=True)
    if not ok:
        failures.append(what)


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    for w in [x["name"] for x in spec["workloads"]]:
        code, res = run(w)
        check(code == 0 and res is not None, f"{w}: smoke run exits 0 with a result")
        if res:
            check(res["failed"] == 0 and res["correct"] and res["attempted"] > 0,
                  f"{w}: smoke run has no failed operations "
                  f"({res['failed']} of {res['attempted']})")
            check({k: v["unit"] for k, v in res["metrics"].items()} == e2e,
                  f"{w}: untraced metric names and units equal end_to_end")
        code, res = run(w, corrupt=1)
        check(code == 0 and res is not None and res["failed"] > 0 and not res["correct"],
              f"{w}: corrupted expectations are reported as failures"
              + (f" ({res['failed']} of {res['attempted']})" if res else ""))
        code, res = run(w, trace=1)
        check(code == 0 and res is not None and
              {k: v["unit"] for k, v in res["metrics"].items()} == layers,
              f"{w}: traced metric names and units equal per_layer")
    bare = tempfile.mkdtemp(prefix="perfbench-bare-", dir=os.path.join(ROOT, ".bench_build"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("target", "__pycache__"))
        code, res = run(spec["workloads"][0]["name"], cwd=bare)
        check(code != 0 and res is None, "without the engine sources the bench exits non-zero")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("selftest: " + ("all passed" if not failures else f"{len(failures)} failed"))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
