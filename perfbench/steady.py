#!/usr/bin/env python3
"""Repeat one workload N times, each with another seed, and print every
metric's median, quartiles, min/max and spread (quartile distance as a share
of the median) -- the evidence for the bounds in BENCHMARK.json.

    python3 perfbench/steady.py --workload dashboard --runs 10 --out A.json
    python3 perfbench/steady.py --workload dashboard --runs 10 --seed-base 200 \\
        --compare A.json          # a second set, and how far its medians moved
    python3 perfbench/steady.py --workload dashboard,lambda_live,query_sweep \\
        --runs 10 --out 'perfbench/results/{workload}-steady.json'  # interleaved
    python3 perfbench/steady.py --workload lambda_live --runs 1 --cores 1 \\
        --out perfbench/results/lambda_live-local1.json   # single-thread baseline

The window defaults to BENCHMARK.json's run_seconds. Metrics are the
end-to-end ones (or the per-layer ones with --trace 1). With --trace 1 and
--untraced FILE (an --out file of untraced runs), it also prints the tracing
overhead: the end-to-end metrics measured during the traced runs against the
untraced medians. --compare FILE prints each median's change against the
set in FILE, next to the metric's bound. With several workloads, each seed
runs them in turn, so a period of a slower machine falls on all of them.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def artifact_path(workload, seed, trace):
    return os.path.join(ROOT, ".bench_build", "steady", f"{workload}-seed{seed}-trace{trace}.json")


def run_once(workload, seed, seconds, trace, cores):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
           "--artifact", artifact_path(workload, seed, trace)]
    if cores:
        cmd += ["--cores", str(cores)]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    if r.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed}: exit {r.returncode}")
    return json.loads(lines[-1])


def summarize(values):
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = values[0]
    return {"median": med, "q1": q1, "q3": q3, "min": min(values),
            "max": max(values), "spread": (q3 - q1) / med if med else None,
            "values": values}


def report(w, results, a, out, untraced, compare_file):
    names = list(results[0]["metrics"])
    summary = {n: summarize([r["metrics"][n]["value"] for r in results]) for n in names}
    print(f"{w}: {a.runs} runs, {a.seconds} s each"
          + (f", local[{a.cores}]" if a.cores else "")
          + f", failed ops {sum(r['failed'] for r in results)}"
          + f" of {sum(r['attempted'] for r in results)}")
    print(f"{'metric':34s} {'median':>12s} {'q1':>12s} {'q3':>12s} "
          f"{'min':>12s} {'max':>12s} {'spread':>8s}")
    for n, s in summary.items():
        spread = "-" if s["spread"] is None else f"{s['spread']:.3f}"
        print(f"{n:34s} {s['median']:12.4g} {s['q1']:12.4g} {s['q3']:12.4g} "
              f"{s['min']:12.4g} {s['max']:12.4g} {spread:>8s}")
    overhead = None
    if a.trace and untraced:
        base = json.load(open(untraced))["metrics"]
        arts = [json.load(open(artifact_path(w, a.seed_base + i, 1)))["e2e"]
                for i in range(a.runs)]
        traced = {n: statistics.median([e[n] for e in arts]) for n in base if n in arts[0]}
        overhead = {n: {"traced": traced[n], "untraced": base[n]["median"],
                        "change": traced[n] / base[n]["median"] - 1} for n in traced}
        print("tracing overhead (traced-run end-to-end median vs untraced median):")
        for n, o in overhead.items():
            print(f"  {n:32s} {o['untraced']:12.4g} -> {o['traced']:12.4g}  {o['change']:+.1%}")
    compare = None
    if compare_file:
        before = json.load(open(compare_file))["metrics"]
        bounds = {m["name"]: m.get("bound") for m in SPEC["end_to_end"]}
        compare = {n: summary[n]["median"] / before[n]["median"] - 1
                   for n in summary if n in before}
        print(f"medians against {compare_file}:")
        for n, ch in compare.items():
            bound = f"bound {bounds[n]}" if bounds.get(n) is not None else ""
            print(f"  {n:32s} {before[n]['median']:12.4g} -> {summary[n]['median']:12.4g}"
                  f"  {ch:+.1%}  {bound}")
    if out:
        os.makedirs(os.path.dirname(os.path.abspath(out)), exist_ok=True)
        with open(out, "w") as fh:
            json.dump({"workload": w, "runs": a.runs, "seconds": a.seconds,
                       "cores": a.cores, "trace": a.trace,
                       "seeds": [a.seed_base + i for i in range(a.runs)],
                       "failed": sum(r["failed"] for r in results),
                       "attempted": sum(r["attempted"] for r in results),
                       "metrics": summary, "tracing_overhead": overhead,
                       "compared_with": compare_file and os.path.basename(compare_file),
                       "median_change": compare}, fh, indent=1)
            fh.write("\n")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    help="a workload, or several separated by commas, run interleaved seed by seed")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=SPEC["run_seconds"])
    ap.add_argument("--seed-base", type=int, default=100)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--cores", type=int)
    ap.add_argument("--out", help="summary file; {workload} in it is replaced by each workload")
    ap.add_argument("--untraced", help="--out file of untraced runs, for the tracing overhead")
    ap.add_argument("--compare", help="--out file of an earlier set of the same workload")
    a = ap.parse_args()
    workloads = a.workload.split(",")
    results = {w: [] for w in workloads}
    for i in range(a.runs):
        seed = a.seed_base + i
        for w in workloads:
            r = run_once(w, seed, a.seconds, a.trace, a.cores)
            results[w].append(r)
            print(f"{w} seed {seed}: correct={r['correct']} attempted={r['attempted']} "
                  f"failed={r['failed']} " + " ".join(
                      f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                  file=sys.stderr, flush=True)
    for w in workloads:
        def path(p):
            return p and p.replace("{workload}", w)
        report(w, results[w], a, path(a.out), path(a.untraced), path(a.compare))


if __name__ == "__main__":
    main()
