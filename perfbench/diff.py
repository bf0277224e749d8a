#!/usr/bin/env python3
"""Rank the per-layer metrics of two traced artifacts by relative change.

    python3 perfbench/diff.py BEFORE.json AFTER.json [--top 25]

The artifacts are the JSON files a traced run writes (run.py --trace 1
--artifact PATH). Each row names the metric's layer and the end-to-end
metric it is expected to move on the artifact's workload (see README.md).
"""
import argparse
import json

# metric-name prefix -> {workload: end-to-end metrics it should move}
E2E_MAP = [
    ("api.realtime_stats", {"dashboard": "primary_ms"}),
    ("api.chart_data_1m", {"dashboard": "primary_ms"}),
    ("api.historical", {"dashboard": "secondary_ms"}),
    ("api.predict_xgboost", {"dashboard": "secondary_ms"}),
    ("api.", {"dashboard": "primary_ms, secondary_ms"}),
    ("store.", {"dashboard": "primary_ms", "lambda_live": "primary_ms"}),
    ("driver.", {"dashboard": "primary_ms", "lambda_live": "secondary_ms",
                 "query_sweep": "primary_ms"}),
    ("exec.", {"dashboard": "primary_ms, secondary_ms", "lambda_live": "secondary_ms",
               "query_sweep": "secondary_ms"}),
    ("stream.", {"lambda_live": "primary_ms"}),
    ("batch.", {"lambda_live": "secondary_ms"}),
    ("ml.", {"dashboard": "secondary_ms"}),
    ("gen.", {}),
    ("poll.", {}),
]


# the heavy set of query_sweep (QuerySweep.Heavy); every other query is light
HEAVY = ("g3_pagerank_bipartite", "d3_ngram_jaccard_pairs", "v4_bpe_train")


def mapped(metric, workload):
    if metric.startswith("q."):
        if workload != "query_sweep":
            return "none on this workload"
        return "secondary_ms" if metric.split(".")[1] in HEAVY else "primary_ms"
    for prefix, by_workload in E2E_MAP:
        if metric.startswith(prefix):
            return by_workload.get(workload, "none (run validity)" if prefix in
                                   ("gen.", "poll.") else "none on this workload")
    return "unmapped"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("before")
    ap.add_argument("after")
    ap.add_argument("--top", type=int, default=0, help="show only the N largest changes")
    a = ap.parse_args()
    b, c = json.load(open(a.before)), json.load(open(a.after))
    if b["workload"] != c["workload"]:
        raise SystemExit(f"different workloads: {b['workload']} vs {c['workload']}")
    workload = b["workload"]
    rows = []
    for m in sorted(set(b["layers"]) | set(c["layers"])):
        x, y = b["layers"].get(m), c["layers"].get(m)
        if x is None or y is None:
            rows.append((float("inf"), m, x, y))
            continue
        if x == y:
            rel = 0.0
        elif x == 0:
            rel = float("inf")
        else:
            rel = (y - x) / abs(x)
        rows.append((rel, m, x, y))
    rows.sort(key=lambda r: -abs(r[0]))
    if a.top:
        rows = rows[:a.top]
    print(f"workload {workload}: {a.before} -> {a.after}")
    print(f"{'metric':34s} {'layer':7s} {'before':>12s} {'after':>12s} "
          f"{'change':>8s}  moves")
    for rel, m, x, y in rows:
        ch = "new" if rel == float("inf") else f"{rel:+.1%}"
        fx = "-" if x is None else f"{x:.4g}"
        fy = "-" if y is None else f"{y:.4g}"
        print(f"{m:34s} {m.split('.')[0]:7s} {fx:>12s} {fy:>12s} {ch:>8s}  "
              f"{mapped(m, workload)}")
    for side, art in (("before", b), ("after", c)):
        e = art.get("e2e", {})
        if e:
            print(f"{side} e2e (traced): " + ", ".join(f"{k}={v:.4g}" for k, v in sorted(e.items())))


if __name__ == "__main__":
    main()
