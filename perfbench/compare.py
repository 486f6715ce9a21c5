#!/usr/bin/env python3
"""Compare two sets of benchmark runs (parent and change).

    python3 perfbench/compare.py <parent_records_dir> <change_records_dir>

Each directory holds run records as run.py writes them
(.bench_build/records/<workload>-seed<n>-trace<t>.json). Untraced runs
are paired by seed order; for every end-to-end metric of BENCHMARK.json
the pair rule (stats.pair_verdict) decides gain / same / regression /
unresolved against the metric's bound. One row per
workload; traced runs, when present, give the tracing overhead.
"""

import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402
import workloads  # noqa: E402


def load(d):
    """{workload: {"runs": [summary...], "traced": [trace.wall_s...]}} by seed."""
    out = {}
    for p in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(p) as f:
            r = json.load(f)
        h = r["header"]
        w = out.setdefault(h["workload"], {"runs": [], "traced": []})
        if h["trace"]:
            w["traced"].append((h["seed"], r["layers"]["trace.wall_s"]))
        else:
            w["runs"].append((h["seed"], r["summary"]))
    for w in out.values():
        w["runs"] = [s for _, s in sorted(w["runs"], key=lambda x: x[0])]
        w["traced"] = [v for _, v in sorted(w["traced"])]
    return out


def compare(parent, change, metrics):
    rows = []
    for wl in sorted(set(parent) & set(change)):
        p, c = parent[wl], change[wl]
        cells = {}
        for m in metrics:
            pv = [s[m["name"]] for s in p["runs"] if m["name"] in s]
            cv = [s[m["name"]] for s in c["runs"] if m["name"] in s]
            if len(pv) < 2 or len(cv) < 2:
                cells[m["name"]] = ("missing", {})
                continue
            cells[m["name"]] = stats.pair_verdict(pv, cv, m["better"], m["bound"])
        overhead = {}
        for side, runs in (("parent", p), ("change", c)):
            walls = [s["wall_s"] for s in runs["runs"]]
            if runs["traced"] and walls:
                overhead[side] = stats.median(runs["traced"]) / stats.median(walls) - 1
        rows.append((wl, cells, overhead))
    return rows


def main(argv):
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    metrics = workloads.benchmark()["end_to_end"]
    rows = compare(load(argv[0]), load(argv[1]), metrics)
    for wl, cells, overhead in rows:
        parts = []
        for name, (verdict, d) in cells.items():
            if d:
                parts.append(f"{name}={verdict} ({d['parent_median']:.4g} -> {d['change_median']:.4g}, "
                             f"wins {d['change_wins']}/{d['pairs']})")
            else:
                parts.append(f"{name}={verdict}")
        if overhead:
            parts.append("trace_overhead " + ", ".join(f"{k}={v:+.1%}" for k, v in overhead.items()))
        print(f"{wl}: " + "; ".join(parts))
    return 1 if any(v == "regression" for _, cells, _ in rows for v, _ in cells.values()) else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
