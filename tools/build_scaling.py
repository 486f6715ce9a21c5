#!/usr/bin/env python3
"""Assemble SCALING_<round>.json from one round's ladder records (dev
tool; run after `tools/ladder.sh <round> ...` has written the disk
fingerprint, the rung bench JSONs, the spot-check verdicts and the
full-gate record, plus any steady-probe files for flagged movers).

Usage:
  python3 tools/build_scaling.py <round> \\
      --baseline sf10=<bench json> --baseline sf100=<json>[:<key>]

<round> is the tag the ladder steps were run with (e.g. r15). Each
--baseline names the earlier record a rung's movers are measured
against; <key> is the per-query map inside it (default "queries", e.g.
"queries_sf100" for an older SCALING record).

HARD RULES:
 1. A rung containing ANY failed query (-1 in the per-query map, or a
    nonempty `failed` list) REFUSES to assemble.
 2. MOVER AUTO-FLAGGING at sf10 AND sf100: every query whose wall moved
    >2.5x vs the rung's baseline — whatever its absolute wall — must
    have a steady-probe row in /tmp/probe_<rung>_movers_<round>.txt
    (`PROBE <query> <dir> first=<s> second=<s>` lines), or the builder
    refuses. A present rung without a baseline refuses too.
 3. Spot-check verdicts are INGESTED from the machine-readable
    spot_results.json files tools/spot_check.py emits AND the expected
    per-rung query set must be COVERED: a missing file, a missing
    verdict, or a FAIL all refuse assembly.
 4. Discarded rungs are NAMED: every triage bundle under
    /tmp/ladder_<round>_discarded/ is listed in the artifact.
"""
import argparse
import glob
import json
import os
import re
import sys

MOVER_RATIO = 2.5
MOVER_RUNGS = ("sf10", "sf100")

# the dial-dependent / lineage queries every rung's spot check must
# cover (tools/ladder.sh's SF1_SPOTS/SF10_SPOTS). q_knn_routed and
# q_knn_routed_range are fixture-backed — their oracles are
# scale-independent and run in the sf0.01 oracle gate; no spot row needed.
EXPECTED_SPOTS = {
    "sf1": ["q_knn_join", "q_knn_join_mp", "q_knn_filtered",
            "q_knn_filtered_part", "q_knn_incr", "q_knn_stream",
            "q_knn_part_incr", "q_ledger_binpack", "q_ledger_constraints"],
    "sf10": ["q_knn_filtered_part", "q_knn_stream", "q_knn_part_incr"],
}


def parse_args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("round", help="round tag the ladder steps used, e.g. r15")
    ap.add_argument("--baseline", action="append", default=[],
                    metavar="RUNG=PATH[:KEY]",
                    help="mover baseline for sf10 or sf100")
    args = ap.parse_args()
    baselines = {}
    for b in args.baseline:
        rung, _, spec = b.partition("=")
        path, _, key = spec.partition(":")
        if rung not in MOVER_RUNGS or not path:
            ap.error(f"--baseline wants sf10=PATH[:KEY] or sf100=PATH[:KEY], got {b}")
        baselines[rung] = (path, key or "queries")
    return args.round, baselines


def read_probes(path):
    """Steady probes: `PROBE <query> <dir> first=<s> second=<s>` lines."""
    probes = {}
    if os.path.exists(path):
        for line in open(path):
            m = re.match(r"PROBE (\S+) (\S+) first=([\d.]+) second=([\d.]+)",
                         line)
            if m:
                probes[m.group(1)] = {
                    "dir": m.group(2), "first_s": float(m.group(3)),
                    "steady_s": float(m.group(4))}
    return probes


def main():
    rnd, baselines = parse_args()
    out = {"round": rnd}
    failures = []

    # disk fingerprint (measured before attributing any wall move)
    fp_path = f"/tmp/disk_fingerprint_{rnd}.json"
    if os.path.exists(fp_path):
        out["disk_fingerprint"] = json.load(open(fp_path))
    else:
        failures.append(f"missing disk fingerprint {fp_path}")

    # ladder bench JSONs (full in-suite runs, all declared queries)
    for sf in ("sf0.1", "sf1", "sf10", "sf100"):
        key = sf.replace(".", "")
        path = f"/tmp/bench_{key}_{rnd}.json"
        if not os.path.exists(path):
            failures.append(f"{sf}: missing rung {path}")
            continue
        d = json.load(open(path))
        bad = sorted([q for q, v in d["queries"].items() if v < 0])
        if d.get("failed") or d.get("n_failed", 0) or bad:
            failures.append(f"{sf}: failed={d.get('failed', bad)}")
            continue
        out[f"{key}_total_sec"] = d["value"]
        out[f"n_queries_{key}"] = len(d["queries"])
        out[f"n_failed_{key}"] = d.get("n_failed", 0)
        out[f"queries_{key}"] = d["queries"]
        if d.get("fp"):
            out[f"bench_fp_{key}"] = d["fp"]

    # mover auto-flag: ratio > 2.5x at ANY wall vs the rung's baseline;
    # every flagged query must have a steady-probe row or we refuse
    for rung in MOVER_RUNGS:
        if f"queries_{rung}" not in out:
            continue
        if rung not in baselines:
            failures.append(f"{rung}: no --baseline given for the mover check")
            continue
        bpath, bkey = baselines[rung]
        if not os.path.exists(bpath):
            failures.append(f"{rung}: mover baseline {bpath} missing")
            continue
        prev = json.load(open(bpath)).get(bkey, {})
        cur = out[f"queries_{rung}"]
        probes = read_probes(f"/tmp/probe_{rung}_movers_{rnd}.txt")
        if probes:
            out[f"{rung}_mover_steady"] = probes
        flagged = sorted(
            q for q, v in cur.items()
            if q in prev and prev[q] > 0 and v / prev[q] > MOVER_RATIO)
        out[f"{rung}_movers_flagged"] = {
            q: {"baseline_s": prev[q], "now_s": cur[q], "baseline": bpath,
                "ratio": round(cur[q] / prev[q], 2)} for q in flagged}
        unprobed = [q for q in flagged if q not in probes]
        if unprobed:
            failures.append(
                f"{rung} movers flagged (> {MOVER_RATIO}x vs {bpath}) but "
                f"NOT steady-probed: {unprobed}")

    # machine-readable spot-check verdicts — REQUIRED coverage per rung
    spots = {}
    found_tags = {}
    for path in sorted(glob.glob(f"/tmp/verify_{rnd}_sf*/spot_results.json")):
        d = json.load(open(path))
        tag = d["sf_dir"].rstrip("/").split("/")[-1]
        found_tags[tag] = d["results"]
        for q, v in d["results"].items():
            spots[f"{q}_{tag}"] = v
            if not v["pass"]:
                failures.append(f"spot-check FAIL: {q} at {d['sf_dir']}")
    for tag, expected in EXPECTED_SPOTS.items():
        got = found_tags.get(tag)
        if got is None:
            failures.append(f"spot-check rung {tag}: spot_results.json MISSING "
                            f"(expected verdicts for {expected})")
            continue
        missing = [q for q in expected if q not in got]
        if missing:
            failures.append(f"spot-check rung {tag}: missing verdicts {missing}")
    if spots:
        out["spot"] = spots

    # discarded rungs leave named triage bundles
    bundles = sorted(glob.glob(f"/tmp/ladder_{rnd}_discarded/*"))
    out["discarded_runs"] = [os.path.basename(b) for b in bundles]

    # full-gate record (tools/ladder.sh <round> gate <sfdir>)
    gate_path = f"/tmp/gate_full_{rnd}.json"
    if os.path.exists(gate_path):
        g = json.load(open(gate_path))
        out["gate_full"] = g
        if g.get("fail", 1) != 0:
            failures.append(f"full gate has failures: {g}")
    else:
        failures.append(f"missing full-gate record {gate_path}")

    target = f"SCALING_{rnd}.json"
    if failures:
        print(f"REFUSING to assemble {target}:", file=sys.stderr)
        for f in failures:
            print("  " + f, file=sys.stderr)
        sys.exit(1)

    json.dump(out, open(target, "w"), indent=1)
    print(f"{target} written:", list(out.keys()))


if __name__ == "__main__":
    main()
