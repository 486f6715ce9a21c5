#!/usr/bin/env python3
"""One-off: record the expected output checksum of every query the read
workloads run, per corpus, validated against the DuckDB oracle.

    python3 perfbench/validate.py

Run from the root of a checkout. For each corpus, the harness runs each
query once, records its checksum and writes its output as parquet with
the query's oracle SQL (SparkEntry.oracleSql); tools/oracle_check.py then
compares every output with DuckDB under its normalization. The result
goes to perfbench/expected/<corpus>.json. A query that fails the oracle
keeps its checksum but is marked, and every run lists it in its record
("oracle_failed") -- it is never silently accepted.
"""

import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
import workloads  # noqa: E402


def oracle_verdicts(corpus_dir, dump, queries):
    p = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "oracle_check.py"),
                        corpus_dir, dump] + queries, capture_output=True, text=True, timeout=1800)
    verdicts = {q: ("no-oracle", "") for q in queries}
    for line in p.stdout.splitlines():
        m = re.match(r"(PASS|FAIL) (\w+)[: ]?(.*)", line)
        if m:
            verdicts[m.group(2)] = (m.group(1).lower(), m.group(3).strip())
    return verdicts


def main():
    classpath, digest = run.build()
    by_corpus = {}
    for spec in workloads.WORKLOADS.values():
        if spec["mode"] == "queries":
            by_corpus.setdefault(spec["corpus"], set()).update(spec["ops"])
    bad = 0
    for corpus, qs in sorted(by_corpus.items()):
        qs = sorted(qs)
        corpus_dir = run.corpus_dir(classpath, corpus)
        dump = os.path.join(run.BUILD, "validate", corpus)
        os.makedirs(dump, exist_ok=True)
        raw = run.jvm(classpath, {"mode": "validate", "cores": run.cores(), "corpus": corpus_dir,
                                  "dump": dump, "ops": qs}, f"validate-{corpus}")
        verdicts = oracle_verdicts(corpus_dir, dump, qs)
        out = {"corpus_rows": run._counts(corpus_dir), "source_digest": digest, "queries": {}}
        for q in qs:
            r = raw["queries"][q]
            if "error" in r:
                print(f"{corpus} {q}: error {r['error']}")
                bad += 1
                continue
            v, detail = verdicts[q]
            out["queries"][q] = {"rows": r["rows"], "sum": r["sum"], "oracle": v}
            if v != "pass":
                out["queries"][q]["oracle_detail"] = detail
                bad += 1
            print(f"{corpus} {q}: rows={r['rows']} oracle={v} {detail}")
        with open(os.path.join(HERE, "expected", f"{corpus}.json"), "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
            f.write("\n")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
