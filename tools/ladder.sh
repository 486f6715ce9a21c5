#!/bin/bash
# Scaling ladder: disk fingerprint, bench rungs, scaled spot checks and
# the full oracle gate. Each step writes a record tagged with <round>
# under /tmp; tools/build_scaling.py <round> assembles them into
# SCALING_<round>.json.
#
# usage: tools/ladder.sh <round> <step> [args]
#   fp                         disk fingerprint over target/scaledata/sf100
#   rung <sfdir>               one graft.Bench run (48g, 2 passes, local[32])
#   sf1 | sf10 | sf100         preset rungs over target/scaledata/<rung>
#   spot sf1 | sf10            Verify + tools/spot_check.py on the
#                              dial-dependent queries of that rung
#   gate <sfdir>               Verify every query + tools/oracle_check.py
#
# Run from a compiled checkout (`sbt compile`). The scaled corpora come
# from ScaleGen, e.g. for sf10:
#   java -cp "target/scala-2.13/classes:$SPARK_HOME/jars/*" \
#     graft.ScaleGen <sf0.1 dir> target/scaledata/sf10 100
#
# Hardening carried from the earlier rounds:
#  - pipefail, a non-empty rung check, and a triage bundle for every
#    discarded rung, whose victim.txt names the last query Bench started
#    (its `[bench] <q> start` stderr marker) before a dead-context
#    cascade.
#  - sf100 posture: the in-suite executor OOM (26 tasks each refusing
#    512MB-1GiB execution pages at 80g/local[32]) is a CONCURRENCY
#    problem, so the rung runs local[16] with SPARK_GRAFT_SHUFFLE=32
#    (per-partition data stays the tested size; only simultaneous
#    residency drops) at a 100g heap.
#  - SPARK_GRAFT_FP_DROP=1: the Bench-embedded fingerprint's read leg
#    measures COLD reads in ladder runs (the page-cache drop is opt-in —
#    a casual bench run must not evict the whole host's cache).
set -euo pipefail
if [ $# -lt 2 ]; then
  sed -n '7,13p' "$0" >&2
  exit 2
fi
ROUND=$1; STEP=$2; shift 2
cd "$(dirname "$0")/.."
if [ -z "${SPARK_HOME:-}" ]; then
  SPARK_HOME=$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")
fi
CP="target/scala-2.13/classes:$SPARK_HOME/jars/*"
JOPTS="--add-exports java.base/sun.nio.ch=ALL-UNNAMED \
 --add-opens java.base/java.nio=ALL-UNNAMED \
 --add-opens java.base/java.util=ALL-UNNAMED \
 --add-opens java.base/java.lang=ALL-UNNAMED \
 --add-opens java.base/java.lang.invoke=ALL-UNNAMED \
 --add-opens java.base/sun.util.calendar=ALL-UNNAMED \
 --add-opens java.base/java.util.concurrent=ALL-UNNAMED \
 --add-opens java.base/sun.security.action=ALL-UNNAMED"

# the dial-dependent / lineage queries each spot rung covers (the
# EXPECTED_SPOTS of tools/build_scaling.py)
SF1_SPOTS="q_knn_join q_knn_join_mp q_knn_filtered q_knn_filtered_part \
 q_knn_incr q_knn_stream q_knn_part_incr q_ledger_binpack q_ledger_constraints"
SF10_SPOTS="q_knn_filtered_part q_knn_stream q_knn_part_incr"

fingerprint() {
  sync; echo 3 > /proc/sys/vm/drop_caches || true
  t0=$(date +%s.%N)
  cat target/scaledata/sf100/lineitem.parquet/*.parquet > /dev/null
  t1=$(date +%s.%N)
  sz=$(du -sb target/scaledata/sf100/lineitem.parquet | cut -f1)
  cold=$(python3 -c "print(round($sz/1e6/($t1-$t0),1))")
  t2=$(date +%s.%N)
  cat target/scaledata/sf100/lineitem.parquet/*.parquet > /dev/null
  t3=$(date +%s.%N)
  warm=$(python3 -c "print(round($t3-$t2,2))")
  dd if=/dev/zero of=/tmp/ddtest bs=1M count=2048 conv=fdatasync 2> /tmp/ddout
  rm -f /tmp/ddtest
  wr=$(python3 -c "
import re
s=open('/tmp/ddout').read()
m=re.search(r'([\d.]+) (GB|MB)/s', s)
v=float(m.group(1)); print(round(v*1000 if m.group(2)=='GB' else v,1))")
  python3 -c "
import json
json.dump({'cold_read_mb_s': $cold, 'warm_reread_s': $warm,
           'write_mb_s_2gib_fdatasync': $wr},
          open('/tmp/disk_fingerprint_$ROUND.json','w'), indent=1)
print(open('/tmp/disk_fingerprint_$ROUND.json').read())"
}

discard_bundle() { # rung-name stderr-file out-file
  ts=$(date +%s)
  d="/tmp/ladder_${ROUND}_discarded/$1-$ts"
  mkdir -p "$d"
  cp -f "$2" "$d/stderr.log" 2>/dev/null || true
  cp -f "$3" "$d/partial.json" 2>/dev/null || true
  { df -h . /tmp; free -m; ls -la target/ | head -30; } > "$d/host_state.txt" 2>&1 || true
  grep -m 40 -E 'Exception|Error|FAILURES' "$2" > "$d/first_errors.txt" 2>/dev/null || true
  # the victim: the last query the bench STARTED before stderr went bad
  # (first_errors alone can't name it: map iteration order != suite order)
  grep '\[bench\]' "$2" 2>/dev/null | tail -1 > "$d/victim.txt" || true
  echo "DISCARDED rung $1 -> triage bundle at $d" >&2
}

rung() { # sfdir [heap passes cpus shuffle]
  local sf=$1 heap=${2:-48g} passes=${3:-2} cpus=${4:-32} shuffle=${5:-32}
  name=$(basename "$sf" | tr -d .)
  out="/tmp/bench_${name}_$ROUND.json"
  err="/tmp/bench_${name}_$ROUND.stderr"
  echo "=== rung $sf start $(date +%T) (heap=$heap passes=$passes cpus=$cpus shuffle=$shuffle)"
  # capture ALL metric lines (Bench prints the record twice), then take
  # the first — `grep | head -1` under pipefail would SIGPIPE the
  # producer when head exits early and read success as failure
  if ! SPARK_GRAFT_SF_DIR="$sf" SPARK_GRAFT_BENCH_PASSES="$passes" \
      SPARK_GRAFT_CPUS="$cpus" SPARK_GRAFT_SHUFFLE="$shuffle" SPARK_GRAFT_FP_DROP=1 \
      java -Xmx"$heap" $JOPTS -cp "$CP" graft.Bench 2>"$err" \
      | grep '"metric"' > "$out.all"; then
    discard_bundle "$name" "$err" "$out.all"
    echo "rung $sf FAILED (nonzero Bench exit or no metric line)" >&2
    exit 1
  fi
  head -1 "$out.all" > "$out"
  if ! [ -s "$out" ]; then
    discard_bundle "$name" "$err" "$out"
    echo "rung $sf FAILED (empty output)" >&2
    exit 1
  fi
  echo "=== rung $sf done $(date +%T)"
  python3 -c "
import json; d=json.load(open('$out'))
print('total', d['value'], 'n', len(d['queries']), 'failed', d.get('n_failed'), 'fp', d.get('fp'))"
}

spot() { # sfdir outdir queries...
  sf="$1"; out="$2"; shift 2
  echo "=== spot $sf start $(date +%T)"
  SPARK_GRAFT_CPUS=16 java -Xmx40g $JOPTS -cp "$CP" graft.Verify "$sf" "$out" "$@" \
    2> "/tmp/spot_$(basename "$out").stderr"
  python3 tools/spot_check.py "$sf" "$out" "$@"
  echo "=== spot $sf done $(date +%T)"
}

gate() { # sfdir: Verify everything, DuckDB-compare everything
  SPARK_GRAFT_CPUS=16 java -Xmx40g $JOPTS -cp "$CP" graft.Verify \
    "$1" "/tmp/verify_${ROUND}_gate" 2> "/tmp/gate_$ROUND.stderr"
  python3 tools/oracle_check.py "$1" "/tmp/verify_${ROUND}_gate" \
    | tee "/tmp/gate_$ROUND.out"
  python3 - "$1" "$ROUND" <<'EOF'
import json, os, re, sys
sf, rnd = sys.argv[1], sys.argv[2]
txt = open(f"/tmp/gate_{rnd}.out").read()
m = re.search(r"(\d+) pass, (\d+) fail", txt)
json.dump({"pass": int(m.group(1)), "fail": int(m.group(2)),
           "scale": os.path.basename(sf.rstrip("/"))},
          open(f"/tmp/gate_full_{rnd}.json", "w"))
print(open(f"/tmp/gate_full_{rnd}.json").read())
EOF
}

case "$STEP" in
  fp)    fingerprint ;;
  rung)  rung "${1:?rung takes <sfdir>}" ;;
  sf1)   rung target/scaledata/sf1 ;;
  sf10)  rung target/scaledata/sf10 ;;
  sf100) rm -rf target/graft_* spark-warehouse /tmp/blockmgr-* /tmp/spark-*
         rung target/scaledata/sf100 100g 1 16 32 ;;
  spot)
    case "${1:-}" in
      sf1)  spot target/scaledata/sf1 "/tmp/verify_${ROUND}_sf1" $SF1_SPOTS ;;
      sf10) spot target/scaledata/sf10 "/tmp/verify_${ROUND}_sf10" $SF10_SPOTS ;;
      *) echo "spot takes sf1 or sf10" >&2; exit 2 ;;
    esac ;;
  gate)  gate "${1:?gate takes <sfdir>}" ;;
  *) echo "unknown step: $STEP" >&2; exit 2 ;;
esac
