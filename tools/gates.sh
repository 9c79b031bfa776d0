#!/bin/bash
# The gate chain, one JSON line per gate in GATES_<tag>.json, each line
# committed as it lands (tools/gate_append.sh):
#  - sbt_test: the full test suite;
#  - sf001: full sf0.01 Verify + DuckDB compare, which also writes the
#    per-query records CORRECTNESS_<TAG>_LOCAL.jsonl and the driver-shaped
#    CORRECTNESS_LOCAL_<tag>.json (rows/schema/hash match per query);
#  - fuzz42, fuzz43, hot_skew: Verify + compare on the generated corpora;
#  - claims: tools/claims_gate.py over the test log;
#  - bench_sf01: the sf0.1 Bench (3-rep medians) into BENCH.json.
# A failed Verify records the failure and skips that corpus's compare, so
# each gate has exactly one line.
#
# Usage: tools/gates.sh <tag>     e.g. tools/gates.sh r20
set -uo pipefail
cd "$(dirname "$0")/.."
TAG="${1:-}"
[[ "$TAG" =~ ^r[0-9]+$ ]] || { echo "usage: tools/gates.sh r<N>" >&2; exit 2; }
N="${TAG#r}"
UP="${TAG^^}"
G=GATES_${TAG}.json
log() { echo "[${TAG}gates $(date +%H:%M:%S)] $*"; }
gate() { tools/gate_append.sh "$G" "$@"; }

log "full sbt test"
sbt -batch test > /tmp/sbt_test_${TAG}_final.log 2>&1
TESTLINE=$(grep -E "Tests:" /tmp/sbt_test_${TAG}_final.log | tail -1 | sed 's/^\[info\] *//')
gate sbt_test "${TESTLINE:-NO Tests: line found (run died - see /tmp/sbt_test_${TAG}_final.log)}"

# corpus gates: (name, data dir)
run_corpus() {
  local name="$1" dir="$2"
  rm -rf "/tmp/verify_$name"
  if ! tools/runmain.sh graft.Verify "$dir" "/tmp/verify_$name" \
      > "/tmp/verify_$name.log" 2>&1; then
    gate "$name" "VERIFY FAILED (nonzero exit) - compare skipped"
    return 1
  fi
  if [ "$name" = "sf001" ]; then
    COMPARE_JSON=CORRECTNESS_${UP}_LOCAL.jsonl DRIVER_JSON=CORRECTNESS_LOCAL_${TAG}.json \
      python3 tools/compare.py "$dir" "/tmp/verify_$name" \
      > "/tmp/compare_$name.log" 2>&1
    git add CORRECTNESS_${UP}_LOCAL.jsonl CORRECTNESS_LOCAL_${TAG}.json
    git commit -q -m "Round-${N} per-query correctness records (sf0.01 full suite, jsonl + driver shape)" \
      -- CORRECTNESS_${UP}_LOCAL.jsonl CORRECTNESS_LOCAL_${TAG}.json || true
  else
    python3 tools/compare.py "$dir" "/tmp/verify_$name" \
      > "/tmp/compare_$name.log" 2>&1
  fi
  gate "$name" "$(tail -1 /tmp/compare_$name.log)"
}

log "full verify sf0.01"
run_corpus sf001 /root/testdata/sf0.01 || true

for seed in 42 43; do
  log "fuzz seed $seed"
  python3 tools/fuzzgen.py /tmp/graft-fuzz$seed $seed >> /tmp/fuzz_${TAG}.log 2>&1
  run_corpus fuzz$seed /tmp/graft-fuzz$seed || true
done

log "hot-skew corpus"
python3 tools/hotgen.py /root/testdata/sf0.01 /tmp/graft-hot >> /tmp/fuzz_${TAG}.log 2>&1
run_corpus hot_skew /tmp/graft-hot || true

log "claims gate (over the chain's own logs; bench logs get their own run)"
if python3 tools/claims_gate.py /tmp/sbt_test_${TAG}_final.log > /tmp/claims_${TAG}.log 2>&1; then
  gate claims "$(grep -c PASS /tmp/claims_${TAG}.log) PASS lines over sbt test log, 0 failures"
else
  gate claims "CLAIMS GATE FAILED: $(tail -1 /tmp/claims_${TAG}.log)"
fi

log "bench sf0.1 (3-rep medians -> BENCH.json)"
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  SPARK_GRAFT_BENCH_OUT=BENCH.json SPARK_DRIVER_MEM=16g \
  tools/runmain.sh graft.Bench > /tmp/bench_${TAG}.log 2>&1 || log "bench exited nonzero"
if [ -s BENCH.json ]; then
  BLINE=$(python3 -c "
import json
d=json.load(open('BENCH.json'))
q=d.get('queries',{})
print(f\"{d['value']:.1f}s / {len(q)} queries / {d.get('failed','?')} failures / reps={d.get('reps','?')} medians cpus={d.get('cpus','?')}\")")
  python3 tools/claims_gate.py /tmp/bench_${TAG}.log > /tmp/claims_bench_${TAG}.log 2>&1 \
    && BLINE="$BLINE; claims: $(grep -c PASS /tmp/claims_bench_${TAG}.log) PASS over bench log" \
    || BLINE="$BLINE; CLAIMS FAILED over bench log"
  git add BENCH.json
  git commit -q -m "Round-${N} bench record (sf0.1, 3-rep medians)" -- BENCH.json || true
  gate bench_sf01 "$BLINE"
else
  gate bench_sf01 "BENCH.json missing or empty (run died - see /tmp/bench_${TAG}.log)"
fi

log "ALL DONE"
