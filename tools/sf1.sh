#!/bin/bash
# The full-suite sf1 correctness record: SfScale the driver sf0.1 10x into
# /tmp/sf1 (once; the marker file keeps it across runs), Verify every
# registered query there, Bench the same corpus, then compare every oracle
# in DuckDB with CTE materialization (tools/sf1_record.py) into
# CORRECTNESS_SF1.json, and write the full Bench file as BENCH_SF1.json.
# Skipped: the four text quadratic shapes (q32/q38/q66/q77), whose oracles
# are intractable in single-node DuckDB at this volume; each has a committed
# above-sf0.1 point of its own shape family (q38/q66 at 3x,
# CORRECTNESS_3X_R17.json). The embedding all-pairs oracles (q26/q72) run:
# ~50 s each at 10x (CORRECTNESS_3X_R18.json).
#
# Usage: tools/sf1.sh <tag>     e.g. tools/sf1.sh r20 (names the /tmp logs)
set -uo pipefail
cd "$(dirname "$0")/.."
TAG="${1:-}"
[[ "$TAG" =~ ^r[0-9]+$ ]] || { echo "usage: tools/sf1.sh r<N>" >&2; exit 2; }
log() { echo "[${TAG}sf1 $(date +%H:%M:%S)] $*"; }

SKIP="q32_ngram_jaccard,q38_ngram_jaccard_capped,q66_ngram_containment,q77_containment_capped"

if [ ! -f /tmp/sf1/_GRAFT_SFSCALE_DONE ]; then
  log "SfScale 10x"
  rm -rf /tmp/sf1
  SPARK_DRIVER_MEM=24g tools/runmain.sh graft.SfScale /root/testdata/sf0.1 /tmp/sf1 10 \
    > /tmp/sfscale_${TAG}sf1.log 2>&1 || { log "SfScale FAILED"; exit 1; }
  touch /tmp/sf1/_GRAFT_SFSCALE_DONE
else
  log "SfScale 10x already done (marker present)"
fi

log "verify FULL suite at sf1"
rm -rf /tmp/verify_sf1_${TAG}
SPARK_DRIVER_MEM=24g tools/runmain.sh graft.Verify /tmp/sf1 /tmp/verify_sf1_${TAG} \
  > /tmp/verify_sf1_${TAG}.log 2>&1 || log "verify exited nonzero (errors.json records per-query failures)"

log "bench on the same corpus (the record's bench note)"
BENCH_OUT=/tmp/bench_sf1_full_${TAG}.json
SPARK_GRAFT_SF_DIR=/tmp/sf1 SPARK_DRIVER_MEM=24g \
  SPARK_GRAFT_BENCH_OUT=$BENCH_OUT \
  tools/runmain.sh graft.Bench > /tmp/bench_sf1_${TAG}.log 2>&1 || log "bench FAILED"
BLINE=$(python3 -c "
import json
d=json.load(open('$BENCH_OUT'))
q=d.get('queries',{})
print(f\"see BENCH_SF1.json ({d['value']}s / {len(q)} queries / {sum(1 for v in q.values() if v<0)} failures / local[{d.get('cpus','?')}])\")")

log "compare + assemble record (ORACLE_MATERIALIZE=1, bounded DuckDB)"
ORACLE_MATERIALIZE=1 DUCKDB_MEM=60GB DUCKDB_TMP=/tmp/duckspill_sf1 \
  python3 tools/sf1_record.py /tmp/sf1 /tmp/verify_sf1_${TAG} \
  "$SKIP" "$BLINE" CORRECTNESS_SF1.json > /tmp/sf1_record_${TAG}.log 2>&1
rc=$?
tail -3 /tmp/sf1_record_${TAG}.log
python3 - "$BENCH_OUT" <<'PY'
import json, sys
d = json.load(open(sys.argv[1]))
d["corpus"] = "deterministic 10x SfScale of driver sf0.1"
json.dump(d, open('BENCH_SF1.json', 'w'), indent=1)
print("wrote BENCH_SF1.json (the full-name, full-precision Bench file)")
PY
log "ALL DONE rc=$rc"
exit $rc
