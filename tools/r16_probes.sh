#!/bin/bash
# Round-16 probe refresh, serial (host-noise policy: one timing-sensitive
# run at a time): media A/B x5 on the restructured MediaIngest (per-kind
# fetch pinning + audio branch — digests must stay bit-identical), the
# 50x headline decade and the 10x full ScaleProbe (carry the
# corpus-scaled PQ floor holdout rows). The derivation-family variance
# profile this round also ran is committed as DERIVPROF_r16.json; its
# main is gone.
# The full STREAMPROBE (with the new media_ingest_audio probe and the
# crawl-loop stage attribution) runs separately first — see the round log.
set -uo pipefail
cd "$(dirname "$0")/.."
log() { echo "[r16probes $(date +%H:%M:%S)] $*"; }

for rep in 0 1 2 3 4; do
  log "media A/B rep $rep"
  SPARK_GRAFT_AB_REP=$rep SPARK_GRAFT_PROBE_ONLY=media_ingest_heavy \
  SPARK_GRAFT_STREAMPROBE_OUT=/tmp/mediaab_r16_rep$rep.json \
  tools/runmain.sh graft.StreamScaleProbe 10 200 \
    > /tmp/mediaab_r16_rep$rep.log 2>&1 || log "rep $rep FAILED"
done
python3 tools/r16_assemble.py && log "MEDIA_AB_r16 assembled" \
  || log "ASSEMBLE FAILED (digest mismatch?)"

log "ScaleProbe 50x headline"
SPARK_GRAFT_SCALEPROBE_OUT=SCALEPROBE_r16_50x.json SPARK_DRIVER_MEM=24g \
  tools/runmain.sh graft.ScaleProbe 50 headline \
  > /tmp/scaleprobe_r16_50x.log 2>&1 || log "50x FAILED"

log "ScaleProbe 10x full"
SPARK_GRAFT_SCALEPROBE_OUT=SCALEPROBE_r16.json SPARK_DRIVER_MEM=24g \
  tools/runmain.sh graft.ScaleProbe 10 > /tmp/scaleprobe_r16_10x.log 2>&1 \
  || log "10x FAILED"

log "ALL DONE"
