#!/bin/bash
# Regenerate every locally-producible gate artifact at HEAD, in order.
# Usage: bash tools/refresh_gates.sh   (from the repo root; ~90 min)
# Exits nonzero (and says which gates failed) if ANY gate fails —
# a gate's sbt runMain exits 1 when its artifact records failures.
set -o pipefail
cd "$(dirname "$0")/.."
FAILED=()
log() { echo "[refresh $(date +%H:%M:%S)] $*"; }
run() {
  log "start: $1"
  if ! sbt -batch "runMain $2" 2>&1 | grep -E "$3"; then
    FAILED+=("$1"); log "FAILED: $1"
  fi
  log "done: $1"
}
run edge          "graft.tools.Sweep edge"                                               "\[sweep\] edge:"
run edge1         "graft.tools.Sweep edge /root/testdata/sf0.001 EDGE_EXEC_1ROW.json 1"  "\[sweep\] edge:"
run null          "graft.tools.Sweep null"                                               "\[sweep\] null:"
run nan           "graft.tools.Sweep nan"                                                "\[sweep\] nan:"
run text          "graft.tools.Sweep text"                                               "\[sweep\] text:"
run num           "graft.tools.Sweep num"                                                "\[sweep\] num:"
run combo         "graft.tools.Sweep combo"                                              "\[sweep\] combo:"
run skew          "graft.tools.Sweep skew"                                               "\[sweep\] skew:"
run shape         "graft.tools.Sweep shape"                                              "\[sweep\] shape:"
run huge          "graft.tools.Sweep huge"                                               "\[sweep\] huge:"
run PartInvariance "graft.tools.PartInvariance"                                        "\[partinv\]"
log "start: ConcExec (4g heap, 8 cores, determinism+contention)"
if ! SPARK_DRIVER_MEM=4g SPARK_GRAFT_CPUS=8 \
  sbt -batch "runMain graft.tools.ConcExec" 2>&1 | grep -E "\[concexec\]"; then
  FAILED+=("ConcExec"); log "FAILED: ConcExec"
fi
log "done: ConcExec"
log "start: MemExec (2g heap, 8 cores)"
if ! SPARK_DRIVER_MEM=2g SPARK_GRAFT_CPUS=8 \
  sbt -batch "runMain graft.tools.MemExec" 2>&1 | grep -E "\[memexec\]"; then
  FAILED+=("MemExec"); log "FAILED: MemExec"
fi
log "done: MemExec"
run CodegenParity "graft.tools.CodegenParity /root/testdata/sf0.01 CODEGEN_PARITY.json" "parity|\[codegen"
run FullExec      "graft.tools.FullExec /root/testdata/sf0.1 FULLEXEC.json"            "\[fullexec\]"
run Scaling-probe "graft.tools.Scaling probe"                                          "\[scaling|scaling.json"
run Scaling-x30   "graft.tools.Scaling x30"                                            "\[scaling30\]"
run Scaling-pair  "graft.tools.Scaling pair"                                           "\[scalingpair\]"
run StateSize     "graft.tools.StateSize"                                              "\[statesize\]"
log "start: Bench sf0.1"
# Capture to a temp file and test sbt's exit status and the metric line
# separately — `| grep | head -1` under pipefail can record a SPURIOUS
# failure when head's early exit SIGPIPEs grep (exit 141).
BENCH_OUT=$(mktemp)
if SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  sbt -batch "runMain graft.Bench" >"$BENCH_OUT" 2>/dev/null \
  && grep -m1 '"metric"' "$BENCH_OUT"; then
  :
else
  FAILED+=("Bench"); log "FAILED: Bench"
fi
rm -f "$BENCH_OUT"
# Staleness gate LAST: every artifact above was just regenerated, so
# this passes iff the tree is clean w.r.t. src/main — i.e. the
# artifacts genuinely attest HEAD. Red here means a source change
# landed without a re-run (or the refresh ran on a dirty tree).
run StaleCheck    "graft.tools.StaleCheck"                                             "\[stalecheck\].*fresh ->"
if [ ${#FAILED[@]} -gt 0 ]; then
  log "GATES FAILED: ${FAILED[*]}"
  exit 1
fi
log "ALL GATES REFRESHED (all green)"
