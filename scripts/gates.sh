#!/bin/bash
# Gates chain: unit tests, sf0.01 Verify + oracle hash check, PlanAudit and
# the benchmark self-test, then the optional stages named after the tag:
#   bench  three Bench runs at sf0.1 (assemble with scripts/assemble_bench.py)
#   slope  SlopeProbe (x10/x20 slope guard)
#   scale  the all-queries x10 and x20 ScaleBench sweeps
#
#   bash scripts/gates.sh <tag> [bench] [slope] [scale]
#
# Each stage prints one `<STAGE>=<rc> <time>` line; the chain stops at the
# first failing stage and exits with its code. Logs go to /tmp/gates_<tag>/.
# The asset root is wiped first, so the test and Verify stages exercise the
# asset build path and later bench runs the load path.
set -u
[ $# -ge 1 ] || { echo "usage: $0 <tag> [bench] [slope] [scale]" >&2; exit 2; }
TAG=$1; shift
for stage in "$@"; do
  case $stage in bench|slope|scale) ;;
    *) echo "unknown stage '$stage' (bench, slope or scale)" >&2; exit 2 ;; esac
done
cd "$(dirname "$0")/.."
LOG=/tmp/gates_$TAG
mkdir -p "$LOG"
CPUS=${SPARK_GRAFT_CPUS:-$(nproc)}

gate() {  # gate NAME LOGFILE CMD... : run CMD, print NAME=rc, stop on failure
  local name=$1 log=$2; shift 2
  "$@" > "$log" 2>&1
  local rc=$?
  echo "$name=$rc $(date +%T)"
  [ $rc -eq 0 ] || { echo "=== gates $TAG FAILED at $name (log: $log)"; exit $rc; }
}

echo "=== gates $TAG start $(date +%T) load=$(cut -d' ' -f1-3 /proc/loadavg)"
rm -rf "$HOME/.cache/graft_assets" "$LOG/vout"

gate TEST "$LOG/test.log" sbt -batch test
gate VERIFY "$LOG/verify.log" sbt -batch "runMain graft.Verify /root/testdata/sf0.01 $LOG/vout"
gate ORACLE "$LOG/oracle.log" python3 scripts/check_oracle.py /root/testdata/sf0.01 "$LOG/vout"
gate PLANAUDIT "$LOG/planaudit.log" sbt -batch "runMain graft.PlanAudit"
gate SELFTEST "$LOG/selftest.log" python3 perfbench/selftest.py

for stage in "$@"; do
  case $stage in
    bench)
      for i in 1 2 3; do
        gate BENCH$i "$LOG/bench_run$i.txt" env SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
          SPARK_GRAFT_CPUS="$CPUS" sbt -batch "runMain graft.Bench"
      done ;;
    slope)
      gate SLOPE "$LOG/slope.out" env SPARK_GRAFT_CPUS="$CPUS" sbt -batch "runMain graft.SlopeProbe" ;;
    scale)
      gate S10 "$LOG/scale10.out" env SPARK_GRAFT_SCALE_QUERIES=all SPARK_GRAFT_CPUS="$CPUS" \
        sbt -batch "runMain graft.ScaleBench"
      gate S20 "$LOG/scale20.out" env SPARK_GRAFT_SCALE_QUERIES=all SPARK_GRAFT_CPUS="$CPUS" \
        SPARK_GRAFT_TILES=20 SPARK_GRAFT_SCALE_DIR=/tmp/graft_sf2 sbt -batch "runMain graft.ScaleBench" ;;
  esac
done
echo "=== gates $TAG done $(date +%T) load=$(cut -d' ' -f1-3 /proc/loadavg)"
