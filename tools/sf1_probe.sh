#!/bin/bash
# sf~1 scaling probes over both upscale constructions
# (tools/upscale_replicate.py). Runs after tools/sweep.sh, so the sf0.1
# base in /tmp/bench_full_sf0.1.json is the round's final sweep. Each
# probe writes its own full artifact via SPARK_GRAFT_BENCH_FULL_OUT, so
# BENCH_full_local.json is never touched. Provenance and the previous
# round's committed base are passed to the assembler explicitly. The
# local core count comes from the host (nproc), not a fixed figure.
# Usage: SF1_ROOT=<dir with sf1_exact, sf1_perturbed> \
#   tools/sf1_probe.sh <round, e.g. r18> <keys-file> <keyset-desc>
set -e
cd "$(dirname "$0")/.."
USAGE="usage: sf1_probe.sh <round> <keys-file> <keyset-desc>"
ROUND=${1:?$USAGE}
KEYS_FILE=${2:?$USAGE}
KEYSET_DESC=${3:?$USAGE}
SF1_ROOT=${SF1_ROOT:?set SF1_ROOT to the directory holding sf1_exact and sf1_perturbed}
PRIOR="SCALING_r$(( ${ROUND#r} - 1 )).json"
CPUS=$(nproc)
SNAP=${GRAFT_CLASSES:-/tmp/graft_classes_sweep}
KEYS=$(cat "$KEYS_FILE")
for mode in exact perturbed; do
  if GRAFT_CLASSES="$SNAP" SPARK_GRAFT_SF_DIR="$SF1_ROOT/sf1_$mode" \
      SPARK_GRAFT_CPUS="$CPUS" SPARK_GRAFT_BENCH_WALL=100000 \
      SPARK_GRAFT_BENCH_ONLY="$KEYS" \
      SPARK_GRAFT_BENCH_FULL_OUT="/tmp/bench_full_sf1_${mode}_${ROUND}.json" \
      tools/bench_java.sh \
      > "/tmp/bench_sf1_${mode}_${ROUND}.txt" 2>&1; then
    echo "sf1_$mode rc=0 (local[$CPUS])"
  else
    echo "sf1_$mode FAILED (see /tmp/bench_sf1_${mode}_${ROUND}.txt)"; exit 1
  fi
done
python3 tools/sf1_assemble.py "SCALING_${ROUND}_sf1.json" \
  /tmp/bench_full_sf0.1.json \
  "/tmp/bench_sf1_exact_${ROUND}.txt" "/tmp/bench_sf1_perturbed_${ROUND}.txt" \
  --keyset-desc "$KEYSET_DESC" \
  --prior-base "$PRIOR"
echo sf1-probes-done
