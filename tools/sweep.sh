#!/bin/bash
# Round-end artifact sweep: the full graft.Bench at three scale factors,
# then the scaling artifact. Every run writes its own full artifact via
# SPARK_GRAFT_BENCH_FULL_OUT, so nothing in the sweep touches
# BENCH_full_local.json as a side effect; the committed copy is made
# explicitly from the sf0.1 run and checked (tools/check_bench_artifact.py)
# for the sweep tree's sf, the full bench key count, min-of-3 semantics
# and zero errors before anything is committed. Runs through
# tools/bench_java.sh against a snapshot of the classes dir, so the sweep
# neither holds the sbt lock nor races a recompile.
# SPARK_GRAFT_BENCH_WALL is raised so committed sweeps keep min-of-3.
# The local core count comes from the host (nproc), not a fixed figure.
# Usage: TESTDATA=<dir with sf0.001, sf0.01, sf0.1> \
#   tools/sweep.sh <round, e.g. r18> <expected_n_bench_queries>
set -e
cd "$(dirname "$0")/.."
ROUND=${1:?usage: sweep.sh <round> <expected_n_bench_queries>}
EXPECT_N=${2:?usage: sweep.sh <round> <expected_n_bench_queries>}
TESTDATA=${TESTDATA:?set TESTDATA to the directory holding sf0.001, sf0.01 and sf0.1}
CPUS=$(nproc)
SNAP=${GRAFT_CLASSES:-/tmp/graft_classes_sweep}
rm -rf "$SNAP"
cp -a target/scala-2.13/classes "$SNAP"
for sf in 0.001 0.01 0.1; do
  if GRAFT_CLASSES="$SNAP" SPARK_GRAFT_SF_DIR="$TESTDATA/sf$sf" \
      SPARK_GRAFT_CPUS="$CPUS" SPARK_GRAFT_BENCH_WALL=100000 \
      SPARK_GRAFT_BENCH_FULL_OUT=/tmp/bench_full_sf$sf.json \
      tools/bench_java.sh \
      > /tmp/bench_sf$sf.txt 2>&1; then
    echo "sf$sf rc=0 (local[$CPUS])"
  else
    echo "sf$sf FAILED (see /tmp/bench_sf$sf.txt)"; exit 1
  fi
  python3 tools/check_bench_artifact.py /tmp/bench_full_sf$sf.json \
    "$TESTDATA/sf$sf" "$EXPECT_N" 3
done
cp /tmp/bench_full_sf0.1.json BENCH_full_local.json
# Immutable round-named copy: a later bench rewrites
# BENCH_full_local.json ("the latest full default-tree run"), so the
# round's sweep figures point at this name, which graft.Bench never writes.
cp /tmp/bench_full_sf0.1.json "BENCH_full_${ROUND}_sweep.json"
for f in BENCH_full_local.json "BENCH_full_${ROUND}_sweep.json"; do
  python3 tools/check_bench_artifact.py "$f" "$TESTDATA/sf0.1" "$EXPECT_N" 3
done
python3 tools/scaling_assemble.py "SCALING_${ROUND}.json" \
  /tmp/bench_sf0.001.txt /tmp/bench_sf0.01.txt /tmp/bench_sf0.1.txt
echo sweep-done
