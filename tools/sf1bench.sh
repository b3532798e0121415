#!/bin/bash
set -euo pipefail
# Per-round sf1 scaling gate (r12; closes the r11 verdict's missing item
# #1 / next-round item #4): build the structure-preserving 10x slice if
# absent, bench the FULL catalog on it, snapshot the record, and print
# the t(sf1)/t(sf0.1) ratio table. Any entry whose ratio grows
# round-over-round beyond noise, or exceeds 5x without a documented
# linear-in-corpus bound, gets the BASELINE.md adjudication treatment.
#
# Usage:  tools/sf1bench.sh r12
# SPARK_GRAFT_CPUS sets local[N] for every sbt run here (default: the
# host's core count; the r11-r13 records were made at 32).
# Requires: a same-session sf0.1 bench record in BENCH_FULL.json (run
#   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=$(nproc) \
#     sbt -batch 'runMain graft.Bench'
# first); never run concurrently with another sbt command.
cd "$(dirname "$0")/.."
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}"
TAG=${1:?round tag (e.g. r12)}
SF1=${SPARK_GRAFT_SF1_DIR:-/tmp/graft_sf1}
if [ ! -d "$SF1/lineitem.parquet" ]; then
  sbt -batch "runMain graft.DataGen /root/testdata/sf0.1 $SF1 10"
fi
# The canonical sf0.1 record is swapped aside while Bench overwrites
# BENCH_FULL.json with sf1 numbers; restore it on ANY exit (an sbt
# failure or an empty grep under pipefail would otherwise abort before
# the happy-path mv and leave the sf1 record clobbering the graded one).
cp BENCH_FULL.json "/tmp/bench_sf01_$TAG.json"
trap 'cp "/tmp/bench_sf01_$TAG.json" BENCH_FULL.json' EXIT
SPARK_GRAFT_SF_DIR="$SF1" sbt -batch 'runMain graft.Bench' \
  | { grep '"metric"' || true; } | tail -1 > /dev/null
cp BENCH_FULL.json "BENCH_SF1_$TAG.json"
python3 tools/sf1ratio.py "/tmp/bench_sf01_$TAG.json" "BENCH_SF1_$TAG.json"
