#!/bin/bash
set -euo pipefail
# Per-round SKEWED-sf1 regression gate (r13; r12 verdict item #3): build
# the planted-hot-key slice if absent and probe the capped families on
# it. The r12 one-shot evidence (uncapped rec_item_cosine OOMs, capped
# twin flat) becomes a per-round check: a regression in a cap's
# semi-join placement shows up here as a capped entry that stops being
# flat vs its plain-sf1 time (compare against BENCH_SF1_$TAG.json).
#
# Deliberately NOT probed: uncapped `rec_item_cosine` — it dies by
# design on this slice (java.lang.OutOfMemoryError after ~24 min, the
# hot basket's ≈6.7e8 candidate pairs; BASELINE.md r12 skew row). Its
# capped twin IS probed; "capped stays flat" is the gate.
#
# Usage:  tools/skewbench.sh r13
# SPARK_GRAFT_CPUS sets local[N] for every sbt run here (default: the
# host's core count; the r11-r13 records were made at 32).
# Never run concurrently with another sbt command.
cd "$(dirname "$0")/.."
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}"
TAG=${1:?round tag (e.g. r13)}
SKEW=${SPARK_GRAFT_SKEW_DIR:-/tmp/graft_sf1skew}
if [ ! -d "$SKEW/lineitem.parquet" ]; then
  sbt -batch "runMain graft.DataGen /root/testdata/sf0.1 $SKEW 10 skew"
fi
ENTRIES="rec_item_cosine_capped,rec_assoc_rules,rec_assoc_rules_capped,rec_user_cf,rec_user_cf_capped,dedup_embedding_lsh,dedup_embedding_lsh_capped,text_word_count,text_word_count_salted"
SPARK_GRAFT_SF_DIR="$SKEW" SPARK_GRAFT_TIME="$ENTRIES" \
  sbt -batch 'runMain graft.Probe' | tee "/tmp/skewprobe_$TAG.log" \
  | grep '\[probe\]' > "SKEW_$TAG.txt"
echo "--- skewed-sf1 probe ($SKEW) vs plain-sf1 (BENCH_SF1_$TAG.json) ---"
python3 - "$TAG" <<'EOF'
import json, re, sys
tag = sys.argv[1]
warm = {}
for line in open(f"SKEW_{tag}.txt"):
    m = re.match(r"\[probe\]\s+(\S+) warm\s+([\d.]+) s", line)
    if m:
        warm[m.group(1)] = float(m.group(2))
try:
    plain = json.load(open(f"BENCH_SF1_{tag}.json")).get("queries", {})
except FileNotFoundError:
    plain = {}
print(f"{'entry':32} {'skew_warm':>10} {'plain_sf1':>10} {'ratio':>7}")
for k, v in sorted(warm.items()):
    p = plain.get(k)
    r = f"{v/p:7.2f}" if p else "    n/a"
    print(f"{k:32} {v:10.2f} {p if p else float('nan'):10.2f} {r}")
EOF
