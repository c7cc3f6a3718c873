#!/usr/bin/env bash
# One-command BASELINE_PERQUERY.json regeneration: N standalone
# full-pack Bench runs at sf0.1 (default 3 — the committed protocol:
# medians of 3 are robust to one contended sample), then
# tools/make_ledger.py cuts per-query medians and prints a reviewable
# diff against the previous ledger. Run on a GREEN tree only (a run
# with failed queries aborts the cut), ideally on a quiet box — the
# documented noise band is ±10% with readings topping out higher late
# in a long JVM session.
#
# Takes ~10-15 min for 3 runs; from an agent shell launch it detached
# (setsid nohup bash tools/make_ledger.sh > /tmp/ledger_<tag>.log ...).
set -euo pipefail
cd "$(dirname "$0")/.."

# Size to this box the way the Tier-1 run does: every core, and a driver
# heap of half the RAM clamped to 2-8 GiB (build.sbt's 16g default
# assumes a 128 GiB box).
export SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)"
export SPARK_DRIVER_MEM="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo)"

runs="${1:-3}"
tmp=$(mktemp -d /tmp/graft_ledger.XXXXXX)
for i in $(seq 1 "$runs"); do
  echo "== ledger bench run $i/$runs"
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
    sbt -batch "runMain graft.Bench" | grep -F '"metric"' | tail -1
  cp BENCH_FULL.json "$tmp/bench_$i.json"
done
python3 tools/make_ledger.py "$tmp"/bench_*.json
echo "== done; review the diff above, then commit BASELINE_PERQUERY.json"
