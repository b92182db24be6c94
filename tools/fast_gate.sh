#!/usr/bin/env bash
# The <10-min default gate: the SAME tests as `pytest tests/` (the
# "not slow" tier), run as N concurrent pytest processes that each
# take every N-th collected item (PYSTORE_TEST_SHARD in
# tests/conftest.py). The suite profile is flat — ~0.5 s/test of
# irreducible Spark-job latency — so single-process time is bounded
# below by test count, while N local[4] sessions divide the
# wall-clock by ~N. Each shard is one JVM with local[4], so the default
# is one shard per 4 CPUs: more shards than that oversubscribe the
# host (and each JVM takes its own heap). Shards are disjoint and
# exhaustive by construction (same collection order in every
# process), so a green fast gate is exactly a green `pytest tests/`.
#
#   bash tools/fast_gate.sh [n_shards]   # default max(1, nproc / 4)
set -u
cd "$(dirname "$0")/.."
DEFAULT_N=$(($(env -u OMP_NUM_THREADS nproc) / 4))
[ "${DEFAULT_N}" -ge 1 ] || DEFAULT_N=1
N="${1:-${PYSTORE_FAST_GATE_SHARDS:-${DEFAULT_N}}}"
echo "== fast gate: ${N}-way sharded pytest (default tier) =="
start=$(date +%s)
pids=()
for i in $(seq 0 $((N - 1))); do
  PYSTORE_TEST_SHARD="${i}/${N}" python -m pytest tests/ -q \
    -p no:cacheprovider >"/tmp/fast_gate_${i}.log" 2>&1 &
  pids+=("$!")
done
rc=0
for i in $(seq 0 $((N - 1))); do
  if ! wait "${pids[$i]}"; then
    rc=1
    echo "-- shard ${i} FAILED --"
    grep -E "^(FAILED|ERROR)" "/tmp/fast_gate_${i}.log" | head -20
  fi
  tail -n 1 "/tmp/fast_gate_${i}.log" | sed "s/^/shard ${i}: /"
done
echo "== fast gate: $(($(date +%s) - start))s wall, exit ${rc} =="
exit "${rc}"
