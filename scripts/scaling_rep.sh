#!/bin/bash
# One probe-bracketed scaling rep (north-rule criterion 3 evidence).
#
# Runs the identical crawl job at 2 and 8 cores on the same
# Spark-generated 48M-page / 16M-seed input, with bench_probe.py dual
# host-health probes (CPU sha control + memory-bandwidth copy probe)
# bracketing each leg: pre -> 2-core leg -> mid -> 8-core leg -> post.
# Validity rule (BASELINE.md): the three probes must agree within 25% on
# sha_8p AND bw_8p, else the rep is discarded (host fault, not engine).
#
# Usage: bash scripts/scaling_rep.sh [outfile]
# Output: one JSON object per line (probes + both legs) appended to
#         $outfile (default scaling_rep_<epoch>.jsonl in the repo root).
set -u
cd "$(dirname "$0")/.."
OUT="${1:-scaling_rep_$(date +%s).jsonl}"

export BENCH_PAGES="${BENCH_PAGES:-48000000}"
export BENCH_SEEDS="${BENCH_SEEDS:-16000000}"
export BENCH_ROUNDS="${BENCH_ROUNDS:-1}"
# take the slow shared /tmp disk out of shuffle + snapshot IO.
# CLEAN FIRST: tmpfs pages count against host memory, and a crashed leg
# orphans its shuffle dirs — 90+ GB of debris accumulated across reps
# OOM-killed a later leg's JVM (round-4 rep G post-mortem)
rm -rf /dev/shm/spark_local /dev/shm/spark_tmp
mkdir -p /dev/shm/spark_local /dev/shm/spark_tmp
export SPARK_LOCAL_DIRS=/dev/shm/spark_local
export TMPDIR=/dev/shm/spark_tmp

probe() { echo "{\"probe\": \"$1\", $(python bench_probe.py | sed 's/^{//')" >> "$OUT"; }

echo "{\"rep_config\": {\"pages\": $BENCH_PAGES, \"seeds\": $BENCH_SEEDS, \"rounds\": $BENCH_ROUNDS}}" >> "$OUT"
probe pre
python bench_scaling.py 2 >> "$OUT" 2>>"$OUT.err"
probe mid
python bench_scaling.py 8 >> "$OUT" 2>>"$OUT.err"
probe post
echo "rep complete -> $OUT"
