#!/bin/bash
# Drift-robust scaling protocol (round 3): run ScalingBench at local[1] and
# local[4] INTERLEAVED — c1,c4,c1,c4,… one JVM at a time, whole box per run —
# so every adjacent pair brackets the same few minutes of machine phase, and
# pairs exist in BOTH orders (c1→c4 and c4→c1: monotone co-tenant drift then
# biases alternate pairs in opposite directions and cancels in the median).
# Each run also measures a memory-bandwidth microprobe immediately before its
# timed region (ScalingBench.bandwidthProbe), so the reporter can additionally
# normalize wall time by same-moment machine speed.
#
#   tools/run_interleaved.sh <seqName> <nRuns> [outDir sfDir replicate rounds noise seeds]
#
# Aggregate with: python3 tools/interleaved_report.py <outDir> <seqName>
set -euo pipefail
cd "$(dirname "$0")/.."

SEQ=${1:?sequence name}
N=${2:-12}
OUT=${3:-BENCH/r3}
SF=${4:-/root/testdata/sf0.1}
REP=${5:-200}
R=${6:-4}
NOISE=${7:-17000}
SEEDS=${8:-400}
mkdir -p "$OUT"

# Shared bucketed corpus (CorpusStore): built ONCE at full parallelism, then
# every run at every level opens it read-only — identical input bytes across
# the whole campaign and no per-run single-threaded synthesis at local[1].
export GRAFT_CORPUS_DIR=${GRAFT_CORPUS_DIR:-/dev/shm/graft-corpus-$(basename "$SF")-r${REP}-n${NOISE}}
if [ ! -f "$GRAFT_CORPUS_DIR/_graft_corpus.json" ]; then
  echo "=== building shared corpus at $GRAFT_CORPUS_DIR $(date +%T) ===" | tee -a "$OUT/interleaved.log"
  tools/run_bench.sh graft.spider.tools.CorpusBuild "$GRAFT_CORPUS_DIR" "$SF" "$REP" "$NOISE" \
    2>> "$OUT/interleaved.log" | tee -a "$OUT/interleaved.log"
fi

echo "=== interleaved $SEQ start $(date +%T) n=$N rep=$REP rounds=$R ===" | tee -a "$OUT/interleaved.log"
for i in $(seq 1 "$N"); do
  if [ $((i % 2)) -eq 1 ]; then C=1; else C=4; fi
  TAG=$(printf "%s%02d_c%d" "$SEQ" "$i" "$C")
  echo "--- run $TAG $(date +%T) ---" | tee -a "$OUT/interleaved.log"
  tools/run_bench.sh graft.spider.tools.ScalingBench "$SF" "$REP" "$R" "$C" "$NOISE" "$SEEDS" \
    > "$OUT/ilv${TAG}.json" 2> "$OUT/ilv${TAG}.err" || echo "run $TAG FAILED" | tee -a "$OUT/interleaved.log"
done
echo "=== interleaved $SEQ done $(date +%T) ===" | tee -a "$OUT/interleaved.log"
python3 tools/interleaved_report.py "$OUT" "$SEQ" | tee -a "$OUT/interleaved.log"
