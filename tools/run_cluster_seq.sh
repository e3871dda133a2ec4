#!/bin/bash
# Standalone-CLUSTER scaling pair, SEQUENTIAL levels (round 5, second design).
#
# The discarded concurrent design (receipts in BENCH/BASELINE.md r5) submitted
# both levels at once so they sampled the same machine phase — but on one box
# the two drivers + 20 executor cores contend for tmpfs bandwidth and the
# scheduler, and the measured pair C1-C4 efficiencies (0.23-0.34) were
# dominated by that mutual interference plus a per-round serial floor that
# rep=100 rounds are too short to amortize. This script removes both
# confounds:
#
#   - levels run one at a time (full box for each), order alternating by
#     pair so a machine-phase drift cannot systematically favor one level
#   - replicate is sized so per-round executor work dwarfs the per-round
#     scheduling/commit floor (see the task_secs decomposition ScalingBench
#     now reports)
#   - spark.locality.wait=0: every executor reads the same tmpfs corpus, so
#     block-manager locality preferences on checkpointed state are
#     meaningless here and the default 3 s/level wait only serializes
#     multi-executor scheduling (local mode never shows this)
#
#   tools/run_cluster_seq.sh <pairName> <order:14|41> [outDir sfDir replicate rounds noise seeds]
set -uo pipefail
cd "$(dirname "$0")/.."

P=${1:?pair name}
ORDER=${2:-14}
OUT=${3:-BENCH/r5}
SF=${4:-/root/testdata/sf0.1}
REP=${5:-400}
R=${6:-4}
NOISE=${7:-17000}
SEEDS=${8:-400}
mkdir -p "$OUT"

export SPARK_HOME=/opt/spark
JAR=${GRAFT_JAR:-target/scala-2.13/ecspiderspark_2.13-0.1.0.jar}
[ -f "$JAR" ] || { echo "missing $JAR — run: sbt package" >&2; exit 1; }

MASTER_URL=spark://127.0.0.1:7077

export GRAFT_CORPUS_DIR=${GRAFT_CORPUS_DIR:-/dev/shm/graft-corpus-$(basename "$SF")-r${REP}-n${NOISE}}
if [ ! -f "$GRAFT_CORPUS_DIR/_graft_corpus.json" ]; then
  echo "=== building shared corpus at $GRAFT_CORPUS_DIR $(date +%T) ===" | tee -a "$OUT/cluster.log"
  tools/run_bench.sh graft.spider.tools.CorpusBuild "$GRAFT_CORPUS_DIR" "$SF" "$REP" "$NOISE" \
    2>> "$OUT/cluster.log" | tee -a "$OUT/cluster.log"
fi
export GRAFT_STATE_DIR=${GRAFT_STATE_DIR:-/dev/shm/graft-cluster-state}
export GRAFT_LOCAL_DIR=${GRAFT_LOCAL_DIR:-/dev/shm/graft-cluster-local}
mkdir -p "$GRAFT_STATE_DIR" "$GRAFT_LOCAL_DIR"

CLUSTER_LOG_DIR=$(mktemp -d /tmp/graft-cluster-XXXX)
PIDS=()
cleanup() {
  for pid in "${PIDS[@]:-}"; do kill "$pid" 2>/dev/null || true; done
  sleep 1
  for pid in "${PIDS[@]:-}"; do kill -9 "$pid" 2>/dev/null || true; done
}
trap cleanup EXIT

echo "=== cluster seq pair $P order=$ORDER: starting master + 5 workers $(date +%T) ===" | tee -a "$OUT/cluster.log"
"$SPARK_HOME"/bin/spark-class org.apache.spark.deploy.master.Master \
  --host 127.0.0.1 --port 7077 --webui-port 8081 \
  > "$CLUSTER_LOG_DIR/master.log" 2>&1 &
PIDS+=($!)
sleep 3
# Sequential levels: only ONE driver + its executors live at a time, so the
# executor heap can be sized up vs the concurrent script's 12g.
EXEC_MEM=${GRAFT_EXEC_MEM:-14g}
DRIVER_MEM=${GRAFT_SUBMIT_DRIVER_MEM:-14g}
for i in 1 2 3 4 5; do
  SPARK_WORKER_DIR="$CLUSTER_LOG_DIR/worker$i" \
  "$SPARK_HOME"/bin/spark-class org.apache.spark.deploy.worker.Worker \
    --host 127.0.0.1 --port $((40100 + i)) --webui-port $((40200 + i)) \
    --cores 4 --memory "$EXEC_MEM" "$MASTER_URL" \
    > "$CLUSTER_LOG_DIR/worker$i.log" 2>&1 &
  PIDS+=($!)
done
sleep 5

export GRAFT_MASTER=submit
export GRAFT_PROBE_MIB=${GRAFT_PROBE_MIB:-256}
unset GRAFT_BARRIER  # no concurrent partner

submit() { # $1=cores.max $2=executor.cores $3=label
  "$SPARK_HOME"/bin/spark-submit \
    --master "$MASTER_URL" --deploy-mode client \
    --class graft.spider.tools.ScalingBench \
    --driver-memory "$DRIVER_MEM" \
    --conf "spark.executor.cores=$2" \
    --conf "spark.executor.memory=$EXEC_MEM" \
    --conf "spark.cores.max=$1" \
    --conf spark.locality.wait="${GRAFT_LOCALITY_WAIT:-0s}" \
    --conf spark.ui.enabled=false \
    --conf spark.local.dir="$GRAFT_LOCAL_DIR" \
    "$JAR" "$SF" "$REP" "$R" "$3" "$NOISE" "$SEEDS"
}

RC=0
# Like-for-like levels: spark.sql.shuffle.partitions is a property of the JOB
# (sized to the data), not of the cluster size — a real operator keeps it
# fixed when growing the cluster and lets AQE coalesce. ScalingBench sets
# P = cpus × GRAFT_PARTS_MULT, so hold P = GRAFT_EQ_PARTS at both levels
# (measured: letting P track cores 8→32 at rep=400 tripled the task count at
# the 4N level and inflated summed task time 2.4× in pure ~100 ms/task fixed
# costs — a partition-count artifact, not a scaling property of the engine).
EQP=${GRAFT_EQ_PARTS:-32}
# Topology axis (GRAFT_TOPO):
#   execs (default): N = 1 executor × 4 cores, 4N = 4 executors × 4 cores —
#     the literal "N vs 4N executors" reading. Note the N level then enjoys
#     100% node-local shuffle while 4N pays ~75% remote — a tax a REAL
#     cluster's N-executor level (already multi-node) would also pay; the
#     task_secs decomposition quantifies it.
#   cores: N = 4 executors × 1 core, 4N = 4 executors × 4 cores — holds the
#     JVM count, remote-shuffle fraction, per-executor JIT/broadcast
#     duplication constant; only compute scales. Isolates the ENGINE's
#     scaling from the fixed multi-JVM tax.
#   minimal: N = 1 executor × 1 core, 4N = 4 executors × 1 core — the most
#     literal "N vs 4N executors" (executor count really quadruples, every
#     4N-level shuffle crosses JVMs), run in the 1-4-thread regime where
#     this box's per-core throughput is linear. Measured: at 16 concurrent
#     task threads the box itself degrades ~1.8× per-core (task CPU time
#     390→700 s for identical work, probe 2.96× for 4× threads), so 4-vs-16
#     core pairs measure the hardware's saturation, not the engine.
TOPO=${GRAFT_TOPO:-execs}
case "$TOPO" in
  minimal) CN=1; C4N=4;  ECN=1; EC4N=1 ;;
  cores)   CN=4; C4N=16; ECN=1; EC4N=4 ;;
  *)       CN=4; C4N=16; ECN=4; EC4N=4 ;;
esac
run_level() { # $1=cores.max $2=executor.cores $3=tag
  echo "=== seq pair $P level cores=$1 execCores=$2 P=$EQP submit $(date +%T) rep=$REP rounds=$R ===" | tee -a "$OUT/cluster.log"
  GRAFT_PARTS_MULT=$((EQP / $1)) \
    submit "$1" "$2" "$1" > "$OUT/seq${P}_n${3}.json" 2> "$OUT/seq${P}_n${3}.err" || RC=$?
}
if [ "$ORDER" = "41" ]; then
  run_level "$C4N" "$EC4N" 4
  run_level "$CN" "$ECN" 1
else
  run_level "$CN" "$ECN" 1
  run_level "$C4N" "$EC4N" 4
fi
echo "=== seq pair $P done $(date +%T) rc=$RC ===" | tee -a "$OUT/cluster.log"

python3 - "$OUT" "$P" "$CN" "$C4N" <<'EOF'
import json, sys
out, p, cn, c4n = sys.argv[1], sys.argv[2], sys.argv[3], sys.argv[4]
def last_json(path):
    rows = [l for l in open(path) if l.startswith('{')]
    return json.loads(rows[-1])
try:
    n1 = last_json(f"{out}/seq{p}_n1.json")[f"local[{cn}]"]
    n4 = last_json(f"{out}/seq{p}_n4.json")[f"local[{c4n}]"]
    eff = n4["urls_per_sec"] / (4 * n1["urls_per_sec"])
    weff = n1["task_secs"] / n4["task_secs"] if n4.get("task_secs") else float('nan')
    print(f"seq pair {p}: T(1x4c)={n1['secs']:.1f}s T(4x4c)={n4['secs']:.1f}s "
          f"tput {n1['urls_per_sec']:.0f}/{n4['urls_per_sec']:.0f} eff={eff:.2f} "
          f"work_eff={weff:.2f} floor {n1.get('floor_secs','?')}/{n4.get('floor_secs','?')}s")
except Exception as e:
    print(f"seq pair {p}: incomplete ({e})")
EOF
