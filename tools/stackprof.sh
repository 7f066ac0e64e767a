#!/bin/bash
# Poor-man's sampling profiler: run `sbt runMain graft.Prof <query>` in
# the background, sample the forked Spark JVM with jstack, print the hottest
# RUNNABLE frames of executor task threads. Usage: tools/stackprof.sh q_name [n_samples]
set -u
Q="${1:-q_exact_outlier_count}"
N="${2:-60}"
OUT=/tmp/stackprof_$Q
rm -rf "$OUT"; mkdir -p "$OUT"
( cd /root/repo && SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-4} \
    sbt -batch "runMain graft.Prof $Q" > "$OUT/run.log" 2>&1 ) &
SBT_PID=$!
# wait for the forked JVM (child of sbt's java) running graft.Prof
JVM=""
# the forked run JVM's cmdline is literally `java @/tmp/sbt-args...` — all
# real args live in the argfile, so match that marker
for i in $(seq 1 240); do
  JVM=$(pgrep -f 'java @/tmp/sbt-args' | head -1)
  [ -n "$JVM" ] && break
  sleep 0.5
done
if [ -z "$JVM" ]; then echo "no forked JVM found"; exit 1; fi
echo "sampling pid $JVM"
i=0
while kill -0 "$JVM" 2>/dev/null && [ $i -lt "$N" ]; do
  jstack "$JVM" 2>/dev/null >> "$OUT/stacks.txt"
  i=$((i+1))
  sleep 0.3
done
wait $SBT_PID 2>/dev/null
# hottest frames on executor task threads that are RUNNABLE
python3 - "$OUT/stacks.txt" <<'EOF'
import sys, re, collections
txt = open(sys.argv[1]).read()
frames = collections.Counter()
top = collections.Counter()
for block in txt.split('\n\n'):
    head = block.splitlines()[0] if block.splitlines() else ''
    if 'Executor task launch' not in head: continue
    if 'RUNNABLE' not in block: continue
    ats = [l.strip()[3:] for l in block.splitlines() if l.strip().startswith('at ')]
    if not ats: continue
    top[ats[0]] += 1
    for a in set(ats[:12]): frames[a] += 1
print('=== top-of-stack (leaf) ===')
for f,c in top.most_common(18): print(f'{c:5d}  {f}')
print('=== any-of-top-12 frames ===')
for f,c in frames.most_common(18): print(f'{c:5d}  {f}')
EOF
grep PROF "$OUT/run.log"
