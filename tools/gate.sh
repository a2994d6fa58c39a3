#!/bin/bash
# Local replica of the full round gate: tests, pipeline benchmark, smoke,
# oracle, bench.
set -e
cd "$(dirname "$0")/.."
echo "=== mains (the contract mains and the three tools only) ==="
# One-off diagnostic mains do not come back: a new probe replaces or
# extends graft.tools.Profile instead.
mains=$(awk 'FNR == 1 { pkg = ""; obj = "" }
  /^package / { pkg = $2 }
  /(^|[^A-Za-z0-9_])object +[A-Za-z0-9_]+/ {
    match($0, /object +[A-Za-z0-9_]+/); obj = substr($0, RSTART, RLENGTH); sub(/object +/, "", obj) }
  /def +main *\(|(extends|with) +App([^A-Za-z0-9_]|$)/ { print pkg "." obj }' \
  $(find src/main -name '*.scala') | sort -u)
extra=$(echo "$mains" | grep -vxF -e graft.Bench -e graft.Verify -e graft.Smoke \
  -e graft.tools.Sf1Stage -e graft.tools.PlanDump -e graft.tools.Profile || true)
[ -z "$extra" ] || { echo "unexpected main objects under src/main: $extra"; exit 1; }
echo "$mains" | tr '\n' ' '; echo
echo "=== sbt test ==="
sbt -batch test 2>&1 | grep -E "Tests:|Passed:"
echo "=== pipeline benchmark (checks + one short run per workload) ==="
python3 perfbench/test_run.py
for w in command_stream pdf_ingest; do
  python3 perfbench/run.py --workload $w --seed 1 --seconds 10 --trace 0 \
    > /tmp/gate_perfbench_$w.log 2>&1 || { tail -20 /tmp/gate_perfbench_$w.log; exit 1; }
  tail -1 /tmp/gate_perfbench_$w.log
done
echo "=== smoke (t1) ==="
sbt -batch "runMain graft.Smoke" 2>&1 | grep '\[smoke\]'
echo "=== oracle (t2, sf0.01) ==="
SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-8} sbt -batch \
  "runMain graft.Verify /root/testdata/sf0.01 /tmp/gate_vout" > /tmp/gate_verify.log 2>&1
python3 tools/compare.py /root/testdata/sf0.01 /tmp/gate_vout | tail -1
echo "=== bench (sf0.1) ==="
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-32} \
  sbt -batch "runMain graft.Bench" 2>&1 | grep '"metric"' | tail -1 | sed 's/^\[info\] //'
