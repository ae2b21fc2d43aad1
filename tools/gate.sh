#!/bin/bash
# tools/gate.sh — the full verification gate in one command:
#   compile → scalatest → Verify dump → DuckDB oracle diff → bench JSON
#   → plan-shape regression check → one untraced perfbench run per
#   workload (its output checks must pass).
# Exit nonzero on ANY failure. Usage: tools/gate.sh [sfDir]
set -euo pipefail
cd "$(dirname "$0")/.."
SF="${1:-/root/testdata/sf0.01}"
OUT="$(mktemp -d /tmp/graft_gate.XXXXXX)"

echo "== compile + test =="
sbt -batch test

echo "== verify dump ($SF) =="
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-8}" tools/run.sh graft.Verify "$SF" "$OUT/verify"

echo "== oracle diff =="
python3 tools/check.py "$SF" "$OUT/verify" | tail -3
python3 tools/check.py "$SF" "$OUT/verify" | grep -q " 0 failed"

echo "== bench (one JSON line) =="
SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.001}" \
  tools/run.sh graft.Bench 2>/dev/null | tail -1

echo "== plan-shape regression =="
tools/run.sh graft.PlanAudit --check 2>/dev/null | tail -1

echo "== streaming plan-shape regression =="
tools/run.sh graft.StreamPlanAudit --check 2>/dev/null | tail -1

echo "== perfbench (one untraced run per workload, output checked) =="
for w in $(python3 -c 'import json; print(" ".join(json.load(open("perfbench/workloads.json"))))'); do
  res="$(python3 perfbench/run.py --workload "$w" --seed 1 --seconds 30 --trace 0 | tail -1)"
  echo "$w: $res"
  python3 -c 'import json, sys; r = json.loads(sys.argv[1])
sys.exit(0 if r.get("correct") is True and r.get("failed") == 0 else 1)' "$res"
done

# ROADMAP aim 2's success measure: the src/main Scala line count
echo "GATE GREEN (src/main: $(find src/main -name '*.scala' -print0 | xargs -0 cat | wc -l) Scala lines)"
