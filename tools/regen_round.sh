#!/bin/bash
# End-of-round artifact regeneration, in the required order:
# Verify -> Bench(sf0.1) -> benchcmp -> Bench(sf1) -> benchcmp_sf1 ->
# scalecheck -> PlanAudit -> Coverage. README counts stay manual.
# pipefail: several gates pipe through tail/grep — without it a failing
# gate's exit status is masked by the pipe tail and the "set -e" is a no-op
# for exactly the steps it was meant to guard (ADVICE r11).
set -e -o pipefail
cd /root/repo

echo "=== 1. Verify gate (sf0.01) ==="
sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/graft_verify_final" 2>&1 | tail -1
python3 tools/check.py /root/testdata/sf0.01 /tmp/graft_verify_final 2>&1 | tail -3

echo "=== 2. Bench sf0.1 ==="
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  sbt -batch "runMain graft.Bench" 2>&1 | grep '"metric"' | tail -1
cp BENCH_LOCAL.json /tmp/bench_local_final_sf01.json

echo "=== 3. benchcmp sf0.1 ==="
python3 tools/benchcmp.py /root/testdata/sf0.1 /tmp/bench_local_final_sf01.json \
  BENCHCMP.md /tmp/graft_verify_final/oracle_sql.json 2>&1 | tail -1

echo "=== 3b. cold-cache bench sf0.1, TWICE (ratification condition b + reproducibility) ==="
# Two same-code cold runs: the r11 round published a single 699s cold census
# that turned out to be an in-run host/JVM degradation (r12 reproduced ~280s
# twice); a lone cold pass has no best-of-N noise absorption, so condition
# (b) now requires the pair to agree before the number carries the bar.
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_COLD=1 \
  sbt -batch "runMain graft.Bench" 2>&1 | grep '"metric"' | tail -1
cp BENCH_COLD.json /tmp/bench_cold_final_run1.json
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_COLD=1 \
  sbt -batch "runMain graft.Bench" 2>&1 | grep '"metric"' | tail -1
cp BENCH_COLD.json /tmp/bench_cold_final_run2.json
cp /tmp/bench_cold_final_run1.json BENCH_COLD.json

echo "=== 3c. cold-vs-steady attribution into BENCHCMP.md ==="
python3 tools/coldcmp.py /tmp/bench_local_final_sf01.json BENCH_COLD.json BENCHCMP.md \
  /tmp/bench_cold_final_run2.json

echo "=== 4. Bench sf1 ==="
SPARK_GRAFT_SF_DIR=/tmp/sf1 \
  sbt -batch "runMain graft.Bench" 2>&1 | grep '"metric"' | tail -1
cp BENCH_LOCAL.json /tmp/bench_local_final_sf1.json
cp /tmp/bench_local_final_sf1.json BENCH_sf1.json
cp /tmp/bench_local_final_sf01.json BENCH_LOCAL.json

echo "=== 5. benchcmp sf1 ==="
python3 tools/benchcmp.py /tmp/sf1 /tmp/bench_local_final_sf1.json \
  BENCHCMP_sf1.md /tmp/graft_verify_final/oracle_sql.json 2>&1 | tail -1

echo "=== 6. scalecheck ==="
python3 tools/scalecheck.py /tmp/bench_local_final_sf01.json \
  /tmp/bench_local_final_sf1.json 10 > /tmp/scalecheck_final.txt || true
tail -5 /tmp/scalecheck_final.txt

echo "=== 7. PlanAudit (splice into PLANS.md) ==="
sbt -batch "runMain graft.PlanAudit /root/testdata/sf0.001" 2>&1 \
  | grep -E '^\| ' > /tmp/plans_table_final.md
wc -l /tmp/plans_table_final.md
python3 - <<'EOF'
# keep the prose header, replace the table (everything from '| query |' on)
prose = open('PLANS.md').read().split('| query |')[0]
table = open('/tmp/plans_table_final.md').read()
open('PLANS.md', 'w').write(prose + table)
EOF

echo "=== 7b. plan guard (registry <-> PLANS.md <-> PlanRegressionSpec) ==="
# set -e: a guard violation fails the whole regen, by design
python3 tools/plan_guard.py BENCH_LOCAL.json PLANS.md \
  src/test/scala/graft/PlanRegressionSpec.scala tools/plan_spec_known.txt

echo "=== 7c. golden stamp (GOLDEN.md status from the last sbt test reports) ==="
# set -e: a missing or red golden suite fails the regen, by design
python3 tools/golden_stamp.py | tail -3

echo "=== 8. Coverage ==="
sbt -batch "runMain graft.Coverage COVERAGE.md" 2>&1 | tail -1

echo "=== REGEN DONE ==="
