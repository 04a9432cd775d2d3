#!/usr/bin/env bash
# End-of-round gate, one command. Mirrors the cadence NOTES.md records:
#   1. clean build + full test suite
#   2. Verify + type-strict check_oracle + static type lint at sf0.01 AND sf0.001
#   3. PLANS.md plan audit
#   4. DetSweep bit-identity
# Bench and ScaleCurve are run separately (they want a quiet box).
# Usage: tools/gate.sh [skip-tests]
set -euo pipefail
cd "$(dirname "$0")/.."

if [[ "${1:-}" != "skip-tests" ]]; then
  sbt -batch clean test
else
  sbt -batch compile
fi

CP="target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
AO=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  AO="$AO --add-opens=java.base/$p=ALL-UNNAMED"
done
# heap: half of the box's memory (as the test command sizes SPARK_DRIVER_MEM),
# at least 2g and at most 24g
JAVA="java -Xmx$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 24 ? 24 : g) "g"}' /proc/meminfo) -cp $CP $AO"

for sf in sf0.01 sf0.001; do
  out="/tmp/gate_verify_$sf"
  rm -rf "$out"
  SPARK_GRAFT_CPUS=32 $JAVA graft.Verify "/root/testdata/$sf" "$out"
  python3 tools/check_oracle.py "/root/testdata/$sf" "$out"
  python3 tools/lint_oracle_types.py "/root/testdata/$sf" "$out"
done

$JAVA graft.tools.PlanAudit /root/testdata/sf0.01
$JAVA graft.tools.DetSweep /tmp/gate_detsweep
python3 tools/check_detmath.py /tmp/gate_detsweep
echo "GATE GREEN"
