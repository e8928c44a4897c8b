#!/bin/bash
# Round-close ritual, mechanized:
#   1. compile
#   2. correctness sweep: every SparkEntry entry vs the DuckDB oracle at
#      sf0.001 / sf0.01 / sf0.1
#   3. bench at sf0.1; the run must plan no unpartitioned window
#   4. full sbt test
# A failing compile, oracle check or test suite stops the ritual with a
# nonzero exit. Unpartitioned windows in step 3 do not stop it: step 4
# still runs, and the script exits nonzero at the end.
# Artifacts land in $OUT_DIR (default /tmp/roundcheck).
set -euo pipefail
cd "$(dirname "$0")/.."

OUT_DIR="${OUT_DIR:-/tmp/roundcheck}"
CPUS="${SPARK_GRAFT_CPUS:-32}"
mkdir -p "$OUT_DIR"

echo "== [1/4] compile"
sbt -batch compile > "$OUT_DIR/compile.log" 2>&1

echo "== [2/4] correctness sweep (3 SFs)"
for sf in 0.001 0.01 0.1; do
  SPARK_GRAFT_CPUS="$CPUS" sbt -batch \
    "runMain graft.Verify /root/testdata/sf$sf $OUT_DIR/verify_$sf" \
    > "$OUT_DIR/verify_$sf.log" 2>&1
  python3 tools/check.py "/root/testdata/sf$sf" "$OUT_DIR/verify_$sf" \
    | tail -1 | tee "$OUT_DIR/check_$sf.txt"
  grep -q ", 0 failed" "$OUT_DIR/check_$sf.txt"
done

echo "== [3/4] bench at sf0.1 (local[$CPUS])"
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS="$CPUS" \
  SPARK_GRAFT_BENCH_OUT="$OUT_DIR/BENCH_FULL.json" \
  sbt -batch "runMain graft.Bench" > "$OUT_DIR/bench.log" 2>&1
# Bench keeps Spark's window planner at WARN, so every window planned
# without a partition key logs this line
WINDOWS=$(grep -c "No Partition Defined for Window operation" "$OUT_DIR/bench.log" || true)
WINDOW_RC=0
if [ "$WINDOWS" != "0" ]; then
  echo "unpartitioned window planned $WINDOWS time(s); see $OUT_DIR/bench.log"
  WINDOW_RC=1
fi
grep '"metric"' "$OUT_DIR/bench.log" | tail -1

echo "== [4/4] full sbt test"
TEST_RC=0
sbt -batch test > "$OUT_DIR/test.log" 2>&1 || TEST_RC=$?
# A close is only valid when sbt exited 0 AND the log carries the
# aggregate full-suite summary with zero failures AND zero aborted suites:
# a log that ends mid-suite is not evidence.
TEST_SUMMARY=$(grep -E "Tests: succeeded [0-9]+, failed 0, canceled 0" \
  "$OUT_DIR/test.log" | tail -1 || true)
SUITES_OK=$(grep -E "Suites: completed [0-9]+, aborted 0" \
  "$OUT_DIR/test.log" | tail -1 || true)
if [ "$TEST_RC" != "0" ] || [ -z "$TEST_SUMMARY" ] || [ -z "$SUITES_OK" ]; then
  echo "FATAL: full-suite evidence incomplete (sbt rc $TEST_RC;"
  echo " summary='$TEST_SUMMARY'; suites='$SUITES_OK') — a truncated or"
  echo " failing test.log does not close a round. Last lines:"
  tail -5 "$OUT_DIR/test.log"
  exit 1
fi
echo "$TEST_SUMMARY"
echo "$SUITES_OK"

echo "== roundcheck complete; artifacts in $OUT_DIR (window rc $WINDOW_RC)"
exit "$WINDOW_RC"
