#!/usr/bin/env bash
# One-command round gate: sbt test + Verify + DuckDB oracle + Bench +
# the perfbench workloads customs_stream, batch_suite and http_stream
# (seed 1, each must be correct with 0 failed).
# Exits nonzero the moment any leg goes red, and prints one PASS/FAIL
# summary line per leg — so loader-class breakage (round 7: a testdata
# regeneration silently darkened 55/84 queries) is caught the moment it
# happens instead of at judge time.
#
# Usage: tools/gate.sh [sf_dir_for_verify] [sf_dir_for_bench]
#   defaults: verify @ sf0.01, bench @ sf0.01 (use sf0.1 for the
#   official-shaped bench; it is ~10x slower).
set -u
cd "$(dirname "$0")/.."

VERIFY_SF="${1:-/root/testdata/sf0.01}"
BENCH_SF="${2:-/root/testdata/sf0.01}"
OUT="$(mktemp -d /tmp/graft-gate.XXXXXX)"
declare -a LEGS=()
FAIL=0

leg() { # name rc
  if [ "$2" -eq 0 ]; then LEGS+=("PASS $1"); else LEGS+=("FAIL $1"); FAIL=1; fi
}

echo "== gate: sbt test =="
sbt -batch test > "$OUT/test.log" 2>&1
rc=$?
grep -E "Tests: succeeded|All tests passed|TESTS FAILED|\*\*\* FAILED \*\*\*" "$OUT/test.log" | tail -5
leg "sbt-test" $rc

echo "== gate: Verify @ $VERIFY_SF =="
sbt -batch "runMain graft.Verify $VERIFY_SF $OUT/verify" > "$OUT/verify.log" 2>&1
rc=$?
[ -f "$OUT/verify/verify_errors.json" ] && cat "$OUT/verify/verify_errors.json" | head -c 800 && echo
leg "verify-dump" $rc

echo "== gate: DuckDB oracle =="
python3 tools/check_oracle.py "$OUT/verify" "$VERIFY_SF" > "$OUT/oracle.log" 2>&1
rc=$?
grep -E "^FAIL|^== " "$OUT/oracle.log" | tail -10
leg "oracle" $rc

# SPARK_GRAFT_BENCH_RUNS: default 1 for speed; export 3 for the
# official-shaped min-of-3 (a single run carries one-shot noise)
BENCH_RUNS="${SPARK_GRAFT_BENCH_RUNS:-1}"
echo "== gate: Bench @ $BENCH_SF ($BENCH_RUNS run(s)/query) =="
SPARK_GRAFT_SF_DIR="$BENCH_SF" SPARK_GRAFT_BENCH_RUNS="$BENCH_RUNS" \
  sbt -batch "runMain graft.Bench" > "$OUT/bench.log" 2>&1
rc=$?
BLINE=$(grep -o '{"metric".*' "$OUT/bench.log" | tail -1)
echo "$BLINE" | head -c 400; echo
case "$BLINE" in
  *'"valid":true'*) : ;;
  *) rc=1 ;;
esac
leg "bench" $rc

# the benchmark's harness compiles against the engine's pipeline entry
# points and checks every streamed alert against its batch twin, so a
# run that is not correct, or that fails an operation, is red here.
# http_stream is not a declared workload, but it is the batch-twin
# check of the HTTP streams (analyzeStreamFull, thresholdAlertStream)
for w in customs_stream batch_suite http_stream; do
  echo "== gate: perfbench $w (seed 1) =="
  python3 perfbench/run.py --workload "$w" --seed 1 --seconds 10 --trace 0 \
    > "$OUT/perfbench-$w.log" 2> "$OUT/perfbench-$w.err"
  prc=$?
  rc=$prc
  PLINE=$(tail -1 "$OUT/perfbench-$w.log")
  echo "$PLINE" | head -c 400; echo
  echo "$PLINE" | python3 -c 'import json, sys
r = json.loads(sys.stdin.read())
sys.exit(0 if r.get("correct") is True and r.get("failed") == 0 else 1)' \
    || rc=1
  if [ "$rc" -ne 0 ]; then
    echo "perfbench $w exited $prc; last 30 lines of its stderr:"
    tail -30 "$OUT/perfbench-$w.err"
  fi
  leg "perfbench-$w" $rc
done

echo
echo "== gate summary (logs in $OUT) =="
printf '%s\n' "${LEGS[@]}"
if [ "$FAIL" -eq 0 ]; then echo "GATE: PASS"; else echo "GATE: FAIL"; fi
exit $FAIL
