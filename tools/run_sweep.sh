#!/bin/bash
# Close sweep: 3-SF full-catalog oracle gate + types scan + local[5]
# determinism + the 32x fact and 8x corpus amplified gates + the REPL
# end-to-end leg — the reference README's example queries piped through
# the interactive binary against the reference's own example CSV, diffed
# against the pinned expected session.  Prints the log to stdout; the
# whole sequence exceeds interactive timeouts, so run it detached and
# redirect it to a file of your choice.
#
# Usage: tools/run_sweep.sh <testdata_dir> [reference_csv] > sweep.log
#   <testdata_dir> holds sf0.001/, sf0.01/ and sf0.1/; the REPL leg is
#   skipped when [reference_csv] is absent.
set -u
TESTDATA="${1:?usage: tools/run_sweep.sh <testdata_dir> [reference_csv]}"
REF_CSV="${2:-}"
cd "$(dirname "$0")/.."
NOISE="WARN|INFO|Using|Setting|To adjust"
{
  echo "=== full catalog sweep at HEAD $(git rev-parse --short HEAD) ($(date -u +%Y-%m-%dT%H:%MZ)) ==="
  # Keep EVERY per-query FAIL line plus the one aggregate summary line
  # per leg: a tail cap would silently drop named failures past the cap.
  for sf in sf0.001 sf0.01 sf0.1; do
    echo "--- $sf ---"
    python tools/check_correctness.py "$TESTDATA/$sf" 2>&1 \
      | grep -vE "$NOISE" \
      | grep -E "FAIL|ok, "
  done
  echo "--- types-only scan (sf0.01) ---"
  python tools/check_correctness.py "$TESTDATA/sf0.01" --types-only 2>&1 | tail -2
  echo "--- local[5] determinism (sf0.01) ---"
  SPARK_GRAFT_CPUS=5 python tools/check_correctness.py "$TESTDATA/sf0.01" 2>&1 \
    | grep -vE "$NOISE" \
    | grep -E "FAIL|ok, "
  echo "--- amplified correctness (sf0.1 x32, fact-bound gate) ---"
  python tools/amplified_correctness.py "$TESTDATA/sf0.1" 32 2>&1 \
    | grep -vE "$NOISE" \
    | grep -E "FAIL|ok |failed at|wrote"
  echo "--- amplified correctness (sf0.1 x8, corpus-bound gate) ---"
  python tools/amplified_correctness.py --corpus "$TESTDATA/sf0.1" 8 2>&1 \
    | grep -vE "$NOISE" \
    | grep -E "FAIL|ok |failed at|wrote"
  echo "--- REPL end-to-end (reference README queries vs pinned session) ---"
  if [ -n "$REF_CSV" ] && [ -f "$REF_CSV" ]; then
    got="$(mktemp)"
    python -m simple_query_engine_spark.repl "$REF_CSV" \
        < examples/repl_reference_session.txt 2>/dev/null \
      | grep -vE "$NOISE" > "$got"
    if diff -u examples/repl_expected_reference_session.txt "$got"; then
      echo "REPL leg: output identical to pinned session — ok"
    else
      echo "REPL leg: FAIL (diff above)"
    fi
    rm -f "$got"
  else
    echo "REPL leg: reference CSV not given or absent — skipped"
  fi
  echo "=== sweep done ($(date -u +%Y-%m-%dT%H:%MZ)) ==="
} 2>&1
