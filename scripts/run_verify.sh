#!/bin/bash
# Local mirror of the driver's correctness run:
#   scripts/run_verify.sh [sfDir] [outDir]
# Compiles are NOT done here — run `sbt -batch compile` first.
# The DuckDB compare runs even when a Verify gate fails, so one gate
# failure does not hide the oracle report; the exit is non-zero if
# either step failed.
set -e
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/verify_out}
rm -rf "$OUT"
verify=0
"$(dirname "$0")/run_main.sh" graft.Verify "$SF" "$OUT" || verify=$?
oracle=0
python3 "$(dirname "$0")/check_oracle.py" "$SF" "$OUT" || oracle=$?
[ "$verify" -eq 0 ] && [ "$oracle" -eq 0 ]
