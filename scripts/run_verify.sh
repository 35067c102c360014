#!/bin/bash
# Local mirror of the driver's correctness run:
#   scripts/run_verify.sh [sfDir] [outDir]
# Compiles are NOT done here — run `sbt -batch compile` first.
set -e
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/verify_out}
rm -rf "$OUT"
"$(dirname "$0")/run_main.sh" graft.Verify "$SF" "$OUT"
python3 "$(dirname "$0")/check_oracle.py" "$SF" "$OUT"
