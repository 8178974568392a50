#!/bin/bash
# Local correctness gate: run graft.Verify at a scale factor, then hash-compare
# every query against the DuckDB oracle (same thing the driver does at sf0.01).
# Usage: tools/check.sh [sfDir] [outDir]
set -e -o pipefail
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/verify_out}
rm -rf "$OUT"
cd "$(dirname "$0")/.."
sbt --batch "runMain graft.Verify $SF $OUT" 2>&1 | grep -vE '^(Using|copying runtime jar)' | tail -5
python3 tools/compare.py "$SF" "$OUT"
