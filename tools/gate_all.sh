#!/bin/bash
# Three-SF differential gate (the round-8 discipline, one command):
# dump every catalog query with graft.Verify and DuckDB-compare at
# sf0.001, sf0.01, and sf0.1. Round 8's sweep caught two real
# scale-dependent divergences that the single-SF gate missed — run this
# at every round close, not just sf0.01.
# Usage: tools/gate_all.sh [outRoot]   (default /tmp/gate_r)
set -e -o pipefail
OUT=${1:-/tmp/gate_r}
for SF in 0.001 0.01 0.1; do
  echo "=== sf$SF ==="
  tools/runmain.sh graft.Verify /root/testdata/sf$SF "$OUT/sf$SF"
  python3 tools/check.py /root/testdata/sf$SF "$OUT/sf$SF" | tail -3
done
