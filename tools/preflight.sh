#!/bin/bash
# Round preflight: every gate the external driver applies, locally.
# Usage: bash tools/preflight.sh [--sf01]
# pipefail: every gate below pipes through `tail`, which would
# otherwise mask a failing step's exit status
set -u -o pipefail
cd "$(dirname "$0")/.."
fail=0
# stale /tmp/bhps_* fixture state from an interrupted run corrupts the
# next phase (observed r11: phantom value mismatches) — clean between
# phases; phases themselves already serialize (one Spark at a time)
clean() { rm -rf /tmp/bhps_tx* /tmp/bhps_ivf* /tmp/bhps_decl* /tmp/bhps_stream* /tmp/bhps_empty* 2>/dev/null; }
clean
echo "== driver prefix (first:50) =="
python tools/verify_driver.py first:50 2>/dev/null | tail -2 || fail=1
clean
echo "== full registry vs oracles (sf0.01, arrow-canonical hash) =="
python tools/verify_driver.py 2>/dev/null | tail -2 || fail=1
clean
echo "== bench (sf0.1) =="
python bench.py 2>/dev/null | tail -1 || fail=1
clean
echo "== pytest =="
python -m pytest tests/ -q 2>&1 | tail -1 || fail=1
for arg in "$@"; do
  if [ "$arg" = "--sf01" ]; then
    echo "== sf0.1 oracle sweep (~18 min) =="
    BHPS_ORACLE_SF_DIR=/root/testdata/sf0.1 \
      python -m pytest tests/test_registry_oracle.py -q 2>&1 | tail -1 || fail=1
  fi
  if [ "$arg" = "--sf1" ]; then
    echo "== sf1 scale sweep + ratio-regression gate (~15 min) =="
    [ -d /tmp/bhps_sf1 ] || python tools/make_sf1.py || fail=1
    python tools/scale_sweep.py >/dev/null || { echo "SCALE GATE FAILED"; fail=1; }
    tail -5 SCALE1.md
  fi
done
exit $fail
