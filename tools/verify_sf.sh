#!/bin/bash
# Cross-SF certification (round-7 verdict item 8): re-run the FULL
# oracled set at an arbitrary SF and record a CORRECTNESS-style JSON
# artifact — makes the sf0.1 certification a one-command routine per
# round instead of a one-off manual run.
#
# Usage: tools/verify_sf.sh [sfDir] [outJson]
#   tools/verify_sf.sh /root/testdata/sf0.1 CORRECTNESS_sf01_r08.json
set -euo pipefail
cd "$(dirname "$0")/.."
SFDIR="${1:-/root/testdata/sf0.1}"
OUT="${2:-CORRECTNESS_sf.json}"
TMP="$(mktemp -d /tmp/graft_verify_sf.XXXXXX)"
trap 'rm -rf "$TMP"' EXIT
sbt -batch "runMain graft.Verify $SFDIR $TMP" >/dev/null
CHECK_JSON_OUT="$OUT" python3 tools/check.py "$SFDIR" "$TMP"
echo "wrote $OUT"
