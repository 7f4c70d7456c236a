#!/usr/bin/env bash
# Local correctness leg with the same incremental contract as
# tools/scale_leg.sh: re-check only the queries whose code paths changed
# since a given commit (tools/changed_queries.py — any shared-code change
# falls back to the full board), at one SF, against the DuckDB oracle.
# The DRIVER always grades the full board; this is the builder-side
# fast loop for round closing.
#
# Usage:
#   tools/verify_leg.sh <sfDir>                     # full board
#   tools/verify_leg.sh <sfDir> --since <commit>    # changed queries only
set -euo pipefail
cd "$(dirname "$0")/.."

SFDIR="${1:?usage: verify_leg.sh <sfDir> [--since <commit>]}"
OUT="/tmp/graft_verify_leg_$(basename "$SFDIR")"
ONLY=""

if [ "${2:-}" = "--since" ]; then
  SINCE="${3:?--since needs a commit}"
  CHANGED=$(python3 tools/changed_queries.py "$SINCE")
  if [ "$CHANGED" = "FULL" ]; then
    echo "[verify] shared code changed since $SINCE -> full board"
  elif [ -z "$CHANGED" ]; then
    echo "[verify] no src/main change since $SINCE -> nothing to re-check"
    exit 0
  else
    # intersect with the board: changed_queries also reports oracle-only
    # names from edited files, and Verify fails on any name that is not a
    # board query. An EMPTY intersection means the detector's names don't
    # map onto the board — fall back to the FULL board.
    ONLY=$(python3 - "$CHANGED" <<'EOF'
import sys
changed = set(sys.argv[1].split(","))
# the board = Verify's query map; bench_ref covers the timed board but
# NOT the oracle-timed twins, so take names from the dumped oracle keys
# plus bench_ref (superset of both surfaces)
import json
names = set(json.load(open("tools/bench_ref_sf0.01.json")))
try:
    names |= set(json.load(open("ROWS_ONLY.json")))
except Exception:
    pass
print(",".join(sorted(changed & names)))
EOF
)
    if [ -z "$ONLY" ]; then
      echo "[verify] changed names match no board entry -> full board"
    else
      echo "[verify] incremental since $SINCE: $ONLY"
    fi
  fi
fi

rm -rf "$OUT"
# no trailing '|| true': with the header's pipefail a Verify crash must
# fail the leg, not leave a partial dump for check_oracle to grade as
# green-by-omission (the grep group alone may no-match harmlessly)
SPARK_GRAFT_CPUS=16 sbt -batch "runMain graft.Verify $SFDIR $OUT ${ONLY}" \
  | { grep -E '\[verify\]|error' || true; } | tail -5
python3 tools/check_oracle.py "$SFDIR" "$OUT"
