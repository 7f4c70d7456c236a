#!/usr/bin/env bash
# Round-closing board as a STRUCTURED committed record (round-12 verdict
# item 6): the builder's official idle run has lived in BASELINE.md prose
# while the driver's single BENCH_rN run — taken under whatever load the
# host happened to carry — was the only machine-readable number, so
# round-over-round comparisons had to band-read. This script runs the
# official configuration (sf0.1, one session, min-of-two, per-class retry
# ceilings) and writes tools/closing_board.json; Bench embeds that file
# verbatim as the "closing_board" field of every subsequent JSON line, so
# BENCH_r<N> carries BOTH runs: the driver's and the builder's idle one.
#
# Usage: tools/record_closing_board.sh <round>   (run on an idle host,
#        AFTER the round's last code commit — the embedded commit stamp
#        must pin the measured tree; re-run if it reads "+dirty")
set -euo pipefail
cd "$(dirname "$0")/.."

ROUND="${1:?usage: record_closing_board.sh <round>}"
OUT=tools/closing_board.json
LINE=/tmp/closing_board_line.json

# fail FAST on a dirty tree instead of discovering it from the bench
# line's +dirty stamp after a wasted ~10-minute run — in particular,
# $OUT itself from a previous uncommitted attempt counts as dirt (it is
# a Bench INPUT): commit it or `git checkout` it first
if ! python3 -c "
import sys; sys.path.insert(0, 'tools')
from git_commit import commit_stamp
sys.exit(1 if '+dirty' in commit_stamp() else 0)"; then
  echo "[closing-board] tree is dirty (stamp would read +dirty) — commit or restore first" >&2
  exit 1
fi

env SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  sbt -batch "runMain graft.Bench" \
  | grep '"metric":"total_full"' | sed 's/^\[info\] //' > "$LINE"

python3 - "$ROUND" "$LINE" "$OUT" <<'EOF'
import json, sys
round_n, line_path, out_path = int(sys.argv[1]), sys.argv[2], sys.argv[3]
with open(line_path) as f:
    d = json.load(f)
timed = {k: v for k, v in d["queries"].items() if v >= 0}
rec = {
    "round": round_n,
    "value_sec": round(sum(timed.values()), 2),
    "n_queries": len(timed),
    "per_query_sec": round(sum(timed.values()) / max(len(timed), 1), 4),
    "load_avg_1m": d.get("load_avg_1m"),
    "steal_pct": (d.get("steal") or {}).get("pct"),
    "retries": d.get("retries", {}),
    "n_failed": d.get("n_failed", 0),
    "commit": d.get("commit", "unknown"),
}
if "+dirty" in rec["commit"]:
    sys.exit(f"[closing-board] refusing to record a +dirty run ({rec['commit']}): "
             "commit the tree first, then re-run")
if rec["n_failed"]:
    sys.exit(f"[closing-board] refusing to record a run with {rec['n_failed']} failed queries")
with open(out_path, "w") as f:
    json.dump(rec, f, indent=1)
    f.write("\n")
print(f"[closing-board] r{round_n}: {rec['value_sec']} s / {rec['n_queries']} timed "
      f"= {rec['per_query_sec']} s/query (load {rec['load_avg_1m']}, "
      f"{len(rec['retries'])} retried) @ {rec['commit'][:12]} -> {out_path}")
EOF
