#!/usr/bin/env bash
# x10 scale-leg sweep as a per-round committed artifact (SCALE_r<N>.json).
#
# Runs the full board twice — at sf0.1 and at the x10 fixture
# (tools/gen_scale.py sf1: documents/embeddings/events tiled 10x with
# structure-preserving permutations, TPC-H tables symlinked) — and gates
# every query's x10-data time ratio through tools/check_scale.py
# (ratio <= 10 where the x10 leg costs > 1 s; two fixture-construction
# allowances documented there). Queries that trip the gate on the
# full-board pass are re-run ISOLATED on both dirs (this host's steal
# bursts inflate rotating victims in long runs — BASELINE.md round-5
# methodology note) and merged by per-query min before the final verdict.
#
# Usage:
#   tools/scale_leg.sh <round>       # e.g. tools/scale_leg.sh 8
#   tools/scale_leg.sh <round> --incremental
#       # re-run ONLY queries whose code paths changed since the previous
#       # green artifact's commit stamp (tools/changed_queries.py decides;
#       # any shared-code change falls back to the full sweep), carry the
#       # rest from that artifact with provenance recorded. The merged
#       # artifact still covers the whole board (ScaleRefSpec-exact), the
#       # gate still evaluates every query, and a previous artifact that
#       # was not fully green refuses to merge. A no-new-entries round
#       # closes in minutes instead of ~35.
#   tools/scale_leg.sh --selftest    # prove the gate catches a planted
#                                    # quadratic (Bench's toy_quadratic
#                                    # negative control) -> SCALE_selftest.json
set -euo pipefail
cd "$(dirname "$0")/.."

SF01=/root/testdata/sf0.1
# _r9 suffix: fixture format v2 (TPC-H fact/dim tables tiled x10 since
# round 9) — the name bump forces regeneration over a cached v1 dir
SF1_DIR=/tmp/graft_sf1_r9

if [ ! -f "$SF1_DIR/events.parquet" ] && [ ! -d "$SF1_DIR/events.parquet" ]; then
  python3 tools/gen_scale.py sf1 "$SF01" "$SF1_DIR"
fi

run_bench() { # sf_dir out_file [extra env pairs...]
  local dir="$1" out="$2"; shift 2
  env SPARK_GRAFT_SF_DIR="$dir" SPARK_GRAFT_CPUS=32 "$@" \
    sbt -batch "runMain graft.Bench" \
    | grep '"metric":"total_full"' | sed 's/^\[info\] //' > "$out"
}

if [ "${1:?usage: scale_leg.sh <round> [--incremental]|--selftest}" = "--selftest" ]; then
  echo "[scale] selftest: planted quadratic must trip the gate"
  run_bench "$SF01" /tmp/scale_self_base.json SPARK_GRAFT_BENCH_QUERIES=toy_quadratic
  run_bench "$SF1_DIR" /tmp/scale_self_x10.json SPARK_GRAFT_BENCH_QUERIES=toy_quadratic
  python3 tools/check_scale.py /tmp/scale_self_base.json /tmp/scale_self_x10.json \
    --json SCALE_selftest.json --expect-fail toy_quadratic
  exit $?
fi

ROUND="$1"
MERGE_ARGS=()

if [ "${2:-}" = "--incremental" ]; then
  # the newest green artifact AT OR BEFORE this round + the re-run set,
  # decided by the committed commit stamps (never by builder memory).
  # "At" covers the same-round refresh: a localized queries/ edit landed
  # AFTER this round's full sweep re-runs only its entries and overwrites
  # the round artifact in place (check_scale re-verifies the merge base
  # is green and git-clean before carrying anything).
  PLAN=$(python3 - "$ROUND" <<'EOF'
import glob, json, re, subprocess, sys
round_now = int(sys.argv[1])
prevs = []
for f in glob.glob("SCALE_r*.json"):
    m = re.match(r"SCALE_r(\d+)\.json$", f)
    if m and int(m.group(1)) <= round_now:
        prevs.append((int(m.group(1)), f))
if not prevs:
    print("FULL no-previous-artifact"); sys.exit()
prev_file = max(prevs)[1]
prev = json.load(open(prev_file))
commit = prev.get("commit", "unknown")
if commit in ("", "unknown") or "+dirty" in commit:
    print(f"FULL previous-artifact-unstamped({prev_file})"); sys.exit()
if prev.get("violations") or prev.get("failed_at_base") or prev.get("failed_at_x10"):
    print(f"FULL previous-artifact-not-green({prev_file})"); sys.exit()
changed = subprocess.check_output(
    ["python3", "tools/changed_queries.py", commit]).decode().strip()
if changed == "FULL":
    print(f"FULL shared-code-changed-since({commit[:12]})"); sys.exit()
board = set(json.load(open("tools/bench_ref_sf0.01.json")))
changed_set = set(changed.split(",")) if changed else set()
new_entries = board - set(prev.get("queries", {}))
rerun = sorted((changed_set & board) | new_entries)
print("INCR", prev_file, ",".join(rerun))
EOF
)
  read -r MODE PREV_FILE RERUN <<<"$PLAN"
  if [ "$MODE" = "FULL" ]; then
    echo "[scale] incremental fallback -> full sweep ($PREV_FILE)"
  else
    echo "[scale] incremental vs $PREV_FILE; re-running: ${RERUN:-<none>}"
    MERGE_ARGS=(--merge-base "$PREV_FILE")
    if [ -z "${RERUN:-}" ]; then
      # pure re-stamp: nothing to run, carry everything
      echo '{"metric":"total_full","queries":{}}' > /tmp/scale_base.json
      echo '{"metric":"total_full","queries":{}}' > /tmp/scale_x10.json
    else
      run_bench "$SF01" /tmp/scale_base.json SPARK_GRAFT_BENCH_QUERIES="$RERUN"
      run_bench "$SF1_DIR" /tmp/scale_x10.json SPARK_GRAFT_BENCH_QUERIES="$RERUN"
    fi
    # gate into a TEMP artifact first and only install over
    # SCALE_r<N>.json at the end: in the same-round refresh PREV_FILE IS
    # the output path, and writing the first (possibly red) attempt
    # directly would clobber the committed green merge base — the retry
    # invocation below would then refuse its own --merge-base as dirty/
    # not-green and the retry discipline could never exonerate anything
    TRY=/tmp/scale_incr_try.json
    # a stale TRY from a previous crashed invocation must never feed the
    # suspects list or get installed below — clear it up front and guard
    # the install on the file actually having been (re)written
    rm -f "$TRY"
    set +e
    python3 tools/check_scale.py /tmp/scale_base.json /tmp/scale_x10.json \
      "${MERGE_ARGS[@]}" --json "$TRY" --round "$ROUND"
    rc=$?
    set -e
    if [ $rc -ne 0 ] && [ -f "$TRY" ]; then
      # same isolated-retry/min-merge discipline as the full sweep: a
      # steal burst on a re-run leg must not close the round red (and a
      # red artifact would force the NEXT round back to the full sweep)
      SUSPECTS=$(python3 -c "
import json
print(','.join(sorted(v['query'] for v in json.load(open('$TRY'))['violations'])))")
      echo "[scale] isolated re-run of suspects (incremental): $SUSPECTS"
      run_bench "$SF01" /tmp/scale_base_retry.json SPARK_GRAFT_BENCH_QUERIES="$SUSPECTS"
      run_bench "$SF1_DIR" /tmp/scale_x10_retry.json SPARK_GRAFT_BENCH_QUERIES="$SUSPECTS"
      set +e
      python3 tools/check_scale.py /tmp/scale_base.json /tmp/scale_x10.json \
        "${MERGE_ARGS[@]}" \
        --retry-base /tmp/scale_base_retry.json --retry-x10 /tmp/scale_x10_retry.json \
        --json "$TRY" --round "$ROUND"
      rc=$?
      set -e
    fi
    # install the final verdict (green or red — a red final state must be
    # visible in the tree; `git checkout` restores the old green base if
    # the builder decides to investigate instead of committing). If
    # check_scale crashed before writing TRY there is nothing to install
    # — leave the committed artifact untouched and exit red.
    if [ -f "$TRY" ]; then
      mv "$TRY" "SCALE_r${ROUND}.json"
      echo "[scale] wrote SCALE_r${ROUND}.json (rc=$rc, incremental)"
    else
      echo "[scale] check_scale produced no artifact (rc=$rc) — committed artifact left untouched" >&2
      [ $rc -eq 0 ] && rc=1
    fi
    exit $rc
  fi
fi

echo "[scale] base sweep at $SF01"
run_bench "$SF01" /tmp/scale_base.json
echo "[scale] x10 sweep at $SF1_DIR"
run_bench "$SF1_DIR" /tmp/scale_x10.json

# same TRY discipline as the incremental path: gate into a temp artifact
# and install at the end — deriving suspects from (or clobbering) a
# committed same-name artifact when check_scale crashed before writing
# would retry the wrong set / lose the committed green base
TRY=/tmp/scale_full_try.json
rm -f "$TRY"
set +e
python3 tools/check_scale.py /tmp/scale_base.json /tmp/scale_x10.json \
  --json "$TRY" --round "$ROUND"
rc=$?
set -e
if [ $rc -ne 0 ] && [ -f "$TRY" ]; then
  # re-run the flagged queries isolated on both dirs; min-merge and re-gate
  SUSPECTS=$(python3 -c "
import json
print(','.join(sorted(v['query'] for v in json.load(open('$TRY'))['violations'])))")
  echo "[scale] isolated re-run of suspects: $SUSPECTS"
  run_bench "$SF01" /tmp/scale_base_retry.json SPARK_GRAFT_BENCH_QUERIES="$SUSPECTS"
  run_bench "$SF1_DIR" /tmp/scale_x10_retry.json SPARK_GRAFT_BENCH_QUERIES="$SUSPECTS"
  set +e
  python3 tools/check_scale.py /tmp/scale_base.json /tmp/scale_x10.json \
    --retry-base /tmp/scale_base_retry.json --retry-x10 /tmp/scale_x10_retry.json \
    --json "$TRY" --round "$ROUND"
  rc=$?
  set -e
fi
if [ -f "$TRY" ]; then
  mv "$TRY" "SCALE_r${ROUND}.json"
  echo "[scale] wrote SCALE_r${ROUND}.json (rc=$rc)"
else
  echo "[scale] check_scale produced no artifact (rc=$rc) — committed artifact left untouched" >&2
  [ $rc -eq 0 ] && rc=1
fi
exit $rc
