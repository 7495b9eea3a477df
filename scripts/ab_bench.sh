#!/usr/bin/env bash
# B17-lite A/B bench orchestrator (reference src/bench/compare.ts:254-311,
# minus the in-place git surgery: detached WORKTREES replace the
# checkout/build/restore dance, so the working tree is never touched and
# the clean-tree guard + finally-restore of the reference become moot).
#
# Like the reference (compare.ts:181-211), the CURRENT bench entrypoint is
# injected into refs that predate it, so both sides run the same harness.
#
#   scripts/ab_bench.sh <baseRef> <candRef> [outDir] [sfDir] [grid args...]
#
# Produces <outDir>/report-<baseRef>-vs-<candRef>.csv (+ -rows.json) and
# prints the delta summary.
set -euo pipefail
REF_A=${1:?usage: ab_bench.sh <baseRef> <candRef> [outDir] [sfDir]}
REF_B=${2:?usage: ab_bench.sh <baseRef> <candRef> [outDir] [sfDir]}
OUT=${3:-/tmp/ab_bench}
SF=${4:-/root/testdata/sf0.01}
shift $(( $# > 4 ? 4 : $# ))
GRID_ARGS=${*:-}
CPUS=${SPARK_GRAFT_CPUS:-8}
REPO=$(git rev-parse --show-toplevel)
san() { echo "$1" | tr '/~^ ' '____'; }
REPORT="$OUT/report-$(san "$REF_A")-vs-$(san "$REF_B")"
mkdir -p "$OUT"

run_side() { # $1 = side label (A|B), $2 = git ref
  local side=$1 ref=$2
  local wt="$OUT/tree-$side" res="$OUT/results-$side"
  rm -rf "$res"; mkdir -p "$res"
  git -C "$REPO" worktree remove --force "$wt" 2>/dev/null || true
  git -C "$REPO" worktree add --force --detach "$wt" "$ref" >/dev/null
  # bench-source injection: old refs may predate SweepMain, and the
  # injected SweepMain builds its session through GraftSession
  if [ ! -f "$wt/src/main/scala/graft/bench/SweepMain.scala" ]; then
    cp "$REPO/src/main/scala/graft/bench/SweepMain.scala" \
       "$wt/src/main/scala/graft/bench/SweepMain.scala"
  fi
  if [ ! -f "$wt/src/main/scala/graft/GraftSession.scala" ]; then
    cp "$REPO/src/main/scala/graft/GraftSession.scala" \
       "$wt/src/main/scala/graft/GraftSession.scala"
  fi
  echo "== [$side] $ref: build + sweep -> $res"
  ( cd "$wt" && SPARK_GRAFT_CPUS="$CPUS" \
      sbt -batch "runMain graft.bench.SweepMain $SF $res $GRID_ARGS" )
  git -C "$REPO" worktree remove --force "$wt"
}

run_side A "$REF_A"
run_side B "$REF_B"

echo "== report: $REPORT.csv"
( cd "$REPO" && SPARK_GRAFT_CPUS="$CPUS" \
    sbt -batch "runMain graft.bench.ReportMain $OUT/results-A $OUT/results-B $REPORT" )
