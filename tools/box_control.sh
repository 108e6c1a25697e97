#!/bin/bash
# Box-epoch control for cross-round bench comparisons (r11 VERDICT #6):
# rebuild the PRIOR round's commit in a detached worktree and rerun a
# fixed sentinel list on the same fixture, so every cross-round ratio
# ships with an in-artifact control separating box drift from code.
# (The r8/r9 manual protocol, automated; r11's drift story had to lean
# on untouched-entry inference because this wasn't scripted.)
#
# Usage: box_control.sh <prior_commit> <sf_dir> <out_json> [sentinels] [attempts]
# Cores: SPARK_GRAFT_CPUS (default 32), so the control runs at the
# rung's width.
# The attempt policy is PASSED IN so the control runs the SAME policy
# as the rung it will be compared against (r12 VERDICT "What's wrong"
# #1: the sf25 rung recorded single-attempt walls while its control
# ran best-of-2 — a 1.4× stale-high artifact number with no box story
# to explain it).
set -e
COMMIT=$1
SFDIR=$2
OUT=$3
SENT=${4:-q1_pricing_summary,proj_datetime_suite,etl_scd2,win_rank_suite,agg_having,join_semi_exists,sql_q5_local_supplier,join_shuffle_agg}
ATTEMPTS=${5:-2}
WT=/tmp/graft_control_${COMMIT}
if [ ! -d "$WT" ]; then
  git -C /root/repo worktree add --detach "$WT" "$COMMIT"
fi
cd "$WT"
SPARK_GRAFT_SF_DIR="$SFDIR" SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
  SPARK_GRAFT_BENCH_ONLY="$SENT" \
  SPARK_GRAFT_BENCH_ATTEMPTS="$ATTEMPTS" \
  sbt -batch "runMain graft.Bench" 2>/dev/null \
  | grep '^{"metric"' > "$OUT"
echo "control written: $OUT (commit $COMMIT, $SFDIR, attempts=$ATTEMPTS)"
