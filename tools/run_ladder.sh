#!/bin/bash
# The scale ladder: graft.Bench on each rung's fixture, with a box-epoch
# control. tools/box_control.sh re-runs a fixed sentinel list at the
# control commit on the same fixture under the same attempt policy, and
# tools/merge_control.py embeds it in the artifact, so every cross-round
# ratio ships with the control that separates box drift from code.
#
# Usage:
#   tools/run_ladder.sh <control-commit> <round> <sfDir>...
#   tools/run_ladder.sh <control-commit> <round> streaming
#
# Each <sfDir> is a fixture directory named sf<scale> (tools/datagen.py,
# tools/datagen_big.py). Its name picks the rung's policy:
#   sf0.1     best-of-2; relational + ANN sentinels controlled at 2 attempts
#   sf1, sf5  best-of-2; no control
#   sf25      single-attempt bulk without the per-query-quadratic ANN
#             entries, then a best-of-2 re-pass of the high-variance ANN
#             entries merged in (tools/merge_rows.py); relational and
#             ANN sentinels controlled at 1 attempt
#   sf100     the subset fixture's entries only, single attempt, controlled
# It writes tools/bench_<tag>_r<round>.json (tag sf01 for sf0.1), and a
# controlled rung reads the prior round's tools/bench_<tag>_r<round-1>.json.
#
# streaming mode runs graft.tools.StreamingPerf in the sustained,
# saturated and long-window regimes SCALE.md records and writes
# tools/bench_streaming_r<round>.json (tools/mkstreaming.py renders it).
# It has no control run: StreamingPerf's arguments differ across rounds.
#
# SPARK_GRAFT_CPUS sets the cores of every run, controls included
# (default: all cores).
set -euo pipefail
[ $# -ge 3 ] || { sed -n '8,10p' "$0"; exit 2; }
CONTROL=$1
ROUND=$2
shift 2
cd "$(dirname "$0")/.."
export SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-$(nproc)}
TMP=$(mktemp -d)
trap 'rm -rf "$TMP"' EXIT

SENT_REL=q1_pricing_summary,proj_datetime_suite,etl_scd2,win_rank_suite,agg_having,join_semi_exists,sql_q5_local_supplier,join_shuffle_agg
SENT_ANN=bench_sim_ivfpq_indexed_fq,bench_sim_binary_fq,bench_sim_ivfpq_build_fq
SENT_SF100=join_shuffle_agg,bench_running_sum_fq,bench_sim_ivfpq_append_fq,bench_sim_binary_fq,bench_sim_lsh_indexed_fq,bench_sim_topk_fq
ANN_REPASS=bench_sim_ivfpq_build_fq,bench_sim_ivf_build_fq,bench_sim_lsh_build_fq,bench_sim_ivfpq_append_fq,bench_sim_ivfpq_indexed_fq,bench_sim_ivf_fq,bench_sim_binary_fq,bench_sim_ivfpq_deleted_fq
SF25_EXCLUDE=ext_sim_ivf,ext_sim_ivf_indexed,ext_sim_ivfpq,ext_sim_ivfpq_adaptive,ext_sim_ivfpq_appended,ext_sim_ivfpq_delta,ext_sim_ivfpq_indexed,ext_sim_ivfpq_deleted,ext_sim_retained,ext_sim_pq,ext_sim_topk,join_fuzzy_levenshtein,ext_sim_lsh_delta,ext_sim_binary,ext_sim_binary_indexed,ext_sim_filtered,ext_sim_filtered_ivfpq
SF100_ONLY=bench_sim_topk_fq,bench_sim_lsh_fq,bench_sim_lsh_build_fq,bench_sim_ivf_build_fq,bench_sim_ivfpq_build_fq,bench_sim_lsh_indexed_fq,bench_sim_lsh_filtered_fq,bench_sim_lsh_delta_fq,bench_sim_ivf_fq,bench_sim_ivf_indexed_fq,bench_sim_pq_fq,bench_sim_binary_fq,bench_sim_binary_indexed_fq,bench_sim_ivfpq_fq,bench_sim_ivfpq_indexed_fq,bench_sim_ivfpq_append_fq,bench_running_sum_fq,bench_dedup_semantic_fq,bench_dedup_semantic_count_fq,bench_dedup_semantic_rc_fq,ext_dedup_semantic,join_shuffle_agg,ext_sim_lsh,ext_sim_lsh_indexed,ext_sim_filtered_lsh,ext_dedup_embedding

# bench <sfDir> <attempts> <out> [VAR=value...]: one graft.Bench run,
# its JSON line to <out>
bench() {
  local dir=$1 attempts=$2 out=$3
  shift 3
  env SPARK_GRAFT_SF_DIR="$dir" SPARK_GRAFT_BENCH_ATTEMPTS="$attempts" "$@" \
    sbt -batch "runMain graft.Bench" 2>/dev/null | grep '^{"metric"' > "$out"
}

# control <sfDir> <sentinels> <attempts> <artifact> <prior>: the
# sentinels at the control commit, merged into <artifact>
control() {
  local ctl
  ctl=$(mktemp "$TMP/control.XXXX")
  bash tools/box_control.sh "$CONTROL" "$1" "$ctl" "$2" "$3"
  python3 tools/merge_control.py "$4" "$ctl" "$5" "$CONTROL" "$3"
}

# streamperf <out> <durationSec> <routedRps> <ivfpqRps> <dedupedBinRps> [VAR=value...]
streamperf() {
  local out=$1 args="$2 $3 $4 $5"
  shift 5
  env "$@" sbt -batch "runMain graft.tools.StreamingPerf $args" \
    2>/dev/null | grep '^{"metric"' > "$out"
}

if [ "$1" = streaming ]; then
  streamperf "$TMP/sustained.json" 120 15000 20000 3000
  streamperf "$TMP/saturated.json" 60 60000 80000 20000
  streamperf "$TMP/long.json" 360 15000 20000 3000 SPARK_GRAFT_STREAM_ONLY=deduped_binary
  streamperf "$TMP/long500.json" 360 15000 20000 500 SPARK_GRAFT_STREAM_ONLY=deduped_binary
  python3 - "$TMP" "tools/bench_streaming_r$ROUND.json" <<'EOF'
import json, sys
tmp, out = sys.argv[1], sys.argv[2]
parts = {"sustained": "sustained", "saturated": "saturated",
         "deduped_binary_long": "long", "deduped_binary_long_500": "long500"}
art = {"metric": "streaming_perf_rounds"}
for key, name in parts.items():
    with open(f"{tmp}/{name}.json") as f:
        art[key] = json.load(f)
with open(out, "w") as f:
    json.dump(art, f)
print(f"{out} assembled")
EOF
  exit 0
fi

# fail before any run, not after hours of them
git rev-parse -q --verify "$CONTROL^{commit}" >/dev/null ||
  { echo "run_ladder: no commit $CONTROL" >&2; exit 2; }
for DIR in "$@"; do
  SF=$(basename "$DIR")
  [ -d "$DIR" ] || { echo "run_ladder: no fixture $DIR" >&2; exit 2; }
  case $SF in
    sf1|sf5) ;;
    sf0.1|sf25|sf100)
      PRIOR=tools/bench_${SF/./}_r$((ROUND - 1)).json
      [ -f "$PRIOR" ] || { echo "run_ladder: no prior artifact $PRIOR" >&2; exit 2; } ;;
    *) echo "run_ladder: no rung policy for $SF" >&2; exit 2 ;;
  esac
done

for DIR in "$@"; do
  SF=$(basename "$DIR")
  TAG=${SF/./}
  ART=tools/bench_${TAG}_r$ROUND.json
  PRIOR=tools/bench_${TAG}_r$((ROUND - 1)).json
  case $SF in
    sf0.1)
      bench "$DIR" 2 "$ART"
      control "$DIR" "$SENT_REL,$SENT_ANN" 2 "$ART" "$PRIOR" ;;
    sf1|sf5)
      bench "$DIR" 2 "$ART" ;;
    sf25)
      bench "$DIR" 1 "$ART" SPARK_GRAFT_BENCH_EXCLUDE=$SF25_EXCLUDE
      bench "$DIR" 2 "$TMP/ann.json" SPARK_GRAFT_BENCH_ONLY=$ANN_REPASS
      python3 tools/merge_rows.py "$ART" "$TMP/ann.json" 2
      control "$DIR" "$SENT_REL" 1 "$ART" "$PRIOR"
      control "$DIR" "$SENT_ANN" 1 "$ART" "$PRIOR" ;;
    sf100)
      bench "$DIR" 1 "$ART" SPARK_GRAFT_BENCH_ONLY=$SF100_ONLY
      control "$DIR" "$SENT_SF100" 1 "$ART" "$PRIOR" ;;
  esac
  echo "rung $SF done: $ART"
done
