#!/usr/bin/env bash
# Which registry queries plan differently at <ref> than in the working tree?
#
#   bash tools/plan_diff.sh <ref> <sf_dir> [query ...]
#
# <sf_dir> is the testdata directory to plan against (sf0.01 is the usual
# one; PlanDump plans every query and runs only its eager steps, such as
# Lloyd training and the docstore carriers' writes). With no query names
# every registered query is dumped.
#
# The script
#   1. exports `git archive` copies of <ref> and of the working tree (the
#      tracked files with their uncommitted edits, plus untracked files
#      .gitignore does not exclude) into a fresh temporary directory;
#   2. runs `graft.PlanDump` in each copy, one after the other and never at
#      the same time: several carriers write fixed /tmp paths
#      (/tmp/graft_s13_zorder_<hash> and its siblings), so two concurrent
#      dumps would read each other's files;
#   3. strips the ids that change between runs of the same code: expression
#      ids (`#123`), `plan_id=<n>`, object identities (`[[F@1a2b3c`), JVM
#      lambda class names (`$$Lambda$6207/0x00007f89e55fb600`) and lambda
#      variable counters (`lambda x_44`: Spark names lambda variables from
#      one JVM-wide counter, so a query's names shift with the number of
#      lambdas any code built before it);
#   4. prints `PLANDIFF <query>` for each query whose stripped plan differs,
#      then a unified diff of each, and `PLANDIFF none` when all agree.
#
# Known to differ without a code change to the query, so a line for one of
# these is not evidence of one:
#   - j2_entity_summary, j2_profile_struct, a1_global_metrics: the
#     `Expand` projection order of a multi-countDistinct aggregate, which
#     Spark takes from the hash of fresh expression ids;
#   - s13_zorder_scan, when <ref> predates the exact-count z-order bounds
#     (Layout.zorderCluster): its `Shards: k/16` followed the number of RDDs
#     the session had made before it, through range partitioning's seed.
#
# It only reports: the exit status is 0 whether or not plans differ, and
# non-zero only when a copy fails to build or dump.
set -euo pipefail
[[ $# -ge 2 ]] || { sed -n '2,9p' "$0"; exit 2; }
REF="$1"; SF_DIR="$2"; shift 2
ROOT="$(git rev-parse --show-toplevel)"
WORK="$(mktemp -d -t plan_diff.XXXXXX)"
trap 'rm -rf "$WORK/ref" "$WORK/tree"' EXIT

mkdir -p "$WORK/ref" "$WORK/tree"
git -C "$ROOT" archive "$REF" | tar -x -C "$WORK/ref"
SNAP="$(git -C "$ROOT" stash create)"
git -C "$ROOT" archive "${SNAP:-HEAD}" | tar -x -C "$WORK/tree"
(cd "$ROOT" && git ls-files -z --others --exclude-standard | tar --null -T - -c) |
  tar -x -C "$WORK/tree"

for side in ref tree; do
  echo "=== plan_diff: PlanDump of $side ===" >&2
  (cd "$WORK/$side" && SPARK_GRAFT_SF_DIR="$SF_DIR" \
    sbt --batch -Dsbt.log.noformat=true "runMain graft.PlanDump $WORK/plans_$side $*") \
    > "$WORK/dump_$side.log" 2>&1 || { tail -20 "$WORK/dump_$side.log" >&2; exit 1; }
  grep -h "FAILED" "$WORK/dump_$side.log" >&2 || true
done

strip() {
  sed -E 's/#[0-9]+//g; s/plan_id=[0-9]+//g; s/@[0-9a-f]+//g; s/(lambda [a-z]+)_[0-9]+/\1/g
    s/\$Lambda\$[0-9]+\/0x[0-9a-f]+/$Lambda/g' "$1"
}
differ=0
for f in $( (ls "$WORK/plans_ref"; ls "$WORK/plans_tree") | sort -u); do
  a="$WORK/plans_ref/$f"; b="$WORK/plans_tree/$f"
  if [[ ! -f "$a" || ! -f "$b" ]] || ! cmp -s <(strip "$a") <(strip "$b"); then
    echo "PLANDIFF ${f%.txt}"; differ=1
  fi
done
[[ "$differ" == 1 ]] || echo "PLANDIFF none"
for f in $( (ls "$WORK/plans_ref"; ls "$WORK/plans_tree") | sort -u); do
  a="$WORK/plans_ref/$f"; b="$WORK/plans_tree/$f"
  [[ -f "$a" && -f "$b" ]] || continue
  diff -u --label "$REF/$f" --label "tree/$f" <(strip "$a") <(strip "$b") || true
done
echo "plan dumps kept in $WORK" >&2
