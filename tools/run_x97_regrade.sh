#!/usr/bin/env bash
# Re-grade code-changed keys at the FOURTH decade (the ×97 mirror): when
# a key's engine AND oracle renderings change, the previous round's x97
# rows describe the old code. One Verify dump of just these keys + one
# DuckDB compare; fold the overrides over the previous round's artifact.
#
# r14 defaults: the 5 keys whose raw-double money aggregates moved to
# exact integer cents (q_skew_join/q_skew_join_aqe sum_value oracle
# rendering; q_join_range/_bucketed and q_profile avgMoney in both
# engine and oracle).
#
# Usage: tools/run_x97_regrade.sh [outJson]  (default /tmp/x97_regrade.json)
# Env: REGRADE_KEYS (comma list), REGRADE_BASE (previous artifact to fold
# over, default CORRECTNESS_x97_r13.json), GATE_CLASSES.
set -euo pipefail
cd "$(dirname "$0")/.."
OUT=${1:-/tmp/x97_regrade.json}
CP="${GATE_CLASSES:-target/scala-2.13/classes}:/opt/spark/jars/*"

KEYS=${REGRADE_KEYS:-q_skew_join,q_skew_join_aqe,q_join_range,q_join_range_bucketed,q_profile}
BASE=${REGRADE_BASE:-CORRECTNESS_x97_r13.json}

[ -f target/mirror_x97/_GRAFT_MIRROR.json ] || \
  MIRROR_SRC=/root/testdata/sf0.1 MIRROR_FACTOR=97 MIRROR_OUT=target/mirror_x97 \
  java @tools/jdk17-add-opens.args -Xmx32g -cp "$CP" graft.tools.MakeMirror

SPARK_GRAFT_CPUS=32 SPARK_GRAFT_ONLY="$KEYS" SPARK_GRAFT_NO_COALESCE=1 \
  java @tools/jdk17-add-opens.args -Xmx64g -cp "$CP" graft.Verify target/mirror_x97 target/verify_x97r14

COMPARE_THREADS=16 COMPARE_MEM=40GB python3 -u tools/compare.py \
  target/mirror_x97 target/verify_x97r14 "$KEYS" /tmp/x97rg_cmp.json

python3 tools/fold_x97.py "$OUT" \
  "fourth-decade regrade of the r14 cents-hardened keys (skew sum_value oracle cents; join_range/profile avgMoney in engine+oracle); all other rows inherited from $BASE; tools/run_x97_regrade.sh" \
  "$BASE" /tmp/x97rg_cmp.json
