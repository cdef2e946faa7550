#!/usr/bin/env bash
# Full fourth-decade oracle gate in one command: build the x97 mirror of
# sf0.1 (~sf9.7), dump every oracled key with graft.Verify, compare all
# of them to DuckDB (sharded), band-check the theta sketch, and fold
# CORRECTNESS_x97_r12-shaped JSON. ~2-3 h on a quiet 32-core box; the
# dump is the long pole. Requires: compiled classes, /opt/spark/jars.
#
# Usage: tools/run_x97_gate.sh [outJson]   (default /tmp/x97_gate.json)
# Env: GATE_CLASSES (frozen classpath dir).
set -euo pipefail
cd "$(dirname "$0")/.."
OUT=${1:-/tmp/x97_gate.json}
CP="${GATE_CLASSES:-target/scala-2.13/classes}:/opt/spark/jars/*"

# Money-sum lint first: a new unhardened raw-double money sum should fail
# in seconds here, not as a hash divergence hours into the dump.
java @tools/jdk17-add-opens.args -Xmx6g -cp "$CP" graft.tools.MoneySumLint /root/testdata/sf0.001 \
  2>/dev/null | grep "money-sum-lint"


# Guard on the completion manifest synthesize writes LAST — a partially
# built mirror (interrupted MakeMirror) has no manifest and is rebuilt
# instead of feeding the whole 2-3 h gate incomplete data.
[ -f target/mirror_x97/_GRAFT_MIRROR.json ] || \
  MIRROR_SRC=/root/testdata/sf0.1 MIRROR_FACTOR=97 MIRROR_OUT=target/mirror_x97 \
  java @tools/jdk17-add-opens.args -Xmx32g -cp "$CP" graft.tools.MakeMirror

# The 173-key oracled surface = the x10 gate list (quadratic pair-CTE
# oracles already excluded there; they are covered by MirrorInvariants).
KEYS=$(python3 - <<'EOF'
import json
d = json.load(open('CORRECTNESS_x10_r11.json'))
print(','.join(sorted(k for k in d if k != '_meta')))
EOF
)

SPARK_GRAFT_CPUS=32 SPARK_GRAFT_ONLY="$KEYS" \
  java @tools/jdk17-add-opens.args -Xmx96g -cp "$CP" graft.Verify target/mirror_x97 target/verify_x97

# 4 shards; q5/cbo separately with the textual left-deep plan pinned —
# under the replicated-dims profile their oracle joins fan out ~1e11 row
# products and DuckDB's join-order estimate otherwise picks a
# materializing plan that exhausts temp disk.
REST=$(python3 -c "
ks='$KEYS'.split(',')
print(','.join(k for k in ks if k not in ('q5_5way_join','q_cbo_join_reorder','q_sketch_theta')))")
for i in 0 1 2 3; do
  SHARD=$(python3 -c "print(','.join('$REST'.split(',')[$i::4]))")
  COMPARE_THREADS=7 python3 -u tools/compare.py target/mirror_x97 target/verify_x97 \
    "$SHARD" /tmp/x97g_cmp$i.json > /tmp/x97g_cmp$i.log 2>&1 &
done
wait
for K in q5_5way_join q_cbo_join_reorder; do
  COMPARE_THREADS=24 COMPARE_MEM=80GB COMPARE_DISABLED_OPT=join_order \
    python3 -u tools/compare.py target/mirror_x97 target/verify_x97 "$K" /tmp/x97g_$K.json
done

# theta: past 2^14 retained entries the sketch leaves its documented
# exact-mode regime -> 3x-RSE estimate band instead of hash equality.
python3 - <<'EOF'
import duckdb, json
con = duckdb.connect(); con.execute("SET threads=8")
con.execute("CREATE VIEW events AS SELECT * FROM 'target/mirror_x97/events.parquet/*.parquet'")
exact = dict(con.execute("""
  SELECT 'both', CAST((SELECT count(*) FROM
      (SELECT user_id FROM events WHERE event_type='click'
       INTERSECT SELECT user_id FROM events WHERE event_type='purchase') t) AS BIGINT)
  UNION ALL SELECT 'click', count(DISTINCT user_id) FROM events WHERE event_type='click'
  UNION ALL SELECT 'either', CAST((SELECT count(*) FROM
      (SELECT user_id FROM events WHERE event_type='click'
       UNION SELECT user_id FROM events WHERE event_type='purchase') t) AS BIGINT)
  UNION ALL SELECT 'purchase', count(DISTINCT user_id) FROM events WHERE event_type='purchase'
""").fetchall())
est = dict(con.execute("SELECT key, est_users FROM 'target/verify_x97/q_sketch_theta/*.parquet'").fetchall())
out = {k: {"exact": exact[k], "estimate": est[k],
           "rel_err": round(abs(est[k]-exact[k])/exact[k], 5),
           "within_3rse": abs(est[k]-exact[k])/exact[k] <= 3 * 2**-7}
       for k in exact}
json.dump(out, open('/tmp/x97g_theta.json', 'w'))
EOF

python3 tools/fold_x97.py "$OUT" \
  "oracle hash gate on the x97 mirror of sf0.1 (~sf9.7); tools/run_x97_gate.sh" \
  /tmp/x97g_cmp0.json /tmp/x97g_cmp1.json /tmp/x97g_cmp2.json /tmp/x97g_cmp3.json \
  /tmp/x97g_q5_5way_join.json /tmp/x97g_q_cbo_join_reorder.json /tmp/x97g_theta.json
