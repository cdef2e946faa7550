#!/usr/bin/env bash
# Fifth-decade oracle gate, full-surface extension (r13): grade every
# oracled key that CAN run on the ×970 single-dims mirror of sf0.1
# (~sf97: 582M lineitem, 97M events, 4.85M docs; no embeddings — the
# per-copy vector shift has modulus 97, so embeddings mirrors cap at
# ×97 and the 16 embedding-family keys' strongest signal stays the ×97
# gate by construction, not by omission).
#
# Key set = the 173-key oracled surface (CORRECTNESS_x10_r11 list)
#   minus the 40 keys already hash-graded at ×970 in r12 (folded back in
#   at the end from CORRECTNESS_x970_r12.json)
#   minus the 16 embedding-family keys (oracle references `embeddings`).
# 36 of the new keys were already dumped at ×970 in r12 (verify_x970de,
# document/event families) — their dumps are reused and only the DuckDB
# compare runs; the other 81 are dumped fresh with Verify.
#
# Usage: tools/run_x970_gate.sh [outJson]  (default /tmp/x970_gate.json)
# Env: GATE_CLASSES overrides the classpath dir (freeze a copy before
# recompiling while the gate runs); SKIP_DUMP=1 reuses target/verify_x970r13.
set -euo pipefail
cd "$(dirname "$0")/.."
OUT=${1:-/tmp/x970_gate.json}
CLASSES=${GATE_CLASSES:-target/scala-2.13/classes}
CP="$CLASSES:/opt/spark/jars/*"

# Money-sum lint first: a new unhardened raw-double money sum should fail
# in seconds here, not as a hash divergence hours into the dump.
java @tools/jdk17-add-opens.args -Xmx6g -cp "$CP" graft.tools.MoneySumLint /root/testdata/sf0.001 \
  2>/dev/null | grep "money-sum-lint"


[ -f target/mirror_x970/_GRAFT_MIRROR.json ] || \
  MIRROR_SRC=/root/testdata/sf0.1 MIRROR_FACTOR=970 MIRROR_OUT=target/mirror_x970 \
  MIRROR_SINGLE_DIMS=1 \
  MIRROR_TABLES=lineitem,orders,customer,supplier,part,nation,region,events,documents \
  java @tools/jdk17-add-opens.args -Xmx48g -cp "$CP" graft.tools.MakeMirror

python3 - <<'EOF'
import json, os
x10 = set(json.load(open('CORRECTNESS_x10_r11.json'))) - {'_meta'}
done = set(json.load(open('CORRECTNESS_x970_r12.json'))) - {'_meta'}
oracle = json.load(open('target/verify_x970de/oracle_sql.json'))
emb = {k for k in x10 if 'embeddings' in oracle.get(k, '')}
# The r13 money-sum hardening (integer cents) changed these keys' engine
# AND oracle renderings — every x970 row for them must be re-dumped and
# re-compared against the CURRENT code, overriding any r12 row (two of
# them, q3/q_sessionize, were folded green at x970 under the old
# raw-double form).
money = {'q3_join_topk', 'q_sessionize', 'q_tumbling_window',
         'q_sliding_window', 'q_resample', 'q_skew_join', 'q_skew_join_aqe',
         'q_incremental_agg', 'q_source_csv', 'q_source_json', 'q_source_orc',
         'q_source_dirty_csv', 'q_source_dirty_json', 'q_compact_roundtrip',
         'q_vacuum_orphans', 'q_snapshot_diff', 'q_delete_where',
         'q_retention_sweep', 'q_bucketed_join', 'q_zorder_scan',
         # r14 avg-cents hardening (engine+oracle moved together)
         'q_join_range', 'q_join_range_bucketed', 'q_profile'} & x10
rest = sorted((x10 - done - emb) | money)
de = set(os.listdir('target/verify_x970de')) - {'oracle_sql.json'}
fresh = [k for k in rest if k not in de or k in money]
reuse = [k for k in rest if k in de and k not in money]
have = set(os.listdir('target/verify_x970r13')) if os.path.isdir('target/verify_x970r13') else set()
dump = [k for k in fresh if k not in have or k in money]
open('/tmp/x970g_reuse.txt', 'w').write(','.join(reuse))
open('/tmp/x970g_fresh.txt', 'w').write(','.join(fresh))
open('/tmp/x970g_dump.txt', 'w').write(','.join(dump))
print(f"{len(rest)} keys this run: {len(reuse)} reused r12 dumps, "
      f"{len(fresh)} fresh ({len(dump)} to dump now); "
      f"{len(emb)} embedding-family excluded")
EOF
REUSE=$(cat /tmp/x970g_reuse.txt); FRESH=$(cat /tmp/x970g_fresh.txt)
DUMP=$(cat /tmp/x970g_dump.txt)

# Reused r12 dumps compare immediately (4 shards) while the fresh dump runs.
for i in 0 1; do
  SHARD=$(python3 -c "print(','.join('$REUSE'.split(',')[$i::2]))")
  COMPARE_THREADS=5 COMPARE_MEM=14GB python3 -u tools/compare.py \
    target/mirror_x970 target/verify_x970de "$SHARD" /tmp/x970g_de$i.json \
    > /tmp/x970g_de$i.log 2>&1 &
done

if [ "${SKIP_DUMP:-}" != "1" ] && [ -n "$DUMP" ]; then
  SPARK_GRAFT_CPUS=32 SPARK_GRAFT_ONLY="$DUMP" SPARK_GRAFT_NO_COALESCE=1 \
    java @tools/jdk17-add-opens.args -Xmx80g -cp "$CP" graft.Verify target/mirror_x970 target/verify_x970r13
fi
wait

for i in 0 1 2 3; do
  SHARD=$(python3 -c "
ks=[k for k in '$FRESH'.split(',') if k != 'q_sketch_theta']
print(','.join(ks[$i::4]))")
  COMPARE_THREADS=6 COMPARE_MEM=18GB python3 -u tools/compare.py \
    target/mirror_x970 target/verify_x970r13 "$SHARD" /tmp/x970g_cmp$i.json \
    > /tmp/x970g_cmp$i.log 2>&1 &
done
wait

# theta: past 2^14 retained entries the sketch leaves its documented
# exact-mode regime -> 3x-RSE estimate band instead of hash equality.
python3 - <<'EOF'
import duckdb, json
con = duckdb.connect(); con.execute("SET threads=16")
con.execute("CREATE VIEW events AS SELECT * FROM 'target/mirror_x970/events.parquet/*.parquet'")
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
est = dict(con.execute("SELECT key, est_users FROM 'target/verify_x970r13/q_sketch_theta/*.parquet'").fetchall())
out = {k: {"exact": exact[k], "estimate": est[k],
           "rel_err": round(abs(est[k]-exact[k])/exact[k], 5),
           "within_3rse": abs(est[k]-exact[k])/exact[k] <= 3 * 2**-7}
       for k in exact}
json.dump(out, open('/tmp/x970g_theta.json', 'w'))
EOF

python3 tools/fold_x97.py "$OUT" \
  "fifth-decade oracle gate, full surface (r13): x970 single-dims mirror of sf0.1 (~sf97); all oracled keys except the 16 embedding-family ones (embeddings mirrors cap at x97 by the vector-shift modulus); 40 r12 rows folded in; tools/run_x970_gate.sh" \
  CORRECTNESS_x970_r12.json \
  /tmp/x970g_de0.json /tmp/x970g_de1.json \
  /tmp/x970g_cmp0.json /tmp/x970g_cmp1.json /tmp/x970g_cmp2.json /tmp/x970g_cmp3.json \
  /tmp/x970g_theta.json
