#!/usr/bin/env bash
# Partition-count sensitivity regrade (r13 verdict item #4): the full
# sf0.1 oracle gate at spark.sql.shuffle.partitions=256 (>> 32 cpus — the
# cheap proxy for cluster partition counts), reconstructed from the r12
# ad-hoc run as a repeatable script so code-changed keys can be regraded
# every round instead of going stale.
#
#  - every oracled key EXCEPT the 21 quadratic-oracle pair keys is
#    DuckDB-hash-compared at sf0.1 under the 256-partition dump;
#  - the 21 quadratic-oracle keys (brute-force pair CTEs DuckDB can't run
#    at sf0.1 in reasonable time) are STABILITY-checked instead: their
#    256-partition output must be multiset-equal (EXCEPT ALL both ways)
#    to the 32-partition output, which the r11 sf0.1 gate pinned to
#    DuckDB.
#
# Usage: tools/run_p256_gate.sh [outJson]   (default /tmp/p256_gate.json)
# Env: GATE_CLASSES (frozen classpath dir), SKIP_DUMP=1 reuses dumps.
set -euo pipefail
cd "$(dirname "$0")/.."
OUT=${1:-/tmp/p256_gate.json}
CLASSES=${GATE_CLASSES:-target/scala-2.13/classes}
CP="$CLASSES:/opt/spark/jars/*"
SF=/root/testdata/sf0.1

export STAB21="q_containment_pairs,q_cosine_neardup,q_cosine_resolve,q_decontaminate_fuzzy,q_fuzzy_linkage,q_fuzzy_match,q_fuzzy_match_scaled,q_graph_triangles,q_jw_threshold_join,q_minhash_recall,q_neardup_components,q_neardup_delta,q_neardup_lsh,q_neardup_lsh_salted,q_neardup_pairs,q_neardup_resolve,q_ngram_jaccard,q_record_linkage,q_similarity_join,q_sorted_neighborhood,q_substring_dedup"

if [ "${SKIP_DUMP:-}" != "1" ]; then
  SPARK_GRAFT_CPUS=32 SPARK_GRAFT_SHUFFLE_PARTITIONS=256 \
    java @tools/jdk17-add-opens.args -Xmx48g -cp "$CP" graft.Verify "$SF" target/verify_p256 \
    2> /tmp/p256_dump.log
  # 32-partition twin, only the stability keys (everything else grades
  # against DuckDB directly).
  SPARK_GRAFT_CPUS=32 SPARK_GRAFT_ONLY="$STAB21" \
    java @tools/jdk17-add-opens.args -Xmx48g -cp "$CP" graft.Verify "$SF" target/verify_p32s \
    2> /tmp/p32s_dump.log
fi

# DuckDB compare for the non-quadratic oracled surface, sharded 4 ways.
python3 - <<'EOF'
import json, os
oracle = json.load(open('target/verify_p256/oracle_sql.json'))
stab = set(os.environ['STAB21'].split(','))
keys = sorted(set(oracle) - stab)
open('/tmp/p256_keys.txt','w').write(','.join(keys))
print(f"{len(keys)} DuckDB-compared keys, {len(stab)} stability keys")
EOF
KEYS=$(cat /tmp/p256_keys.txt)
for i in 0 1 2 3; do
  SHARD=$(python3 -c "print(','.join('$KEYS'.split(',')[$i::4]))")
  COMPARE_THREADS=6 COMPARE_MEM=12GB python3 -u tools/compare.py \
    "$SF" target/verify_p256 "$SHARD" /tmp/p256_cmp$i.json \
    > /tmp/p256_cmp$i.log 2>&1 &
done
wait

# Stability: 256-partition output multiset-equal to the 32-partition one.
python3 - "$OUT" <<'EOF'
import duckdb, json, glob, sys, os
out = sys.argv[1]
stab = os.environ['STAB21'].split(',')
con = duckdb.connect(); con.execute("SET threads=16; SET memory_limit='24GB'")
def g(d, k):
    p = f"{d}/{k}"
    return p + ("/*.parquet" if os.path.isdir(p) else "")
res, ok_all = {}, True
for k in sorted(stab):
    a, b = g('target/verify_p256', k), g('target/verify_p32s', k)
    ra = con.execute(f"SELECT count(*) FROM '{a}'").fetchone()[0]
    rb = con.execute(f"SELECT count(*) FROM '{b}'").fetchone()[0]
    d1 = con.execute(f"SELECT count(*) FROM (SELECT * FROM '{a}' EXCEPT ALL SELECT * FROM '{b}')").fetchone()[0]
    d2 = con.execute(f"SELECT count(*) FROM (SELECT * FROM '{b}' EXCEPT ALL SELECT * FROM '{a}')").fetchone()[0]
    ok = ra == rb and d1 == 0 and d2 == 0
    ok_all = ok_all and ok
    res[k] = {"rows_p256": ra, "rows_p32": rb, "except_all_diff": d1 + d2, "ok": ok}
# fold the sharded DuckDB reports + stability into one artifact
merged = {}
for i in range(4):
    merged.update(json.load(open(f'/tmp/p256_cmp{i}.json')))
n_pass = sum(1 for v in merged.values() if v.get('hash_match'))
stab_meta = {"_meta": {"round": 14, "what": "partition-count stability: sf0.1 output at shuffle.partitions=256 vs 32, multiset-exact, for the 21 quadratic-oracle keys (their 256-partition DuckDB check is the oracled report)"}}
stab_meta.update(res)
art = {"_meta": {"round": 14,
  "what": "partition-count sensitivity regrade (r13 verdict item #4): full sf0.1 oracle gate at spark.sql.shuffle.partitions=256; tools/run_p256_gate.sh",
  "oracle_checked": len(merged), "oracle_pass": n_pass,
  "stability_checked": f"{len(res)} quadratic-oracle keys vs 32-partition output",
  "stability_pass": sum(1 for v in res.values() if v['ok']),
  "pass": n_pass + sum(1 for v in res.values() if v['ok'])},
  "_stability21": stab_meta}
art.update(merged)
json.dump(art, open(out, 'w'), indent=1, sort_keys=True)
bad = [k for k, v in merged.items() if not v.get('hash_match')] + [k for k, v in res.items() if not v['ok']]
print(f"p256 gate: {n_pass}/{len(merged)} oracle, {sum(1 for v in res.values() if v['ok'])}/{len(res)} stability; FAIL: {bad}")
sys.exit(1 if bad else 0)
EOF
