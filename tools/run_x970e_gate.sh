#!/usr/bin/env bash
# Fifth-decade oracle gate for the EMBEDDING family (r13 verdict item #1:
# the 16 oracled embedding keys' strongest signal was ×97 because the
# additive-shift mirror's vector modulus capped embeddings at factor 97).
# The signflip vector mode (per-copy ±1 component signs + copy-disjoint
# labels, ScaleSmoke.signPattern) lifts the cap: this gate materializes a
# ×970 signflip embeddings mirror (~1.94M vectors ≈ sf97), reuses the
# existing ×970 documents mirror for the hybrid key, dumps all 16 keys
# with Verify, and DuckDB-hash-compares each (all 16 oracles are linear
# in the corpus — the quadratic cosine pair keys grade through
# MirrorInvariants' signflip per-copy-equality checks instead).
#
# Usage: tools/run_x970e_gate.sh [outJson]  (default /tmp/x970e_gate.json)
# Env: GATE_CLASSES (frozen classpath dir), SKIP_DUMP=1 reuses dumps.
set -euo pipefail
cd "$(dirname "$0")/.."
OUT=${1:-/tmp/x970e_gate.json}
CLASSES=${GATE_CLASSES:-target/scala-2.13/classes}
CP="$CLASSES:/opt/spark/jars/*"
MIRROR=target/mirror_x970e

KEYS="q_ann_delta,q_ann_ivf,q_ann_ivf_partial,q_ann_ivf_trained,q_ann_ivfpq,q_ann_pq,q_cosine_topk,q_embed_quantize,q_hybrid_rrf,q_knn_batch,q_pca_check,q_pca_cov_delta,q_pca_covariance,q_semdedup,q_sql_registered,q_vector_norm"

java @tools/jdk17-add-opens.args -Xmx6g -cp "$CP" graft.tools.MoneySumLint /root/testdata/sf0.001 \
  2>/dev/null | grep "money-sum-lint"

if [ ! -f $MIRROR/_GRAFT_MIRROR.json ]; then
  MIRROR_SRC=/root/testdata/sf0.1 MIRROR_FACTOR=970 MIRROR_OUT=$MIRROR \
    MIRROR_VECTOR_MODE=signflip MIRROR_TABLES=embeddings \
    java @tools/jdk17-add-opens.args -Xmx16g -cp "$CP" graft.tools.MakeMirror
  # q_hybrid_rrf fuses BM25 over documents with cosine over embeddings:
  # the ×970 letter-rotation documents mirror is transform-identical to
  # what MIRROR_TABLES=embeddings,documents would write — link when the
  # relational gate already built it, materialize otherwise.
  if [ -d target/mirror_x970/documents.parquet ]; then
    ln -sfn "$(pwd)/target/mirror_x970/documents.parquet" $MIRROR/documents.parquet
  else
    MIRROR_SRC=/root/testdata/sf0.1 MIRROR_FACTOR=970 MIRROR_OUT=$MIRROR/_docs \
      MIRROR_TABLES=documents \
      java @tools/jdk17-add-opens.args -Xmx16g -cp "$CP" graft.tools.MakeMirror
    mv $MIRROR/_docs/documents.parquet $MIRROR/documents.parquet && rm -rf $MIRROR/_docs
  fi
fi

if [ "${SKIP_DUMP:-}" != "1" ]; then
  SPARK_GRAFT_CPUS=32 SPARK_GRAFT_ONLY="$KEYS" SPARK_GRAFT_NO_COALESCE=1 \
    java @tools/jdk17-add-opens.args -Xmx80g -cp "$CP" graft.Verify $MIRROR target/verify_x970e \
    2> /tmp/x970e_dump.log
fi

for i in 0 1 2 3; do
  SHARD=$(python3 -c "print(','.join('$KEYS'.split(',')[$i::4]))")
  COMPARE_THREADS=6 COMPARE_MEM=18GB python3 -u tools/compare.py \
    $MIRROR target/verify_x970e "$SHARD" /tmp/x970e_cmp$i.json \
    > /tmp/x970e_cmp$i.log 2>&1 &
done
wait

python3 tools/fold_x97.py "$OUT" \
  "fifth-decade oracle gate, embedding family (r14): x970 SIGNFLIP embeddings mirror of sf0.1 (~sf97: 1.94M vectors, copy-disjoint labels, per-copy +-1 signs), documents linked from the x970 letter-rotation mirror for the hybrid key; all 16 linear-oracle embedding keys DuckDB-hash-compared; tools/run_x970e_gate.sh" \
  /tmp/x970e_cmp0.json /tmp/x970e_cmp1.json /tmp/x970e_cmp2.json /tmp/x970e_cmp3.json
