#!/bin/bash
# Round-22 sf1 heavy-row evidence slice (r21 verdict #1): per-query sf1
# medians for the round-broadcast (r21) and capped-set/expansion (r22)
# changes, against the code's own kept "before" paths.
#   Arm A  — defaults: every size-gated optimization engaged as shipped.
#   Arm B  — broadcastMaxRows=0: the graph round broadcasts off — the
#            "before" arm for the r21 change. Above the cap the LSH
#            candidate stage now takes the capped-collect expansion too
#            (the route is picked by the size check alone), so the
#            bucket self-join "before" of r22 can no longer be selected.
#   Arm C  — broadcastMaxRows=0 alone: at-scale shape WITH the r22
#            one-shuffle LSH expansion engaged (the gate counts docs >
#            cap) — C vs B isolates the expansion at a scale where the
#            bucket join really sort-merges.
# Sequential on purpose — one Spark JVM owns the threads. /tmp/graft_sf1
# must exist (ScaleUp). Results land under results/.
set -x
cd /root/repo || exit 1
OUT=results
HEAVY_A="gr1_pagerank_copurchase,gr2_triangle_count,gr3_kcore,t19_neardup_components,t6_minhash_lsh,t21_simhash_neardup,t8_ngram_jaccard,t25_tfidf,q2_min_cost_supplier,q9_profit"
HEAVY_B="gr1_pagerank_copurchase,gr2_triangle_count,gr3_kcore,t19_neardup_components,t6_minhash_lsh,t21_simhash_neardup,t8_ngram_jaccard"
HEAVY_C="t6_minhash_lsh,t19_neardup_components"

SPARK_GRAFT_SF_DIR=/tmp/graft_sf1 SPARK_GRAFT_CPUS=32 \
  SPARK_GRAFT_BENCH_OUT=$OUT/heavy_sf1_r22_default.json \
  sbt -batch "runMain graft.Bench $HEAVY_A" || exit 1

SPARK_GRAFT_SF_DIR=/tmp/graft_sf1 SPARK_GRAFT_CPUS=32 \
  SPARK_GRAFT_BENCH_OUT=$OUT/heavy_sf1_r22_before.json \
  SPARK_GRAFT_EXTRA_CONF="spark.graft.graph.broadcastMaxRows=0" \
  sbt -batch "runMain graft.Bench $HEAVY_B" || exit 1

SPARK_GRAFT_SF_DIR=/tmp/graft_sf1 SPARK_GRAFT_CPUS=32 \
  SPARK_GRAFT_BENCH_OUT=$OUT/heavy_sf1_r22_expand.json \
  SPARK_GRAFT_EXTRA_CONF="spark.graft.graph.broadcastMaxRows=0" \
  sbt -batch "runMain graft.Bench $HEAVY_C" || exit 1
