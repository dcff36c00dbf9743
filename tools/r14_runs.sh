#!/bin/bash
# Round-14 measurement chain: sf1 synthesis, TPC re-anchor, ingest
# cost curve, v14 scaling, sf10 v12 kernel timing. Sequential on purpose
# (one Spark JVM at a time owns the 32 threads).
set -x
cd /root/repo

TPCQ=q10_returned_items,q11_important_stock,q12_priority_count,q13_customer_distribution,q14_promo_revenue,q15_top_supplier,q16_supplier_count,q17_small_quantity,q18_large_orders,q19_disjunctive,q1_pricing_summary,q20_heavy_suppliers,q21_waiting_orders,q22_global_sales,q2_min_cost_supplier,q3_shipping_priority,q4_order_priority,q5_local_supplier,q6_forecast_revenue,q7_volume_shipping,q8_market_share,q9_profit

sbt -batch "runMain graft.tools.ScaleUp /root/testdata/sf0.1 10 /tmp/graft_sf1" || exit 1

sbt -batch "runMain graft.tools.TpcRunner --data-path /tmp/graft_sf1 --iterations 5 --queries $TPCQ --out /root/repo/results/tpc_sf1_r14" || exit 1

SPARK_GRAFT_SF_DIR=/tmp/graft_sf1 sbt -batch "runMain graft.tools.IngestBench /tmp/graft_sf1 10 /root/repo/results/ingest_sf1_r14.json" || exit 1

SPARK_GRAFT_SF_DIR=/tmp/graft_sf1 SPARK_GRAFT_BENCH_OUT=/tmp/v14_sf1.json sbt -batch "runMain graft.Bench v14_ivf_incremental_dedup" || exit 1

sbt -batch "runMain graft.tools.ScaleUp /root/testdata/sf0.1 100 /tmp/graft_sf10" || exit 1

SPARK_GRAFT_SF_DIR=/tmp/graft_sf10 SPARK_GRAFT_BENCH_OUT=/tmp/v14_sf10.json sbt -batch "runMain graft.Bench v14_ivf_incremental_dedup" || exit 1

SPARK_GRAFT_SF_DIR=/tmp/graft_sf10 SPARK_GRAFT_BENCH_OUT=/tmp/v12_sf10_simd.json sbt -batch "runMain graft.Bench v12_incremental_embedding_dedup" || exit 1

echo ALL_DONE
