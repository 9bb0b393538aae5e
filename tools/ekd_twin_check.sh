#!/usr/bin/env bash
# Differential check of the descent's staged-width schedule against its
# DuckDB twin: a dial whose non-default branch is not what ships must
# have that branch provable in one command, or a build/twin divergence
# hides until someone turns it.
#
# SPARK_GRAFT_DESCENT_EKD / _EROUNDS move BOTH sides in lockstep:
# SimilarityOps reads them for the build's kdOf(t) schedule, and Verify
# interpolates the same constants into oracle_sql.json at runtime (the
# twin unrolls the identical staged out-rank/in-rank filters, including
# round 1's explicit out-side re-rank when a narrow round consumes the
# full-width seed). The refined family's five oracle rows then prove
# build == twin at the requested schedule.
#
# Usage: tools/ekd_twin_check.sh [ekd] [erounds] [sfDir]
#        (defaults: 32, 2, sf0.001)
set -euo pipefail
cd "$(dirname "$0")/.."
EKD="${1:-32}"
ER="${2:-2}"
SF="${3:-/root/testdata/sf0.001}"
OUT="/tmp/ekd_twin_check_${EKD}_${ER}"
QUERIES="sim_knn_graph_refined,sim_knn_recall_refined,sim_knn_components,sim_pagerank,sim_cluster_exemplars"
SPARK_GRAFT_DESCENT_EKD="$EKD" SPARK_GRAFT_DESCENT_EROUNDS="$ER" \
  tools/run_main.sh graft.Verify "$SF" "$OUT" "$QUERIES" >/dev/null
SPARK_GRAFT_DESCENT_EKD="$EKD" SPARK_GRAFT_DESCENT_EROUNDS="$ER" \
  python3 tools/check.py "$SF" "$OUT"
