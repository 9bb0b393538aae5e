package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._
import graft.query.DatsGen

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is a pure `(SparkSession, sfDir) => DataFrame`
  * over the synthetic tables (TESTDATA.md); [[oracleSql]] carries the
  * equivalent DuckDB SQL for the driver's differential check. Column names
  * and types are aligned on both sides (aggregates computed in exact
  * decimal, emitted as double; counts as bigint) so value hashing is stable.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.revenueByNation(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "rel_pricing_summary" -> (Relational.pricingSummary _),
    "rel_revenue_by_nation" -> (Relational.revenueByNation _),
    "rel_orders_per_customer_histogram" -> (Relational.ordersPerCustomerHistogram _),
    "rel_top_order_per_customer" -> (Relational.topOrderPerCustomer _),
    "rel_customers_without_orders" -> (Relational.customersWithoutOrders _),
    "rel_priorities_by_status" -> (Relational.prioritiesByStatus _),
    "rel_nations_with_presence" -> (Relational.nationsWithPresence _),
    "rel_status_by_priority_pivot" -> (Relational.statusByPriorityPivot _),
    "rel_customer_order_stats" -> (Relational.customerOrderStats _),
    "rel_parts_ever_ordered" -> (Relational.partsEverOrdered _),
    "rel_order_reconciliation" -> (Relational.orderReconciliation _),
    "rel_part_enrichment" -> (Projections.partEnrichment _),
    "rel_orders_rollup" -> (Projections.ordersRollup _),
    "rel_customer_deciles" -> (Projections.customerDeciles _),
    "rel_customer_unpivot" -> (Projections.customerUnpivot _),
    "text_token_stats" -> (TextOps.tokenStats _),
    "text_distinctive_terms" -> (TextOps.distinctiveTerms _),
    "text_quality" -> (TextOps.qualityScore _),
    "text_lang_id" -> (TextOps.langId _),
    "text_fingerprint" -> (TextOps.fingerprint _),
    "text_bpe_tokens" -> (TextOps.bpeTokenStats _),
    "text_stratified_sample" -> ((s: SparkSession, d: String) => TextOps.stratifiedSample(s, d)),
    "text_pack_sequences" -> ((s: SparkSession, d: String) => TextOps.packSequences(s, d)),
    "text_winnow_fingerprint" -> ((s: SparkSession, d: String) => TextOps.winnowFingerprint(s, d)),
    "text_self_information" -> (TextOps.selfInformation _),
    "text_vocab_coverage" -> ((s: SparkSession, d: String) => TextOps.vocabCoverage(s, d)),
    "dedup_exact" -> (DedupOps.exact _),
    "dedup_ngram_jaccard" -> ((s: SparkSession, d: String) => DedupOps.ngramJaccard(s, d)),
    "dedup_minhash_lsh" -> (DedupOps.minhashLsh _),
    "dedup_simhash" -> (DedupOps.simhash _),
    "dedup_embedding_cosine" -> (DedupOps.embeddingNearDup _),
    "dedup_embedding_auto" -> (DedupOps.embeddingNearDupAuto _),
    "dedup_clusters" -> (DedupOps.nearDupClusters _),
    "dedup_clusters_star" -> (DedupOps.nearDupClustersStar _),
    "sim_brute_topk" -> (SimilarityOps.bruteForceTopK _),
    "sim_lsh_topk" -> (SimilarityOps.lshTopK _),
    "sim_ivf_topk" -> (SimilarityOps.ivfTopK _),
    "sim_lsh_recall" -> (SimilarityOps.lshRecall _),
    "sim_ivf_recall" -> (SimilarityOps.ivfRecall _),
    "rel_representative_values" -> (Representative.representativeValues _),
    "rel_column_profile" -> (Representative.columnProfile _),
    "etl_harmonized_phenotypes" -> (graft.etl.Harmonize.harmonizedPhenotypesQuery _),
    "etl_hypertension_status" -> (graft.etl.Harmonize.hypertensionStatusQuery _),
    "evt_sessionize" -> (EventOps.sessionize _),
    "evt_hourly_rollup" -> (EventOps.hourlyRollup _),
    "evt_running_total" -> (EventOps.runningTotal _),
    "evt_props_profile" -> (EventOps.propsProfile _),
    "evt_retention" -> (EventOps.retention _),
    "evt_asof_join" -> (EventOps.asofJoin _),
    "evt_range_join" -> (EventOps.rangeJoin _),
    "text_corpus_filter" -> ((s: SparkSession, d: String) => TextOps.corpusFilter(s, d)),
    "text_decontaminate" -> ((s: SparkSession, d: String) => TextOps.decontaminate(s, d)),
    "text_repetition" -> (TextOps.repetition _),
    "text_cross_source_overlap" -> ((s: SparkSession, d: String) => TextOps.crossSourceOverlap(s, d)),
    "text_mixture_plan" -> ((s: SparkSession, d: String) => TextOps.mixturePlan(s, d)),
    "text_mixture_apply" -> ((s: SparkSession, d: String) => TextOps.mixtureApply(s, d)),
    "evt_funnel" -> (EventOps.funnel _),
    "evt_stickiness" -> (EventOps.stickiness _),
    "evt_anomaly" -> (EventOps.anomaly _),
    "evt_transition_matrix" -> (EventOps.transitionMatrix _),
    // k-NN graph family, r14 default switch: the DESCENT-REFINED build is
    // the edge supplier behind the unsuffixed consumer names — it is the
    // only build that is simultaneously linear-cost (×10.3/decade measured,
    // bench/history/benchmarks_sf{1,10}.jsonl) and high-recall (0.9231 at sf10,
    // RECALL_r15). The legacy suppliers stay reachable for calibration:
    // sim_knn_graph2 (2-probe Voronoi — exact-leaning but n^1.5: 0.9021
    // recall at sf10 for a 500 s build vs the refined build's 593 s
    // LINEAR cost, RECALL_r15) and sim_knn_graph_bits (linear seed whose
    // standalone recall decays at scale — 0.021 at sf10, RECALL_r15 —
    // seed diagnostics only). The
    // 1-probe Voronoi build and the bits-edge exemplar composition are
    // retired from the suite (still in SimilarityOps + RecallGate specs);
    // nobody should run an n^1.5 build or summarize 0.09-recall edges at
    // 100× when a measured linear twin exists.
    "sim_knn_graph2" -> (SimilarityOps.knnGraph2 _),
    "sim_knn_recall2" -> (SimilarityOps.knnRecall2 _),
    "sim_knn_graph_bits" -> (SimilarityOps.knnGraphBits _),
    "sim_knn_recall_bits" -> (SimilarityOps.knnRecallBits _),
    "sim_knn_graph_refined" -> (SimilarityOps.knnGraphRefined _),
    "sim_knn_recall_refined" -> (SimilarityOps.knnRecallRefined _),
    "sim_knn_components" -> (SimilarityOps.knnComponentsRefined _),
    "sim_pagerank" -> (SimilarityOps.pageRankRefined _),
    "sim_cluster_exemplars" -> (SimilarityOps.clusterExemplarsRefined _),
    "text_chunk_dedup" -> ((s: SparkSession, d: String) => TextOps.chunkDedup(s, d)),
    "text_corpus_shuffle" -> ((s: SparkSession, d: String) => TextOps.corpusShuffle(s, d)),
    "sim_embedding_covariance" -> (SimilarityOps.embeddingCovariance _),
    "sim_top_component" -> (SimilarityOps.topComponent _),
    "sim_component_scores" -> (SimilarityOps.componentScores _),
    "evt_value_quantiles" -> (EventOps.valueQuantiles _),
    // the reference's seven canonical queries (SURVEY.md §2.9) over the
    // DATS entity graph, derived deterministically from the base tables
    // (graft.query.DatsGen) so the DuckDB twin can replay the derivation
    "q1_second_level" -> (DatsGen.q1 _),
    "q2_dataset_variables" -> (DatsGen.q2 _),
    "q3_study_group_members" -> (DatsGen.q3 _),
    "q4_subject_samples" -> (DatsGen.q4 _),
    "q5_subject_characteristics" -> (DatsGen.q5 _),
    "q6_sample_characteristics" -> (DatsGen.q6 _),
    "q7_tabular_dump" -> (DatsGen.q7 _),
    // the same seven queries over MATERIALIZED entity-table parquet
    // (DatsGen.materializedGraph — written once per process, re-read per
    // query): their oracle rows prove materialized ≡ direct, and their
    // bench rows price the reference's own deployment shape (ETL writes
    // once, queries re-read — bin/gtex_v7_to_dats.py:404-406 /
    // sparql/v0.7/rdflib_util.py:54-63)
    "q1_second_level_mat" -> (DatsGen.matQuery(1) _),
    "q2_dataset_variables_mat" -> (DatsGen.matQuery(2) _),
    "q3_study_group_members_mat" -> (DatsGen.matQuery(3) _),
    "q4_subject_samples_mat" -> (DatsGen.matQuery(4) _),
    "q5_subject_characteristics_mat" -> (DatsGen.matQuery(5) _),
    "q6_sample_characteristics_mat" -> (DatsGen.matQuery(6) _),
    "q7_tabular_dump_mat" -> (DatsGen.matQuery(7) _),
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "rel_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_qty,
        | CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
        | CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
        | CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) / count(*) AS avg_qty,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "rel_revenue_by_nation" ->
      """SELECT r_name, n_name,
        | CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS VARCHAR) AS DOUBLE) AS revenue,
        | count(*) AS n_items
        |FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "rel_orders_per_customer_histogram" ->
      """SELECT n_orders, count(*) AS n_customers FROM (
        | SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey
        |) t GROUP BY n_orders ORDER BY n_orders""".stripMargin,
    "rel_top_order_per_customer" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        | SELECT o_custkey, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        | FROM orders) t
        |WHERE rn = 1 ORDER BY o_custkey""".stripMargin,
    "rel_customers_without_orders" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00')
        |ORDER BY c_custkey""".stripMargin,
    "rel_priorities_by_status" ->
      """SELECT o_orderstatus,
        | string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS priorities,
        | count(*) AS n_orders
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "rel_nations_with_presence" ->
      """SELECT * FROM (
        | SELECT DISTINCT n_name, 'customer' AS presence FROM customer JOIN nation ON c_nationkey = n_nationkey
        | UNION
        | SELECT DISTINCT n_name, 'supplier' AS presence FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |) t ORDER BY n_name, presence""".stripMargin,
    "rel_status_by_priority_pivot" ->
      """SELECT o_orderpriority,
        | count(*) FILTER (WHERE o_orderstatus = 'F') AS status_f,
        | count(*) FILTER (WHERE o_orderstatus = 'O') AS status_o,
        | count(*) FILTER (WHERE o_orderstatus = 'P') AS status_p
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "rel_customer_order_stats" ->
      """SELECT c_custkey, c_name, c_mktsegment,
        | coalesce(n_orders, 0) AS n_orders,
        | coalesce(CAST(CAST(d_total AS VARCHAR) AS DOUBLE), 0.0) AS total_spent
        |FROM customer LEFT JOIN (
        | SELECT o_custkey, count(*) AS n_orders, sum(CAST(o_totalprice AS DECIMAL(18,4))) AS d_total
        | FROM orders GROUP BY o_custkey) t ON c_custkey = o_custkey
        |ORDER BY c_custkey""".stripMargin,
    "rel_parts_ever_ordered" ->
      """SELECT p_partkey, p_name, p_retailprice FROM part
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
        |ORDER BY p_partkey""".stripMargin,
    "rel_order_reconciliation" ->
      """SELECT count(*) AS n_customers,
        | CAST(sum(CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_with_orders,
        | CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_without_orders
        |FROM customer LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o ON c_custkey = o_custkey""".stripMargin,
    "rel_part_enrichment" -> Oracles.relPartEnrichment,
    "rel_orders_rollup" -> Oracles.relOrdersRollup,
    "rel_customer_deciles" -> Oracles.relCustomerDeciles,
    "rel_customer_unpivot" -> Oracles.relCustomerUnpivot,
    "text_token_stats" -> Oracles.textTokenStats,
    "text_distinctive_terms" -> Oracles.textDistinctiveTerms,
    "text_quality" -> Oracles.textQuality,
    "text_lang_id" -> Oracles.textLangId,
    "text_fingerprint" -> Oracles.textFingerprint,
    "text_bpe_tokens" -> Oracles.textBpeTokens,
    "text_stratified_sample" -> Oracles.textStratifiedSample,
    "text_pack_sequences" -> Oracles.textPackSequences,
    "text_winnow_fingerprint" -> Oracles.textWinnowFingerprint,
    "text_self_information" -> Oracles.textSelfInformation,
    "text_vocab_coverage" -> Oracles.textVocabCoverage,
    "dedup_exact" -> Oracles.dedupExact,
    "dedup_ngram_jaccard" -> Oracles.dedupJaccardPairsCapped,
    "dedup_minhash_lsh" -> Oracles.dedupJaccardPairs,
    "dedup_simhash" -> Oracles.dedupSimhash,
    "dedup_embedding_cosine" -> Oracles.dedupEmbedding,
    "dedup_embedding_auto" -> Oracles.dedupEmbeddingAuto,
    "dedup_clusters" -> Oracles.dedupClusters,
    // same relation as dedup_clusters — the star-contraction variant must
    // produce the identical component-min labeling, so it shares the
    // recursive-CTE oracle
    "dedup_clusters_star" -> Oracles.dedupClusters,
    "sim_brute_topk" -> Oracles.simBruteTopK,
    "sim_lsh_topk" -> Oracles.simLshTopK,
    "sim_ivf_topk" -> Oracles.simIvfTopK,
    "sim_lsh_recall" -> Oracles.simLshRecall,
    "sim_ivf_recall" -> Oracles.simIvfRecall,
    "rel_representative_values" -> Oracles.relRepresentativeValues,
    "rel_column_profile" -> Oracles.relColumnProfile,
    "etl_harmonized_phenotypes" -> Oracles.etlHarmonizedPhenotypes,
    "etl_hypertension_status" -> Oracles.etlHypertensionStatus,
    "evt_sessionize" -> Oracles.evtSessionize,
    "evt_hourly_rollup" -> Oracles.evtHourlyRollup,
    "evt_running_total" -> Oracles.evtRunningTotal,
    "evt_props_profile" -> Oracles.evtPropsProfile,
    "evt_retention" -> Oracles.evtRetention,
    "evt_asof_join" -> Oracles.evtAsofJoin,
    "evt_range_join" -> Oracles.evtRangeJoin,
    "text_corpus_filter" -> Oracles.textCorpusFilter,
    "text_decontaminate" -> Oracles.textDecontaminate,
    "text_repetition" -> Oracles.textRepetition,
    "text_cross_source_overlap" -> Oracles.textCrossSourceOverlap,
    "text_mixture_plan" -> Oracles.textMixturePlan,
    "text_mixture_apply" -> Oracles.textMixtureApply,
    "evt_funnel" -> Oracles.evtFunnel,
    "evt_stickiness" -> Oracles.evtStickiness,
    "evt_anomaly" -> Oracles.evtAnomaly,
    "evt_transition_matrix" -> Oracles.evtTransitionMatrix,
    // unsuffixed k-NN consumer names are refined-backed as of r14 (see the
    // queries-map note) — their oracles are the refined twins
    "sim_knn_graph2" -> Oracles.simKnnGraph2,
    "sim_knn_recall2" -> Oracles.simKnnRecall2,
    "sim_knn_graph_bits" -> Oracles.simKnnGraphBits,
    "sim_knn_recall_bits" -> Oracles.simKnnRecallBits,
    "sim_knn_graph_refined" -> Oracles.simKnnGraphRefined,
    "sim_knn_recall_refined" -> Oracles.simKnnRecallRefined,
    "sim_knn_components" -> Oracles.simKnnComponentsRefined,
    "sim_pagerank" -> Oracles.simPagerankRefined,
    "sim_cluster_exemplars" -> Oracles.simClusterExemplarsRefined,
    "text_chunk_dedup" -> Oracles.textChunkDedup,
    "text_corpus_shuffle" -> Oracles.textCorpusShuffle,
    "sim_embedding_covariance" -> Oracles.simEmbeddingCovariance,
    "sim_top_component" -> Oracles.simTopComponent,
    "sim_component_scores" -> Oracles.simComponentScores,
    "evt_value_quantiles" -> Oracles.evtValueQuantiles,
    "q1_second_level" -> Oracles.datsQ1,
    "q2_dataset_variables" -> Oracles.datsQ2,
    "q3_study_group_members" -> Oracles.datsQ3,
    "q4_subject_samples" -> Oracles.datsQ4,
    "q5_subject_characteristics" -> Oracles.datsQ5,
    "q6_sample_characteristics" -> Oracles.datsQ6,
    "q7_tabular_dump" -> Oracles.datsQ7,
    // the materialized runners answer the SAME question, so they share
    // the direct queries' DuckDB twins — a green row here is an
    // end-to-end proof that the parquet round-trip (incl. the
    // material_type partitioning) preserves every query's answer
    "q1_second_level_mat" -> Oracles.datsQ1,
    "q2_dataset_variables_mat" -> Oracles.datsQ2,
    "q3_study_group_members_mat" -> Oracles.datsQ3,
    "q4_subject_samples_mat" -> Oracles.datsQ4,
    "q5_subject_characteristics_mat" -> Oracles.datsQ5,
    "q6_sample_characteristics_mat" -> Oracles.datsQ6,
    "q7_tabular_dump_mat" -> Oracles.datsQ7,
  )
}
