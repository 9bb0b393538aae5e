package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Prints formatted physical plans for the flagship queries — the
  * explain-audit harness used to keep plans shuffle-lean (broadcasts on
  * dimension tables, pushed filters, wide codegen stages).
  *
  * Usage: runMain graft.PlanAudit [sfDir]
  *
  * The assertions live in [[runChecks]], which PlanAuditSpec also runs
  * under `sbt test` — so a plan regression fails the round gate instead
  * of waiting for someone to remember to invoke this main (r15 verdict).
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("/root/testdata/sf0.001")
    val spark = Tables.session("plan-audit")
    runChecks(spark, dir, verbose = true)
    spark.stop()
  }

  /** Every machine-checked plan pin. `verbose` additionally dumps each
    * audited frame's formatted physical plan (the main's behavior); the
    * spec runs silent. Scala `assert` throws AssertionError either way,
    * which ScalaTest reports as a test failure. */
  def runChecks(spark: SparkSession, dir: String, verbose: Boolean = false): Unit = {
    def show(name: String, df: DataFrame): Unit = if (verbose) {
      println(s"\n===== $name =====")
      df.explain("formatted")
    }
    val frames = Seq(
      "rel_pricing_summary", "rel_revenue_by_nation",
      "dedup_minhash_lsh", "sim_brute_topk",
      "text_stratified_sample", "text_pack_sequences",
      "dedup_embedding_cosine",
      "evt_asof_join",
      "text_distinctive_terms", "text_lang_id",
      "text_self_information", "text_vocab_coverage").map { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      show(name, df)
      name -> df
    }.toMap
    // machine checks on the properties the audit exists for: column
    // pruning reaches the parquet scan, and the sampling op is
    // shuffle-free (pure scan → project → filter)
    val samplePlan = frames("text_stratified_sample")
      .queryExecution.executedPlan.toString
    // the keep-decision is a pure projection: the only allowed Exchange
    // is the rangepartitioning of the final presentation sort
    assert(!samplePlan.contains("hashpartitioning"),
      "stratified sample must not hash-shuffle")
    // pruned scan: the documents FileScan reads doc_id and lang and no
    // other field (order/type tolerant — exact-string schemas are brittle)
    val readSchema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(samplePlan).map(_.group(1)).getOrElse("")
    val readCols = readSchema.split(",").map(_.split(":")(0).trim).toSet
    assert(readCols == Set("doc_id", "lang"),
      s"stratified sample must prune to doc_id+lang at the scan, read: $readCols")
    val packPlan = frames("text_pack_sequences")
      .queryExecution.executedPlan.toString
    assert(packPlan.contains("hashpartitioning(lang"),
      "packing window must partition by lang, never be partition-less")
    // the embedding near-dup pair joins must CO-SHUFFLE on the block key
    // — a corpus-sized broadcast build side is an OOM at cluster scale.
    // dedup_embedding_cosine has no legitimate broadcast at all; the
    // auto variant's only broadcast is the nlist-row seed frame inside
    // its cached coarse assignment, never a BroadcastHashJoin pair join.
    // Vectors and pairs that fit the driver tail plan no join at all, so
    // the auto variant is planned with auto-broadcast off, the at-scale
    // path.
    val cosPlan = frames("dedup_embedding_cosine").queryExecution.executedPlan.toString
    assert(cosPlan.contains("ShuffledHashJoin"),
      "embedding near-dup pair join must be a shuffled hash join")
    assert(!cosPlan.contains("BroadcastExchange"),
      "embedding near-dup must not broadcast the corpus")
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val autoDf = SparkEntry.queries("dedup_embedding_auto")(spark, dir)
    show("dedup_embedding_auto (auto-broadcast off)", autoDf)
    val autoPlan = autoDf.queryExecution.executedPlan.toString
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    assert(autoPlan.contains("ShuffledHashJoin"),
      "embedding auto near-dup pair join must be a shuffled hash join")
    assert(!autoPlan.contains("BroadcastHashJoin"),
      "embedding auto near-dup must not broadcast-join the corpus")
    // the as-of join is JOIN-FREE by construction (tagged union + running
    // window): exactly one hash exchange (the window's partitioning on the
    // join key) and no join operator of any kind — in particular never the
    // BroadcastNestedLoopJoin an inequality-join formulation degenerates to
    val asofPlan = frames("evt_asof_join").queryExecution.executedPlan.toString
    assert(!asofPlan.contains("Join"),
      "as-of join must compile to a window pass, not a join operator")
    val nHashEx = "Exchange hashpartitioning".r.findAllIn(asofPlan).length
    assert(nHashEx == 1,
      s"as-of join must shuffle exactly once on the join key, found $nHashEx hash exchanges")
    // the range join is bucketized: a plain shuffled EQUI-join on
    // (user, bucket) with the exact range check as a residual predicate —
    // never a nested-loop / cartesian plan, whose pair space is per-user
    // history length instead of per-bucket density. At sf0.001 the build
    // side is KB-sized and the planner would (legitimately) broadcast it;
    // the audit pins the AT-SCALE shape — where neither side fits an
    // executor — by planning this one frame with auto-broadcast off.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val rangeDf = SparkEntry.queries("evt_range_join")(spark, dir)
    show("evt_range_join (auto-broadcast off)", rangeDf)
    val rangePlan = rangeDf.queryExecution.executedPlan.toString
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    assert(rangePlan.contains("SortMergeJoin") || rangePlan.contains("ShuffledHashJoin"),
      "range join must be a shuffled equi-join on (user, bucket)")
    assert(!rangePlan.contains("NestedLoop") && !rangePlan.contains("Cartesian"),
      "range join must not degenerate to a nested-loop/cartesian plan")
    // both tf⋈df attaches are vocabulary-sized joins: co-shuffled on the
    // term/token key, never a broadcast (corpus vocabulary is unbounded at
    // 100 TB — a broadcast build side is an executor OOM)
    val dtPlan = frames("text_distinctive_terms").queryExecution.executedPlan.toString
    assert(dtPlan.contains("ShuffledHashJoin"),
      "distinctive terms df attach must be a shuffled hash join")
    assert(!dtPlan.contains("BroadcastExchange"),
      "distinctive terms must not broadcast the vocabulary")
    val lidPlan = frames("text_lang_id").queryExecution.executedPlan.toString
    assert(lidPlan.contains("ShuffledHashJoin"),
      "lang-id profile attach must be a shuffled hash join")
    assert(!lidPlan.contains("BroadcastExchange"),
      "lang-id must not broadcast the corpus-vocabulary profile")
    // self-information: the tf⋈cf attach co-shuffles on the token (the
    // vocabulary is unbounded — same discipline as the two above); the
    // only broadcast is the 1-row corpus total, which planners compile
    // to a BroadcastNestedLoopJoin cross, never a BroadcastHashJoin of
    // anything vocabulary- or corpus-sized
    val siPlan = frames("text_self_information").queryExecution.executedPlan.toString
    assert(siPlan.contains("ShuffledHashJoin"),
      "self-information cf attach must be a shuffled hash join")
    assert(!siPlan.contains("BroadcastHashJoin"),
      "self-information must not broadcast-hash-join the vocabulary")
    // vocab coverage: the head extraction must be the DISTRIBUTED top-K
    // (TakeOrderedAndProject), never a global sort or a window over the
    // full unbounded vocabulary
    val vcPlan = frames("text_vocab_coverage").queryExecution.executedPlan.toString
    assert(vcPlan.contains("TakeOrderedAndProject"),
      "vocab coverage head must be a distributed TakeOrdered, not a global sort")
    // decontamination is the DELIBERATE broadcast: the eval index is
    // fixed-size by construction (a benchmark suite does not grow with the
    // corpus), so the right 100 TB shape is a map-side broadcast join —
    // the corpus-sized shingle frame must never shuffle on shingle hash
    // (its only shuffle is the doc_id-keyed aggregate)
    val deconDf = SparkEntry.queries("text_decontaminate")(spark, dir)
    show("text_decontaminate", deconDf)
    val deconPlan = deconDf.queryExecution.executedPlan.toString
    assert(deconPlan.contains("BroadcastHashJoin"),
      "decontamination must broadcast the bounded eval index")
    assert(!deconPlan.contains("SortMergeJoin") && !deconPlan.contains("ShuffledHashJoin"),
      "decontamination must never shuffle the corpus on shingle hash")
    // the funnel's three stages all key on user_id: with auto-broadcast
    // off (at scale every stage frame is user-count-sized — none fits an
    // executor) every hash exchange must partition on user_id and every
    // join must be a shuffled equi-join, so Catalyst can reuse one
    // partitioning across the whole cascade
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val funnelDf = SparkEntry.queries("evt_funnel")(spark, dir)
    show("evt_funnel (auto-broadcast off)", funnelDf)
    val funnelPlan = funnelDf.queryExecution.executedPlan.toString
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    val funnelKeys = "hashpartitioning\\((\\w+)".r
      .findAllMatchIn(funnelPlan).map(_.group(1)).toSet
    assert(funnelKeys == Set("user_id"),
      s"funnel must shuffle only on user_id, found keys: $funnelKeys")
    assert(!funnelPlan.contains("NestedLoop") && !funnelPlan.contains("Cartesian"),
      "funnel must not degenerate to a nested-loop/cartesian plan")
    // stickiness computes the trailing window via a bounded ×7 explode —
    // the plan must never contain a nested-loop/cartesian (the day×day
    // RANGE join this operator exists to avoid; the one equi-join it
    // does contain attaches the days-sized DAU and WAU aggregates), and
    // the events scan must prune to (user_id, ts)
    val stickDf = SparkEntry.queries("evt_stickiness")(spark, dir)
    show("evt_stickiness", stickDf)
    val stickPlan = stickDf.queryExecution.executedPlan.toString
    assert(!stickPlan.contains("NestedLoop") && !stickPlan.contains("Cartesian"),
      "stickiness must not plan a range join")
    val stickRead = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(stickPlan).map(_.group(1)).getOrElse("")
    assert(stickRead.split(",").map(_.split(":")(0).trim).toSet == Set("user_id", "ts"),
      s"stickiness must prune the events scan to user_id+ts, read: $stickRead")
    // the transition matrix's only data-sized shuffle is the user_id lag
    // window; the row-normalizing window runs over the |types|²-row frame
    val tmPlan = SparkEntry.queries("evt_transition_matrix")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(tmPlan.contains("hashpartitioning(user_id"),
      "transition matrix's lag window must partition on user_id")
    assert(!tmPlan.contains("NestedLoop") && !tmPlan.contains("Cartesian"),
      "transition matrix must stay join-free")
    // the 2-probe graph's corpus-sized joins (probe attach, salted pair
    // join, mutuality self-join) are all hinted shuffle_hash; a broadcast
    // of a corpus-sized frame is an OOM at cluster scale. Its one
    // legitimate broadcast-hash join is the nlist-row per-list-size table
    // that attaches the skew-split factor (nsplit) — an aggregate over
    // the list key, bounded by √n rows. The scored-pair subtree repeats
    // in the tree (mirror + mutuality self-join), so assert on KIND, not
    // count: every broadcast-hash join must be the nsplit attach keyed on
    // cl, and there must be one
    val knn2Df = SparkEntry.queries("sim_knn_graph2")(spark, dir)
    show("sim_knn_graph2", knn2Df)
    val knn2Plan = knn2Df.queryExecution.executedPlan.toString
    assert(knn2Plan.contains("ShuffledHashJoin"),
      "2-probe knn graph joins must co-shuffle")
    val knn2Bhj = "BroadcastHashJoin".r.findAllIn(knn2Plan).length
    assert(knn2Bhj >= 1 && knn2Bhj == "BroadcastHashJoin \\[cl#".r.findAllIn(knn2Plan).length,
      "2-probe broadcast-hash joins must all be the nlist-row nsplit attach on cl")
    // the centroid scoring (a broadcast cross join) runs before the probe
    // checkpoint, so the graph's own plan is equi-join only
    assert(!knn2Plan.contains("NestedLoop") && !knn2Plan.contains("Cartesian"),
      "2-probe knn graph must stay equi-join only — no cartesian anywhere")
    // the bit-signature graph's per-bucket size table is CORPUS-ORDER
    // (~n/64 rows keyed (table, bucket)) — unlike the Voronoi family's
    // nlist-row planning table it must CO-SHUFFLE onto the blocked rows,
    // and no other stage has a broadcastable side either: the whole plan
    // must be broadcast-free (signature assignment is per-row arithmetic
    // on constant weight arrays, no centroid frame exists)
    val knnbDf = SparkEntry.queries("sim_knn_graph_bits")(spark, dir)
    show("sim_knn_graph_bits", knnbDf)
    val knnbPlan = knnbDf.queryExecution.executedPlan.toString
    assert(knnbPlan.contains("ShuffledHashJoin"),
      "bit-signature graph joins must co-shuffle")
    assert(!knnbPlan.contains("BroadcastHashJoin") &&
        !knnbPlan.contains("BroadcastExchange"),
      "bit-signature graph must broadcast nothing — its size table is corpus-order")
    assert(!knnbPlan.contains("NestedLoop") && !knnbPlan.contains("Cartesian"),
      "bit-signature graph must stay equi-join only")
    // the cross-source overlap matrix self-joins the df-capped shingle
    // index: corpus-sized on both sides, so it must co-shuffle on h
    // (reusing the df window's exchange), never broadcast; and the df cap
    // must keep the pair stage free of nested-loop degeneration
    val xsoDf = SparkEntry.queries("text_cross_source_overlap")(spark, dir)
    show("text_cross_source_overlap", xsoDf)
    val xsoPlan = xsoDf.queryExecution.executedPlan.toString
    assert(xsoPlan.contains("ShuffledHashJoin"),
      "cross-source overlap self-join must co-shuffle on shingle hash")
    assert(!xsoPlan.contains("BroadcastExchange"),
      "cross-source overlap must never broadcast the shingle index")
    assert(!xsoPlan.contains("NestedLoop") && !xsoPlan.contains("Cartesian"),
      "cross-source overlap must stay an equi-join on h")
    // the ngram-Jaccard inverted index is df-capped: the hot-shingle
    // exclusion must be a co-shuffled LeftAnti (the hot list is corpus-
    // dependent and unbounded — a broadcast build side is an OOM), and
    // no stage of the pair pipeline may broadcast a corpus-sized frame
    // (r22) the index is localCheckpoint'ed inside the pair pipeline, so
    // the LeftAnti shape is pinned on the pre-checkpoint probe — the
    // exact relation the checkpoint materializes. A shingle table that
    // fits the driver tail skips these plans, so the section runs with
    // auto-broadcast off, the at-scale path.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val njIdx = graft.operators.DedupOps.ngramIndexProbe(spark, dir)
    show("dedup_ngram_jaccard index (pre-checkpoint, auto-broadcast off)", njIdx)
    val njIdxPlan = njIdx.queryExecution.executedPlan.toString
    val njDf = SparkEntry.queries("dedup_ngram_jaccard")(spark, dir)
    show("dedup_ngram_jaccard (auto-broadcast off)", njDf)
    val njPlan = njDf.queryExecution.executedPlan.toString
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    assert(njIdxPlan.contains("LeftAnti"),
      "ngram jaccard must anti-join the hot-shingle list away")
    assert(!njIdxPlan.contains("BroadcastExchange"),
      "ngram jaccard must never broadcast the hot list")
    assert(!njPlan.contains("BroadcastExchange"),
      "ngram jaccard must never broadcast the hot list or the index")
    // the mixture planner is scan-bound by design: token counts are a
    // pure projection (no explode) and the one aggregate keys on the
    // catalog-sized (lang, source) stratum space; the scan must prune
    // to exactly the three columns the plan consumes
    val mixPlan = SparkEntry.queries("text_mixture_plan")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!mixPlan.contains("Generate"),
      "mixture plan must count tokens without an explode")
    assert(!mixPlan.contains("Join"),
      "mixture plan must stay join-free")
    val mixRead = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(mixPlan).map(_.group(1)).getOrElse("")
    assert(mixRead.split(",").map(_.split(":")(0).trim).toSet ==
      Set("text", "lang", "source"),
      s"mixture plan must prune the documents scan to text+lang+source, read: $mixRead")
    // mixture apply: the plan attach must be a BROADCAST join (the plan
    // is catalog-sized by construction — never data-sized), so the
    // corpus side is scan → project → map-side join → filter; the only
    // hash exchange anywhere is the planner's own (lang, source)
    // aggregate, never a shuffle of the document side on doc keys
    val mixApplyDf = SparkEntry.queries("text_mixture_apply")(spark, dir)
    show("text_mixture_apply", mixApplyDf)
    val mixApplyPlan = mixApplyDf.queryExecution.executedPlan.toString
    assert(mixApplyPlan.contains("BroadcastHashJoin"),
      "mixture apply must broadcast the catalog-sized plan")
    assert(!mixApplyPlan.contains("SortMergeJoin") &&
      !mixApplyPlan.contains("ShuffledHashJoin"),
      "mixture apply must never shuffle the corpus for the plan attach")
    val mixApplyKeys = "hashpartitioning\\((\\w+)".r
      .findAllMatchIn(mixApplyPlan).map(_.group(1)).toSet
    assert(mixApplyKeys.subsetOf(Set("lang", "source")),
      s"mixture apply's only hash exchange is the planner aggregate, found: $mixApplyKeys")
    // chunk dedup: first-wins is a groupBy on the chunk hash whose
    // min(struct) combines map-side, and the winner attach co-shuffles
    // on the same hash — the winner relation is corpus-sized, so a
    // broadcast build side is an OOM at cluster scale
    val cdDf = SparkEntry.queries("text_chunk_dedup")(spark, dir)
    show("text_chunk_dedup", cdDf)
    val cdPlan = cdDf.queryExecution.executedPlan.toString
    assert(cdPlan.contains("ShuffledHashJoin"),
      "chunk dedup winner attach must co-shuffle on the chunk hash")
    assert(!cdPlan.contains("BroadcastExchange"),
      "chunk dedup must never broadcast the corpus-sized winner relation")
    assert(!cdPlan.contains("NestedLoop") && !cdPlan.contains("Cartesian"),
      "chunk dedup must stay an equi-join on the chunk hash")
    // corpus shuffle: the distributed total-order rank must keep every
    // data-sized step partition-parallel — the only hash exchanges key
    // on bucket (the per-bucket rank window + the counts aggregate), the
    // offset attach is a BROADCAST of the offset table (bucket count is
    // derived from the corpus count, capped at 64 Ki rows), and the
    // scan prunes to the id column alone
    val csDf = SparkEntry.queries("text_corpus_shuffle")(spark, dir)
    show("text_corpus_shuffle", csDf)
    val csPlan = csDf.queryExecution.executedPlan.toString
    assert(csPlan.contains("BroadcastHashJoin"),
      "corpus shuffle must broadcast the bucket-offset table")
    assert(!csPlan.contains("SortMergeJoin") && !csPlan.contains("ShuffledHashJoin"),
      "corpus shuffle must never shuffle the corpus for the offset attach")
    val csKeys = "hashpartitioning\\((\\w+)".r
      .findAllMatchIn(csPlan).map(_.group(1)).toSet
    assert(csKeys == Set("bucket"),
      s"corpus shuffle's data-sized exchanges must key on bucket, found: $csKeys")
    val csRead = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(csPlan).map(_.group(1)).getOrElse("")
    assert(csRead.split(",").map(_.split(":")(0).trim).toSet == Set("doc_id"),
      s"corpus shuffle must prune the documents scan to doc_id, read: $csRead")
    // embedding covariance: ONE native imperative-aggregate pass — no
    // join anywhere, no corpus-sized explode (the pair explode operates
    // on the single moments row, ABOVE the aggregate), and the
    // embeddings scan prunes to the vector column alone
    // (cleared cache: earlier knn checks cache the wider quantized frame,
    // and Spark's cache matching would substitute it into this plan —
    // legitimate reuse in a shared session, but the audit pins the
    // STANDALONE shape)
    Caches.release(); spark.catalog.clearCache()
    val covDf = SparkEntry.queries("sim_embedding_covariance")(spark, dir)
    show("sim_embedding_covariance", covDf)
    val covPlan = covDf.queryExecution.executedPlan.toString
    assert(covPlan.contains("graft_vector_moments"),
      "embedding covariance must aggregate via the native moments expression")
    assert(!covPlan.contains("Join"),
      "embedding covariance must stay join-free")
    val covRead = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(covPlan).map(_.group(1)).getOrElse("")
    assert(covRead.split(",").map(_.split(":")(0).trim).toSet == Set("embedding"),
      s"embedding covariance must prune the embeddings scan to embedding, read: $covRead")
    // component scores: one moments pass shared with the component,
    // constants broadcast via a 1-row crossJoin, then a STATELESS score
    // map over the corpus — the scan must prune to (vec_id, embedding)
    // and nothing corpus-sized may sort-merge or broadcast (the plan's
    // only joins are the 1-row constant attaches)
    val pcsDf = SparkEntry.queries("sim_component_scores")(spark, dir)
    show("sim_component_scores", pcsDf)
    val pcsPlan = pcsDf.queryExecution.executedPlan.toString
    val pcsRead = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(pcsPlan).map(_.group(1)).toSeq
    assert(pcsRead.exists(r =>
        r.split(",").map(_.split(":")(0).trim).toSet == Set("vec_id", "embedding")),
      s"component scores must prune a scan to vec_id+embedding, read: $pcsRead")
    assert(!pcsPlan.contains("SortMergeJoin"),
      "component scores must not sort-merge anything — its joins are 1-row attaches")
    // pagerank: the per-round joins are corpus-sized on both sides
    // (ranks ⋈ edges, nodes ⋈ sums) — hinted shuffle_hash like every
    // other corpus join; the final plan (last round over checkpointed
    // leaves) must show co-shuffled equi-joins and no nested loop
    // direct call: the suite's sim_pagerank is refined-backed as of r14;
    // this audit pins the 2-probe-supplied composition (calibration path).
    // An edge list that fits the driver tail plans no round, so the
    // section runs with auto-broadcast off, the at-scale path.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val prDf = graft.operators.SimilarityOps.pageRankOverGraph(spark, dir,
      graft.operators.SimilarityOps.knnGraph2Edges(spark, dir))
    show("pageRank over 2-probe graph (calibration, direct, auto-broadcast off)", prDf)
    val prPlan = prDf.queryExecution.executedPlan.toString
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    assert(prPlan.contains("ShuffledHashJoin"),
      "pagerank joins must co-shuffle")
    // the 2-probe graph build contributes the one legitimate nested
    // loop: the nlist-row centroid broadcast cross-score (same
    // allowance as the sim_knn_graph2 audit); a true cartesian of
    // corpus-sized frames stays forbidden
    assert(!prPlan.contains("CartesianProduct"),
      "pagerank's corpus-sized joins must stay equi-joins")
    // value quantiles: no global sort / partition-less corpus rank —
    // every exchange keys on event_type (the windows run over the
    // value-domain-sized distinct-cents frame), and the events scan
    // prunes to (event_type, value)
    val vqDf = SparkEntry.queries("evt_value_quantiles")(spark, dir)
    show("evt_value_quantiles", vqDf)
    val vqPlan = vqDf.queryExecution.executedPlan.toString
    val vqKeys = "hashpartitioning\\((\\w+)".r
      .findAllMatchIn(vqPlan).map(_.group(1)).toSet
    assert(vqKeys == Set("event_type"),
      s"value quantiles must shuffle only on event_type, found: $vqKeys")
    val vqRead = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(vqPlan).map(_.group(1)).getOrElse("")
    assert(vqRead.split(",").map(_.split(":")(0).trim).toSet == Set("event_type", "value"),
      s"value quantiles must prune the events scan to event_type+value, read: $vqRead")
    // cluster exemplars: composition of audited pieces — still assert
    // the composed plan never degenerates to a nested loop / cartesian
    // and the exemplar pick window is cluster-partitioned. Node rows that
    // fit the driver tail are picked on the driver, which plans no
    // window, so the section runs with auto-broadcast off.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val ceDf = graft.operators.SimilarityOps.clusterExemplarsFrom(spark, dir,
      graft.operators.SimilarityOps.knnGraph2Edges(spark, dir).select("ida", "idb"))
    val cePlan = ceDf.queryExecution.executedPlan.toString
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    // same 2-probe allowance as pagerank: the cached graph lineage
    // carries the nlist-row centroid broadcast cross-score
    assert(!cePlan.contains("CartesianProduct"),
      "cluster exemplars' corpus-sized joins must stay equi-joins")
    assert(cePlan.contains("hashpartitioning(cluster_id"),
      "exemplar pick must window per cluster, never partition-less")
    // DATS Q1: the top-dataset filter is an explicitly broadcast
    // row-bounded frame (datasets matching two titles) — the plan must
    // carry that broadcast and stay cartesian-free
    val q1Df = SparkEntry.queries("q1_second_level")(spark, dir)
    show("q1_second_level", q1Df)
    val q1Plan = q1Df.queryExecution.executedPlan.toString
    assert(q1Plan.contains("BroadcastHashJoin"),
      "q1 must broadcast the title-filtered top-dataset frame")
    assert(!q1Plan.contains("NestedLoop") && !q1Plan.contains("Cartesian"),
      "q1 must stay equi-join only")
    // the corpus-sized file-dataset union branch must constant-fold away
    // (file datasets are untitled, so the root-title filter folds false):
    // a root lookup that scans the file branch is the 4 s-at-sf1 regression
    // this pin exists to stop
    assert(!q1Plan.contains("lineitem"),
      "q1 must prune the file-dataset branch — no lineitem scan in a root-title lookup")
    // DATS Q7 (tabular dump) — the reference's 410-LoC denormalizer.
    // At 100 TB the subject-side frames (members, characteristics pivot,
    // file chain) are all corpus-sized on both sides: with auto-broadcast
    // off every join must stay a shuffled equi-join (no nested loop /
    // cartesian anywhere), and the characteristics pivot must aggregate
    // partitioned on the subject key, never partition-less. The explicit
    // charNames header keeps the plan collect-free (one job, no driver
    // distinct pass).
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val q7Df = SparkEntry.queries("q7_tabular_dump")(spark, dir)
    show("q7_tabular_dump (auto-broadcast off)", q7Df)
    val q7Plan = q7Df.queryExecution.executedPlan.toString
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    assert(!q7Plan.contains("NestedLoop") && !q7Plan.contains("Cartesian"),
      "q7 must stay equi-join only at scale")
    assert(q7Plan.contains("hashpartitioning(subject_mid"),
      "q7's characteristics pivot must aggregate partitioned on the subject key")
    // r18 shape pin: the pivot shape is keyed off the layout
    // (DatsQueries — union on view graphs, per-source over bucketed
    // scans). The union shape emits only __a<i> pivot columns; the
    // per-source shape additionally emits __b<i> from the disease
    // pivot. A __b0 here means the view path is paying the second
    // aggregation + scaffold join the sf10 A/B priced at 1.12×
    // (bench/history/ab_sf10.jsonl: union/per-source geomean 0.894 on views).
    assert(!q7Plan.contains("__b0"),
      "q7 direct (view graph) must use the single union pivot — no disease-pivot columns")
    // materialized deployment (EntityStore parquet): Q3's typed member
    // hop must reach the materials scan as a PARTITION filter (the
    // table is written partitioned by material_type — whole directories
    // prune at planning time), and both query parameters must push into
    // their parquet scans instead of filtering post-scan
    val q3mDf = SparkEntry.queries("q3_study_group_members_mat")(spark, dir)
    show("q3_study_group_members_mat", q3mDf)
    val q3mPlan = q3mDf.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*material_type[^\\]]*= subject\\)".r
        .findFirstIn(q3mPlan).nonEmpty,
      "q3-mat must prune materials to the subject partition at the scan")
    assert(q3mPlan.contains("EqualTo(identifier,phs000000)"),
      "q3-mat must push the dataset-accession parameter to the identifiers scan")
    assert(q3mPlan.contains("EqualTo(name,AUTOMOBILE)"),
      "q3-mat must push the group-name parameter to the study_groups scan")
    // q7 over the materialized tables keeps the same at-scale shape as
    // the view form (equi-joins only) and must additionally RIDE the
    // bucketed layout (r17): materials/characteristics/diseases are
    // written bucketBy(material_id), so the pivot aggregates, the
    // subject joins, and the two-pivot merge all inherit the scan's
    // hash distribution — with auto-broadcast off, NO exchange keyed on
    // the subject key may appear anywhere in the plan. An
    // `Exchange hashpartitioning(subject_mid…` here means the corpus-
    // sized characteristics relation is being re-shuffled per query —
    // the exact cost the bucketing deleted (q7-mat sf10: the pivot
    // exchange dominated the 39.5 s r16 row).
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val q7mDf = SparkEntry.queries("q7_tabular_dump_mat")(spark, dir)
    show("q7_tabular_dump_mat (auto-broadcast off)", q7mDf)
    val q7mPlan = q7mDf.queryExecution.executedPlan.toString
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    assert(!q7mPlan.contains("NestedLoop") && !q7mPlan.contains("Cartesian"),
      "q7-mat must stay equi-join only at scale")
    assert(q7mPlan.contains("SelectedBucketsCount"),
      "q7-mat must read the entity tables as bucketed catalog scans")
    assert(!q7mPlan.contains("Exchange hashpartitioning(subject_mid"),
      "q7-mat's pivot/merge must ride the bucketed distribution — no subject-key exchange")
    // r18 shape pin, other direction: over the bucketed layout the
    // per-source split must be in force (its two pivots are what the
    // zero-exchange assertion above rides; losing the split would pass
    // that assertion vacuously only at small sf where AQE folds the
    // union — the __b0 column is the structural witness).
    assert(q7mPlan.contains("__b0"),
      "q7-mat (bucketed layout) must use the per-source pivots — disease-pivot columns present")
    // q4 over the materialized tables (r18): the derivesFrom chain's
    // corpus-sized FK side (every file's extract, the 60M-row branch at
    // sf10) must read the derives_from-bucketed edge face so its
    // extract→sample join plans exchange-free against the material_id-
    // bucketed samples scan. A 2-hop chain cannot be co-located on both
    // keys by one layout, so exactly ONE join exchange is irreducible —
    // the intermediate's hop onto the subject key — and the pin asserts
    // both directions: the deleted exchange stays deleted (no
    // sample_fk shuffle anywhere) and the irreducible one is really the
    // plan in force (a missing subject_fk exchange under auto-broadcast
    // off would mean the pin is auditing some other shape entirely).
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val q4mDf = SparkEntry.queries("q4_subject_samples_mat")(spark, dir)
    show("q4_subject_samples_mat (auto-broadcast off)", q4mDf)
    val q4mPlan = q4mDf.queryExecution.executedPlan.toString
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    assert(!q4mPlan.contains("NestedLoop") && !q4mPlan.contains("Cartesian"),
      "q4-mat must stay equi-join only at scale")
    assert(q4mPlan.contains("derives_edges") && q4mPlan.contains("SelectedBucketsCount"),
      "q4-mat's extract side must scan the bucketed derivesFrom edge face")
    assert(!q4mPlan.contains("Exchange hashpartitioning(sample_fk"),
      "q4-mat's corpus-sized extract side must ride the edge face's " +
        "derives_from distribution — no sample-key exchange")
    assert(q4mPlan.contains("Exchange hashpartitioning(subject_fk"),
      "q4-mat's one irreducible mid-chain exchange (intermediate onto the " +
        "subject key) must be present — its absence means the audited shape drifted")
    // the k-NN descent's contraction (TopKEdgesAgg) must stay in the
    // HASH aggregate regime: a SortAggregate here means the
    // objectHashAggregate fallback-threshold conf regressed and every
    // round re-sorts its corpus-scale scored-pair input — the exact
    // window cost the native aggregate removed (1011 → 712 s at sf10)
    val topkDf = graft.operators.SimilarityOps.seedContractionProbe(spark, dir)
    show("descent seed contraction (TopKEdgesAgg)", topkDf)
    val topkPlan = topkDf.queryExecution.executedPlan.toString
    assert(topkPlan.contains("ObjectHashAggregate") &&
        topkPlan.contains("graft_top_edges"),
      "the descent contraction must plan as an ObjectHashAggregate over graft_top_edges")
    assert(!topkPlan.contains("SortAggregate"),
      "the descent contraction must never fall back to sort-based aggregation")
    if (verbose) println("\n[plan-audit] machine checks passed")
  }
}
