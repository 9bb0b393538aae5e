package graft

import org.apache.spark.sql.functions._

import graft.operators._

class ExtensionOpsSpec extends ParitySupport {

  test("caches: release() frees every operator-registered cache after consumption") {
    Caches.release() // drain whatever earlier suites left registered
    spark.catalog.clearCache()
    // run a cache-heavy operator end-to-end, then release its scope
    val n = DedupOps.minhashLsh(spark, sf).count()
    assert(n > 0)
    assert(Caches.outstanding > 0, "operator should register its caches")
    Caches.release()
    assert(Caches.outstanding === 0)
    // storage actually freed: no cached RDD blocks survive the release
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "released caches must not leave persistent RDDs behind")
  }

  test("dedup: minhash+LSH recovers exactly the exact-Jaccard pairs") {
    val exact = DedupOps.ngramJaccard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = DedupOps.minhashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "expected planted near-dup pairs in the corpus")
    assert(lsh === exact)
  }

  test("text: distinctive terms match a brute-force linear-idf recomputation") {
    val docs = Tables.load(spark, sf, "documents")
      .selectExpr("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+").filter(_.nonEmpty)).toMap
    val tf = docs.toSeq.flatMap { case (id, ws) =>
      ws.groupBy(identity).map { case (t, g) => (id, t, g.length.toLong) }
    }
    val df = tf.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val expect = tf.groupBy(_._1).flatMap { case (id, terms) =>
      terms.map { case (_, t, f) => (t, f, f * 1000000L / df(t)) }
        .sortBy { case (t, _, s) => (-s, t) }.take(3).zipWithIndex
        .map { case ((t, f, s), i) => (id, i + 1L) -> ((t, f, df(t), s)) }
    }
    val got = TextOps.distinctiveTerms(spark, sf).collect().map { r =>
      (r.getLong(0), r.getLong(5)) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    }.toMap
    assert(got === expect)
    Caches.release()
  }

  test("evt: as-of join matches a brute-force latest-order-per-event recomputation") {
    val out = EventOps.asofJoin(spark, sf).collect()
    val events = Tables.loadEventsMs(spark, sf)
      .selectExpr("event_id", "user_id", "ms").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val orders = Tables.load(spark, sf, "orders")
      .selectExpr("o_custkey", "unix_millis(cast(o_orderdate as timestamp)) as ms", "o_orderkey").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    assert(out.length === events.length, "one output row per event")
    val got = out.map(r => r.getLong(0) ->
      (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    events.foreach { case (eid, uid, ems) =>
      // expected: max (ms, orderkey) among the user's orders at or before ems
      val expect = orders.getOrElse(uid, Array.empty[(Long, Long, Long)])
        .filter(_._2 <= ems).sortBy(o => (o._2, o._3)).lastOption.map(_._3)
      assert(got(eid) === expect, s"event $eid")
    }
  }

  test("evt: bucketized range join matches brute force and stays an equi-join") {
    val df = EventOps.rangeJoin(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      "bucketization must keep the range join an equi-join")
    val ev = Tables.loadEventsMs(spark, sf)
      .selectExpr("event_id", "user_id", "ms", "event_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val points = ev.filter(e => e._4 == "click" || e._4 == "view").groupBy(_._2)
    val expect = ev.filter(_._4 == "purchase").flatMap { case (pid, uid, pms, _) =>
      val n = points.getOrElse(uid, Array.empty[(Long, Long, Long, String)])
        .count(c => c._3 >= pms - 3600000L && c._3 < pms)
      if (n > 0) Some(pid -> n.toLong) else None
    }.toMap
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got === expect)
  }

  test("evt: retention cohorts — week 0 is 100%, later weeks never exceed it") {
    val rows = EventOps.retention(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.filter(_.getLong(1) == 0L)
      .foreach(r => assert(r.getDouble(4) === 1.0)) // cohort week retains itself
    rows.foreach(r => assert(r.getLong(3) <= r.getLong(2))) // retained <= cohort
  }

  test("evt: retention week bucketing floors (pre-epoch events land early, not late)") {
    import spark.implicits._
    // -1 ms is the last instant of week -1: floor(-1/wk) = -1, whereas
    // truncating `div` puts it in week 0 — the oracle uses floor (`//`)
    val events = Seq(("u1", -1L), ("u1", 0L), ("u2", 604800000L))
      .toDF("user_id", "ms")
    val rows = EventOps.retentionFrom(events).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet // (cohort, k)
    assert(rows === Set((-1L, 0L), (-1L, 1L), (1L, 0L)))
  }

  test("text: corpus filter buckets partition the corpus") {
    val tallies = TextOps.corpusFilter(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(tallies.values.sum === Tables.load(spark, sf, "documents").count())
    assert(tallies.contains("kept") && tallies("kept") > 0)
    assert(tallies.getOrElse("drop_lang", 0L) > 0) // zh is off the whitelist
  }

  test("text: stratified sample is deterministic and strata-proportional") {
    val docs = Tables.load(spark, sf, "documents")
    val total = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = TextOps.stratifiedSample(spark, sf).groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // non-en strata pass through untouched; en is downsampled near 40%
    total.keys.filter(_ != "en").foreach(l => assert(kept(l) === total(l)))
    val enRate = kept("en").toDouble / total("en")
    assert(enRate > 0.2 && enRate < 0.6, s"en rate $enRate")
    // rerun is byte-identical (hash-gated, no rand())
    assert(TextOps.stratifiedSample(spark, sf).collect().toSeq ===
      TextOps.stratifiedSample(spark, sf).collect().toSeq)
  }

  test("kmeans: assignment is total and centroids are the truncated integer means") {
    val q = Caches.cached(DedupOps.quantized(spark, sf))
    val n = q.count()
    val (asg, cents) = KMeans.fitSized(q, n, nlist = 10)
    // total, unique assignment into the seeded id range
    val rows = asg.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.length.toLong === n)
    assert(rows.map(_._1).distinct.length.toLong === n)
    assert(rows.forall { case (_, cl) => cl >= 10L && cl < 20L })
    // independently recompute each centroid from the raw vectors: the
    // component-wise sum-div-count (truncation toward zero, like Spark's
    // `div`) of its assigned members, plus the squared norm
    val dim = DedupOps.Dim
    val vecs = q.select(col("vec_id"), col("qv"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    val byCl = rows.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    val got = cents.collect().map { r =>
      r.getAs[Long]("cl") -> (r.getSeq[Long](r.fieldIndex("cv")).toArray, r.getAs[Long]("cnrm"))
    }.toMap
    assert(got.keySet === byCl.keySet.filter { cl =>
      val m = byCl(cl).map(vecs)
      (0 until dim).map(i => m.map(_(i)).sum / m.length).map(c => c * c).sum > 0
    })
    got.foreach { case (cl, (cv, cnrm)) =>
      val members = byCl(cl).map(vecs)
      val expect = (0 until dim).map(i => members.map(_(i)).sum / members.length)
      assert(cv.toSeq === expect, s"centroid mismatch for list $cl")
      assert(cnrm === expect.map(c => c * c).sum)
    }
    Caches.release()
  }

  test("dedup: star contraction handles a long chain and matches propagation on the corpus") {
    import spark.implicits._
    // a 300-node chain needs ~300 propagation rounds (past nearDupClusters'
    // 50-round fatal cap) but O(log n) star-contraction rounds — this is
    // the adversarial shape the variant exists for
    val n = 300
    val chain = (0L until n - 1L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labeled = DedupOps.starComponents(chain).collect()
    assert(labeled.length === n)
    assert(labeled.forall(_.getLong(1) == 0L), "every chain node joins component 0")
    // two disjoint components stay disjoint
    val two = Seq((0L, 1L), (1L, 2L), (10L, 11L)).toDF("doc_a", "doc_b")
    val m = DedupOps.starComponents(two).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m === Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 10L -> 10L, 11L -> 10L))
    // and on the real near-dup graph it computes the identical relation
    // as min-label propagation
    val star = DedupOps.nearDupClustersStar(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val prop = DedupOps.nearDupClusters(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(star === prop)
    Caches.release()
  }

  test("dedup: star contraction is duplicate-input-safe and stops on the first star forest") {
    import spark.implicits._
    // r22 dropped the seed distinct (every production caller feeds
    // unique canonical pairs) — a duplicate-feeding caller must still
    // get the identical labeling: round-1 largeStar ends in distinct
    // and re-establishes the invariant, and the structural forest
    // probe only ever runs on post-round (deduplicated) edge sets
    val dup = Seq((0L, 1L), (0L, 1L), (1L, 2L), (1L, 2L), (1L, 2L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val uniq = Seq((0L, 1L), (1L, 2L), (10L, 11L)).toDF("doc_a", "doc_b")
    def labeling(df: org.apache.spark.sql.DataFrame) =
      DedupOps.starComponents(df).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(identity).toSeq
    assert(labeling(dup) === labeling(uniq))
    // an input that is ALREADY a star forest rooted at its minima
    // (u = doc_b > v = doc_a, each u once, no u also a v) converges on
    // the first round via the r22 structural probe — with the labeling
    // the forest itself encodes
    val forest = Seq((0L, 1L), (0L, 2L), (0L, 3L), (5L, 7L)).toDF("doc_a", "doc_b")
    val f = DedupOps.starComponents(forest).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(f === Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 5L -> 5L, 7L -> 5L))
  }

  test("dedup: clusters are a fixpoint labeling consistent with the pairs") {
    val pairs = DedupOps.ngramJaccard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val clusters = DedupOps.nearDupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters.nonEmpty)
    // every paired doc is labeled; both ends of a pair share a cluster
    pairs.foreach { case (a, b) =>
      assert(clusters(a) === clusters(b), s"pair ($a,$b) split across clusters")
    }
    // the cluster id is a member of its own cluster and is the minimum
    clusters.values.toSet.foreach { (c: Long) =>
      assert(clusters(c) === c)
      assert(clusters.filter(_._2 == c).keys.min === c)
    }
  }

  test("dedup: auto-blocked embedding near-dup finds same-list label pairs") {
    val rows = DedupOps.embeddingNearDupAuto(spark, sf).collect()
    assert(rows.nonEmpty)
    // every emitted pair respects the contract: ordered ids, threshold,
    // and a shared coarse list
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(3) >= 0.35)
    }
    val auto = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    // the labeled variant is ground truth within a label; nprobe=1
    // blocking misses cross-list pairs but must recover a substantial
    // share — a wrong tie-break / threshold / cosine would crater this
    val labeledRows = DedupOps.embeddingNearDup(spark, sf).collect()
    val labeled = labeledRows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = auto.intersect(labeled).size.toDouble / labeled.size
    // measured 0.286 on this corpus — the floor guards against a broken
    // tie-break/threshold/cosine (which crater to ~0), not quality
    assert(recall >= 0.25, s"auto-block recall vs labeled ground truth: $recall")
    // identical exact-cosine arithmetic on the pairs both paths emit
    val labeledCos = labeledRows.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val autoCos = rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    auto.intersect(labeled).foreach(p => assert(autoCos(p) === labeledCos(p)))
  }

  test("similarity: 2-probe knn graph's recall gate and edge contract") {
    val r2 = SimilarityOps.knnRecall2(spark, sf).collect()
      .map(r => r.getLong(1) -> r.getLong(2))
    // the full 100-query eval set, hits never exceeding ground truth; on
    // this corpus the measured total is 125/199
    assert(r2.length === 100)
    r2.foreach { case (nTrue, hits) => assert(hits <= nTrue) }
    assert(r2.map(_._2).sum > 0, "2-probe graph recovers no true mutual edge")
    SimilarityOps.knnGraph2(spark, sf).collect().foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getLong(3) <= 3L && r.getLong(4) <= 3L)
    }
  }

  test("similarity: bit-signature knn graph holds the edge contract and its planes are distinct") {
    // the quadratic-term weight formula must yield DISTINCT hyperplanes
    // for every (table, plane) the operator can use (4 tables × up to
    // 40 planes) — the linear mod-7 formula it replaces collapses to 7
    // classes, which would make extra planes pure waste
    val vecs = (0 until 4).flatMap(t => (0 until 40).map { h =>
      val hh = t * 64 + h
      (1 to 64).map(d => SimilarityOps.bitPlaneWeight(hh, d))
    })
    assert(vecs.distinct.length === vecs.length)
    // plane count scale rule: smallest b with 2^b covering n/64 buckets
    assert(SimilarityOps.autoPlanes(500) === 3)
    assert(SimilarityOps.autoPlanes(2000) === 5)
    assert(SimilarityOps.autoPlanes(1000000000L) === 24)
    val edges = SimilarityOps.knnGraphBits(spark, sf).collect()
    assert(edges.nonEmpty)
    edges.foreach { r =>
      assert(r.getLong(r.fieldIndex("ida")) < r.getLong(r.fieldIndex("idb")))
      assert(r.getLong(r.fieldIndex("rnk_a")) <= 3L)
      assert(r.getLong(r.fieldIndex("rnk_b")) <= 3L)
      val c = r.getDouble(r.fieldIndex("cosine"))
      assert(c >= -1.0001 && c <= 1.0001)
    }
    val n = Tables.load(spark, sf, "embeddings").count()
    assert(edges.length <= 3 * n / 2)
    // the recall gate prices the linear-cost trade: per-query rows for
    // the full 100-query eval set, hits never exceeding ground truth
    val rec = SimilarityOps.knnRecallBits(spark, sf).collect()
    assert(rec.length === 100)
    rec.foreach { r =>
      assert(r.getLong(r.fieldIndex("hits")) <= r.getLong(r.fieldIndex("n_true")))
    }
  }

  test("similarity: descent-refined graph recovers edges the bits blocking loses") {
    def totals(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val rows = df.collect()
      assert(rows.length === 100)
      (rows.map(_.getLong(rows.head.fieldIndex("n_true"))).sum,
        rows.map(_.getLong(rows.head.fieldIndex("hits"))).sum)
    }
    val (ntB, hB) = totals(SimilarityOps.knnRecallBits(spark, sf))
    val (ntR, hR) = totals(SimilarityOps.knnRecallRefined(spark, sf))
    // same ground truth on both gates, and the refinement must strictly
    // improve aggregate recall over its own seed (measured 0.63 → 0.78
    // at sf0.01 with k'=8; ≥ is the contract, > the current reality)
    assert(ntB === ntR)
    assert(hR >= hB, s"refined hits $hR below bits seed $hB")
  }

  test("similarity: descent scoring joins produce the identical graph on both physical paths") {
    // the broadcast/co-shuffle dispatch on the candidate-scoring joins
    // (SimilarityOps.DescentBroadcastVecs) is a pure physical-plan
    // choice — forcing the corpus-scale shuffle_hash path must yield
    // byte-identical edges to the shipped broadcast path, otherwise the
    // sf-graded correctness runs (all under the threshold) would never
    // exercise what a real corpus executes. Both run the Spark rounds:
    // the driver tail, which this corpus fits, has no scoring joins.
    def edges(bv: Long): Set[(Long, Long)] = {
      val (out, recs) = recorded(sparkPath(
        SimilarityOps.knnGraphRefinedEdges(spark, sf, broadcastVecs = bv)
          .select(col("ida"), col("idb")).collect()))
      assert(recs.filter(_._1 == "knn_descent").map(_._2).distinct === Seq("spark"),
        s"broadcastVecs=$bv: expected Spark rounds, records $recs")
      out.map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val b = edges(Long.MaxValue) // always broadcast
    val s = edges(0L)            // always co-shuffle
    assert(b === s, "broadcast and shuffle_hash scoring paths disagree")
    assert(b.nonEmpty)
    Caches.release()
  }

  test("similarity: refined-graph consumers compose consistently over one shared build") {
    // one shared edge relation through the same From-seams Bench's
    // shared-build attribution uses — the composed outputs must agree
    // with each other (components partition the edge-connected nodes,
    // exemplar = member with the cluster-max rank, member counts add up)
    val g = SimilarityOps.knnGraphRefined(spark, sf)
      .select(col("ida"), col("idb")).localCheckpoint()
    val edges = g.collect().map(r => (r.getLong(0), r.getLong(1)))
    val comp = SimilarityOps.knnComponentsFrom(g).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    edges.foreach { case (a, b) =>
      assert(comp(a) === comp(b), s"edge ($a,$b) split across clusters")
    }
    val rank = SimilarityOps.pageRankOverGraph(spark, sf, g).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val ex = SimilarityOps.clusterExemplarsFrom(spark, sf, g).collect()
    assert(ex.nonEmpty)
    val members = comp.groupBy(_._2).view.mapValues(_.keys.toSeq).toMap
    assert(ex.map(_.getLong(3)).sum === comp.size.toLong)
    assert(ex.map(_.getLong(0)).toSet === members.keySet)
    ex.foreach { r =>
      val (cl, id, rp) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(comp(id) === cl, s"exemplar $id not a member of cluster $cl")
      assert(rp === members(cl).map(rank).max,
        s"exemplar rank $rp below a member of cluster $cl")
    }
    Caches.release()
  }

  test("similarity: top principal component is unit-scaled and its eigenvalue sits in (0, trace]") {
    val rows = SimilarityOps.topComponent(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSeq === (0L until 64L))
    val comps = rows.map(_.getLong(1))
    // the rescale pins max |component| at exactly 1e6
    assert(comps.map(math.abs).max === 1000000L)
    val eig = rows.map(_.getDouble(2)).distinct
    assert(eig.length === 1) // one global eigenvalue, repeated per row
    // Rayleigh quotient of a PSD matrix: positive, at most the trace
    // (= total variance, the sum of the covariance diagonal)
    val trace = SimilarityOps.embeddingCovariance(spark, sf).collect()
      .filter(r => r.getLong(0) == r.getLong(1))
      .map(_.getDouble(6)).sum
    assert(eig.head > 0.0 && eig.head <= trace * 1.0001,
      s"eigenvalue ${eig.head} outside (0, trace=$trace]")
    // power iteration should find a DOMINANT direction: at least the
    // average eigenvalue (trace/dim) after 10 rounds
    assert(eig.head >= trace / 64.0,
      s"eigenvalue ${eig.head} below the mean-eigenvalue floor ${trace / 64.0}")
  }

  test("similarity: component scores are the centered projection (zero mean, real spread)") {
    val rows = SimilarityOps.componentScores(spark, sf).collect()
    val n = Tables.load(spark, sf, "embeddings").count()
    assert(rows.length.toLong === n)
    val scores = rows.map(_.getDouble(1))
    // Σ(x − μ)·w = 0 exactly in the integer arithmetic; the only error
    // is the final per-row double rounding
    val mean = scores.sum / scores.length
    val spread = scores.max - scores.min
    assert(spread > 0.0)
    assert(math.abs(mean) < spread * 1e-9, s"mean $mean vs spread $spread")
  }

  test("events: epoch extraction is identical across parquet ts encodings") {
    // the r10 regression class: the driver's testdata moved from
    // TIMESTAMP(NANOS)-read-as-long to TIMESTAMP(MICROS) and every
    // ts-touching operator failed analysis. Pin BOTH dispatch branches
    // of Tables.epochMs/epochUs so neither can silently rot.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ts-enc").toString
    val msVals = Seq(1700000000123L, 1700003600456L, 1700007200789L)
    msVals.map(ms => (1L, ms * 1000000L)).toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/long")
    msVals.map(ms => (1L, new java.sql.Timestamp(ms))).toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/stamp")
    // third physical encoding: INT96, the legacy (pre-parquet-2) layout
    // Impala/old Hive lakes still carry — written by pinning Spark's
    // output type, read back through the same timestamp dispatch branch
    val tsType = "spark.sql.parquet.outputTimestampType"
    val prevTsType = spark.conf.get(tsType)
    try {
      spark.conf.set(tsType, "INT96")
      msVals.map(ms => (1L, new java.sql.Timestamp(ms))).toDF("event_id", "ts")
        .write.mode("overwrite").parquet(s"$dir/int96")
    } finally spark.conf.set(tsType, prevTsType)
    def read(p: String) = spark.read.parquet(p)
    def ms(p: String) = {
      val df = read(p)
      df.select(Tables.epochMs(df.schema).as("v")).collect().map(_.getLong(0)).sorted.toSeq
    }
    def us(p: String) = {
      val df = read(p)
      df.select(Tables.epochUs(df.schema).as("v")).collect().map(_.getLong(0)).sorted.toSeq
    }
    // the two physical encodings must resolve through DIFFERENT branches
    assert(read(s"$dir/long").schema("ts").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(read(s"$dir/stamp").schema("ts").dataType !==
      org.apache.spark.sql.types.LongType)
    assert(read(s"$dir/int96").schema("ts").dataType !==
      org.apache.spark.sql.types.LongType)
    assert(ms(s"$dir/long") === msVals.sorted)
    assert(ms(s"$dir/stamp") === msVals.sorted)
    assert(ms(s"$dir/int96") === msVals.sorted)
    assert(us(s"$dir/long") === msVals.map(_ * 1000L).sorted)
    assert(us(s"$dir/stamp") === msVals.map(_ * 1000L).sorted)
    assert(us(s"$dir/int96") === msVals.map(_ * 1000L).sorted)
  }

  test("dedup: exact groups cover all docs, canonical is group min") {
    val rows = DedupOps.exact(spark, sf).collect()
    assert(rows.length === Tables.load(spark, sf, "documents").count())
    rows.foreach(r => assert(r.getLong(r.fieldIndex("canonical_id")) <= r.getLong(0)))
  }

  test("dedup: simhash near-dup pairs overlap heavily with Jaccard pairs") {
    val jac = DedupOps.ngramJaccard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = DedupOps.simhash(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sim.nonEmpty)
    // SimHash at hamming<=6 is a different sketch; require majority agreement
    assert(sim.intersect(jac).size * 2 >= sim.size)
  }

  test("similarity: brute-force top-k returns k ranked neighbors per query") {
    val rows = SimilarityOps.bruteForceTopK(spark, sf).collect()
    val byQuery = rows.groupBy(_.getLong(0))
    assert(byQuery.size === 10)
    byQuery.values.foreach { rs =>
      assert(rs.length === 5)
      val cosines = rs.sortBy(_.getLong(3)).map(_.getDouble(2))
      assert(cosines.zip(cosines.tail).forall { case (a, b) => a >= b })
    }
  }

  test("similarity: LSH top-k cosines are a subset of candidates with rank<=5") {
    val rows = SimilarityOps.lshTopK(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(3) >= 1 && r.getLong(3) <= 5)
      assert(math.abs(r.getDouble(2)) <= 1.0)
    }
  }

  test("similarity: IVF top-k probes labels and recovers most brute-force hits") {
    val ivf = SimilarityOps.ivfTopK(spark, sf).collect()
    val byQuery = ivf.groupBy(_.getLong(0))
    assert(byQuery.size === 10)
    byQuery.values.foreach { rs =>
      assert(rs.length === 5)
      val cosines = rs.sortBy(_.getLong(3)).map(_.getDouble(2))
      assert(cosines.zip(cosines.tail).forall { case (a, b) => a >= b })
    }
    // recall against exact top-5: on this near-uniform corpus nprobe=3/10
    // measures ≈0.4-0.55 — assert the floor so a broken probe (recall→~0)
    // fails loudly while honest ANN variance passes
    val brute = SparkEntry.queries("sim_brute_topk")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet
    val ivfPairs = ivf.map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(brute.intersect(ivfPairs).size >= 15, s"recall@5 too low: ${brute.intersect(ivfPairs).size}/50")
  }

  test("similarity: IVF recall query agrees with an independent recomputation") {
    val rows = SimilarityOps.ivfRecall(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSet === (0L until 10L).toSet)
    rows.foreach { r =>
      val k = r.getLong(r.fieldIndex("k"))
      val hits = r.getLong(r.fieldIndex("hits"))
      assert(k === 5L)
      assert(hits >= 0L && hits <= k)
      assert(r.getDouble(r.fieldIndex("recall")) === hits.toDouble / k)
    }
    // total hits must equal the brute∩ivf intersection the topk test floors
    val brute = SparkEntry.queries("sim_brute_topk")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet
    val ivfPairs = SimilarityOps.ivfTopK(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(rows.map(_.getLong(2)).sum === brute.intersect(ivfPairs).size.toLong)
  }

  test("text: token stats are internally consistent") {
    val rows = TextOps.tokenStats(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getLong(r.fieldIndex("n_distinct")) <= r.getLong(r.fieldIndex("n_tokens")))
      val ttr = r.getDouble(r.fieldIndex("type_token_ratio"))
      assert(ttr > 0 && ttr <= 1.0)
    }
  }

  test("text: langId predicts a language for every doc") {
    val rows = TextOps.langId(spark, sf).collect()
    assert(rows.length === Tables.load(spark, sf, "documents").count())
  }

  test("text: self-information bits match a driver-side recomputation") {
    val rows = TextOps.selfInformation(spark, sf).collect()
    assert(rows.length === Tables.load(spark, sf, "documents").count())
    // independent truth: token frequencies from the raw text
    val texts = Tables.load(spark, sf, "documents").select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+").filter(_.nonEmpty))
    val cf = texts.flatMap(_._2).groupBy(identity).map { case (t, xs) => t -> xs.length.toLong }
    val totalBits = java.lang.Long.toBinaryString(cf.values.sum).length
    val truth = texts.map { case (id, toks) =>
      id -> toks.map(t => (totalBits - java.lang.Long.toBinaryString(cf(t)).length).toLong).sum
    }.toMap
    rows.foreach { r =>
      val id = r.getLong(r.fieldIndex("doc_id"))
      assert(r.getLong(r.fieldIndex("sum_rarity_bits")) === truth(id))
      val mean = r.getDouble(r.fieldIndex("mean_rarity_bits"))
      assert(mean >= 0.0 && mean === truth(id).toDouble / r.getLong(r.fieldIndex("n_tokens")))
    }
  }

  test("text: vocab coverage is monotone and ends at the head's true mass") {
    val rows = TextOps.vocabCoverage(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 32)
    val cums = rows.map(_.getLong(rows.head.fieldIndex("cum_cf")))
    assert(cums.zip(cums.tail).forall { case (a, b) => a < b })
    val ppm = rows.map(_.getLong(rows.head.fieldIndex("coverage_ppm")))
    assert(ppm.zip(ppm.tail).forall { case (a, b) => a <= b })
    assert(ppm.last <= 1000000L)
    // counts are ranked: cf non-increasing down the head
    val cfs = rows.map(_.getLong(rows.head.fieldIndex("cf")))
    assert(cfs.zip(cfs.tail).forall { case (a, b) => a >= b })
  }

  test("events: sessionization partitions all events, durations non-negative") {
    val sess = EventOps.sessionize(spark, sf)
    val totalEvents = sess.agg(sum("n_events")).head().getLong(0)
    assert(totalEvents === Tables.load(spark, sf, "events").count())
    sess.collect().foreach(r => assert(r.getLong(r.fieldIndex("duration_ms")) >= 0))
  }

  test("events: hourly rollup count matches table size") {
    val total = EventOps.hourlyRollup(spark, sf).agg(sum("n_events")).head().getLong(0)
    assert(total === Tables.load(spark, sf, "events").count())
  }

  test("text: decontaminate flags a planted eval leak and nothing else") {
    import spark.implicits._
    // doc 20 is the eval doc; doc 1 contains its text verbatim (full
    // contamination), doc 2 shares one 3-shingle ("c d e"), doc 3 is clean
    val docs = Seq(
      (20L, "a b c d e f"),
      (1L, "a b c d e f"),
      (2L, "x y c d e z"),
      (3L, "p q r s t u")).toDF("doc_id", "text")
    val out = TextOps.decontaminateFrom(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.keySet === Set(1L, 2L, 3L)) // eval doc itself excluded
    assert(out(1L).getLong(out(1L).fieldIndex("contamination_ppm")) === 1000000L)
    assert(out(1L).getLong(out(1L).fieldIndex("n_eval_docs")) === 1L)
    assert(out(2L).getLong(out(2L).fieldIndex("n_hit_shingles")) === 1L)
    assert(out(2L).getLong(out(2L).fieldIndex("contaminated")) === 1L)
    assert(out(3L).getLong(out(3L).fieldIndex("contaminated")) === 0L)
    assert(out(3L).getLong(out(3L).fieldIndex("n_eval_docs")) === 0L)
  }

  test("text: decontaminate invariants hold corpus-wide") {
    val rows = TextOps.decontaminate(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) % 20 !== 0L) // hold-out never appears in output
      val nSh = r.getLong(r.fieldIndex("n_shingles"))
      val nHit = r.getLong(r.fieldIndex("n_hit_shingles"))
      assert(nHit <= nSh)
      assert((nHit > 0) === (r.getLong(r.fieldIndex("contaminated")) == 1L))
      assert((nHit > 0) === (r.getLong(r.fieldIndex("n_eval_docs")) > 0L))
      assert(r.getLong(r.fieldIndex("contamination_ppm")) === nHit * 1000000L / nSh)
    }
  }

  test("text: cross-source overlap finds a planted shared shingle, caps hot ones") {
    import spark.implicits._
    // docs 1 (srcA) and 2 (srcB) share exactly one 8-shingle "a b c d e f
    // g h"; doc 3 (srcC) shares nothing; docs within the same source
    // never pair
    val docs = Seq(
      (1L, "a b c d e f g h i j", "srcA"),
      (2L, "a b c d e f g h z w", "srcB"),
      (3L, "p q r s t u v w x y", "srcC"),
      (4L, "a b c d e f g h k l", "srcA")).toDF("doc_id", "text", "source")
    val out = TextOps.crossSourceOverlapFrom(docs, TextOps.OverlapMaxDf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(out.keySet === Set(("srcA", "srcB"))) // srcC absent; no intra-source pair
    val r = out(("srcA", "srcB"))
    assert(r.getLong(r.fieldIndex("n_doc_pairs")) === 2L) // (1,2) and (4,2)
    assert(r.getLong(r.fieldIndex("n_shared_shingles")) === 1L)
    // df cap: the shared shingle has df=3; maxDf=2 drops it entirely
    assert(TextOps.crossSourceOverlapFrom(docs, maxDf = 2).collect().isEmpty)
  }

  test("text: cross-source overlap invariants hold corpus-wide") {
    val rows = TextOps.crossSourceOverlap(spark, sf).collect()
    assert(rows.nonEmpty, "expected planted cross-source near-dups in the corpus")
    rows.foreach { r =>
      assert(r.getString(0) < r.getString(1)) // strictly ordered pairs
      assert(r.getLong(r.fieldIndex("n_doc_pairs")) >= 1L)
      assert(r.getLong(r.fieldIndex("n_shared_shingles")) >= 1L)
    }
  }

  test("text: corpus shuffle sizes its buckets from the parquet footers, without a job") {
    assert(jobsOf(TextOps.corpusShuffle(spark, sf))._2.isEmpty)
  }

  test("text: mixture plan keeps under-budget strata whole, caps over-budget ones") {
    import spark.implicits._
    // stratum (en, s1): 4 tokens — far under a 10-token budget, rate 1e6;
    // stratum (de, s2): 40 tokens — 4x over, rate 250000
    val docs = Seq(
      (1L, "a b c d", "en", "s1"),
      (2L, Seq.fill(20)("w").mkString(" "), "de", "s2"),
      (3L, Seq.fill(20)("v").mkString(" "), "de", "s2"),
      (4L, "   ", "fr", "s3")) // all-empty stratum: zero tokens, no throw
      .toDF("doc_id", "text", "lang", "source")
    val out = TextOps.mixturePlanFrom(docs, budgetTokens = 10L)
    val rows = out.collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val fr = rows(("fr", "s3"))
    assert(fr.getLong(fr.fieldIndex("n_tokens")) === 0L)
    assert(fr.getLong(fr.fieldIndex("rate_ppm")) === 1000000L)
    assert(fr.getLong(fr.fieldIndex("planned_tokens")) === 0L)
    val en = rows(("en", "s1"))
    assert(en.getLong(en.fieldIndex("n_tokens")) === 4L)
    assert(en.getLong(en.fieldIndex("rate_ppm")) === 1000000L)
    assert(en.getLong(en.fieldIndex("planned_tokens")) === 4L)
    val de = rows(("de", "s2"))
    assert(de.getLong(de.fieldIndex("n_docs")) === 2L)
    assert(de.getLong(de.fieldIndex("n_tokens")) === 40L)
    assert(de.getLong(de.fieldIndex("rate_ppm")) === 250000L)
    assert(de.getLong(de.fieldIndex("planned_tokens")) === 10L)
  }

  test("text: mixture plan invariants hold corpus-wide") {
    val rows = TextOps.mixturePlan(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nt = r.getLong(r.fieldIndex("n_tokens"))
      val rate = r.getLong(r.fieldIndex("rate_ppm"))
      val planned = r.getLong(r.fieldIndex("planned_tokens"))
      assert(rate > 0L && rate <= 1000000L)
      assert(planned <= nt)
      if (rate < 1000000L) assert(planned <= 5000L) // capped strata land under budget
      else assert(planned === nt) // whole strata keep every token
    }
  }

  test("text: mixture apply keeps exactly the docs the plan's hash gate admits") {
    // mixtureApply's own budget
    val plan = TextOps.mixturePlanFrom(Tables.load(spark, sf, "documents"),
        TextOps.ApplyBudgetTokens).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(r.fieldIndex("rate_ppm")))
      .toMap
    val kept = TextOps.mixtureApply(spark, sf).collect()
    assert(kept.nonEmpty)
    // every kept doc satisfies its stratum's gate, with the rate attached
    kept.foreach { r =>
      val rate = plan((r.getString(1), r.getString(2)))
      assert(r.getLong(r.fieldIndex("rate_ppm")) === rate)
    }
    // the composition equals a driver-side replay: per stratum, the kept
    // count matches filtering all docs by hash60(doc_id) % 1e6 < rate
    val all = Tables.load(spark, sf, "documents")
      .selectExpr("doc_id", "lang", "source",
        "cast(conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint) % 1000000 as gate")
      .collect()
    val expect = all.filter { r =>
      r.getLong(3) < plan((r.getString(1), r.getString(2)))
    }.map(_.getLong(0)).toSet
    assert(kept.map(_.getLong(0)).toSet === expect)
    // whole strata (rate 1e6) survive in full
    plan.filter(_._2 == 1000000L).keys.foreach { case (l, s) =>
      val total = all.count(r => r.getString(1) == l && r.getString(2) == s)
      val keptN = kept.count(r => r.getString(1) == l && r.getString(2) == s)
      assert(keptN === total, s"whole stratum ($l,$s) must keep every doc")
    }
  }

  test("text: repetition scores a planted spam doc at full duplicate mass") {
    import spark.implicits._
    val docs = Seq(
      (1L, "buy now buy now buy now"), // bigrams: all repeats, top = "buy now" 3/5
      (2L, "one two three four")).toDF("doc_id", "text") // all unique
    val out = TextOps.repetitionFrom(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    val spam2 = out((1L, 2L))
    assert(spam2.getLong(spam2.fieldIndex("n_grams")) === 5L)
    assert(spam2.getLong(spam2.fieldIndex("top_ppm")) === 3L * 1000000L / 5L)
    assert(spam2.getLong(spam2.fieldIndex("dup_ppm")) === 1000000L) // every bigram repeats
    val clean2 = out((2L, 2L))
    assert(clean2.getLong(clean2.fieldIndex("dup_ppm")) === 0L)
    assert(clean2.getLong(clean2.fieldIndex("top_ppm")) === 1000000L / 3L)
  }

  test("text: repetition ppm invariants hold corpus-wide") {
    val rows = TextOps.repetition(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val ng = r.getLong(r.fieldIndex("n_grams"))
      val top = r.getLong(r.fieldIndex("top_ppm"))
      val dup = r.getLong(r.fieldIndex("dup_ppm"))
      assert(ng > 0 && top >= 1000000L / ng && top <= 1000000L)
      assert(dup >= 0L && dup <= 1000000L)
      if (dup == 0) assert(top === 1000000L / ng) // all unique ⇒ top share = 1/n
      else assert(top >= 2000000L / ng) // any repeat ⇒ top gram occurs ≥ 2×
    }
  }

  test("events: stickiness is exact, and the HLL sketch swap lands within 5%") {
    import spark.implicits._
    val rows = EventOps.stickiness(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val dau = r.getLong(r.fieldIndex("dau"))
      val wau = r.getLong(r.fieldIndex("wau"))
      assert(dau >= 1L && wau >= dau) // the trailing window contains the day
      assert(r.getDouble(r.fieldIndex("stickiness")) === dau.toDouble / wau)
    }
    // the 100 TB swap: approx_count_distinct on the same plan stays close
    val ud = Tables.loadEventsMs(spark, sf)
      .selectExpr("user_id", "ms div 86400000 as day").distinct()
    val approx = ud.groupBy("day")
      .agg(approx_count_distinct(col("user_id")).as("adau"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val exact = r.getLong(r.fieldIndex("dau"))
      val a = approx(r.getLong(r.fieldIndex("day")))
      assert(math.abs(a - exact) <= math.max(1L, (exact * 0.05).toLong),
        s"HLL estimate $a too far from exact $exact")
    }
  }

  test("sim: knn graph edges are mutual and within each endpoint's top k") {
    val edges = SimilarityOps.knnGraph2(spark, sf).collect()
    assert(edges.nonEmpty)
    edges.foreach { r =>
      assert(r.getLong(r.fieldIndex("ida")) < r.getLong(r.fieldIndex("idb")))
      assert(r.getLong(r.fieldIndex("rnk_a")) <= 3L)
      assert(r.getLong(r.fieldIndex("rnk_b")) <= 3L)
      val c = r.getDouble(r.fieldIndex("cosine"))
      assert(c >= -1.0001 && c <= 1.0001)
    }
    // mutuality prunes: the undirected edge set is no larger than k·n/2
    val n = Tables.load(spark, sf, "embeddings").count()
    assert(edges.length <= 3 * n / 2)
  }

  test("sim: knn components cover exactly the graph's vertices, labels are component minima") {
    // components consume the 2-PROBE graph, so the vertex contract is
    // checked against sim_knn_graph2's edge set
    val edges = SparkEntry.queries("sim_knn_graph2")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // direct composition: the suite's sim_knn_components is refined-backed
    // as of r14; this contract test pins the component fixpoint over the
    // 2-probe edges
    val comps = SimilarityOps.knnComponentsFrom(SimilarityOps.knnGraph2Edges(spark, sf)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps.keySet === edges.flatMap(e => Seq(e._1, e._2)).toSet)
    // both endpoints of every edge share a label
    edges.foreach { case (a, b) => assert(comps(a) === comps(b)) }
    // every label is the minimum of its member set
    comps.groupBy(_._2).foreach { case (label, members) =>
      assert(label === members.keys.min)
    }
  }

  test("events: anomaly z-scores are centered and the flag matches |z| > 3") {
    val rows = EventOps.anomaly(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      // z-scores of a full partition sum to ~0 (exact integer numerators
      // cancel; float division leaves rounding dust)
      assert(math.abs(rs.map(_.getDouble(3)).sum) < 1e-9 * rs.length)
      rs.foreach { r =>
        val z = r.getDouble(3)
        val flagged = r.getLong(4) == 1L
        assert(flagged === (math.abs(z) > 3.0), s"flag/z mismatch: z=$z")
      }
    }
  }

  test("events: transition matrix rows normalize and transitions count events minus users") {
    val rows = EventOps.transitionMatrix(spark, sf).collect()
    assert(rows.nonEmpty)
    // each prev_type's probabilities sum to 1 (up to float dust)
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      assert(math.abs(rs.map(_.getDouble(4)).sum - 1.0) < 1e-9)
      val total = rs.head.getLong(3)
      assert(rs.map(_.getLong(2)).sum === total)
    }
    // a user with k events contributes k-1 transitions
    val ev = Tables.load(spark, sf, "events")
    val expected = ev.count() - ev.select("user_id").distinct().count()
    assert(rows.map(_.getLong(2)).sum === expected)
  }

  test("events: funnel matches an independent per-user fold") {
    val ev = Tables.loadEventsMs(spark, sf)
      .selectExpr("user_id", "event_type", "ms")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val expected = ev.groupBy(_._1).flatMap { case (u, es) =>
      es.collect { case (_, "view", m) => m }.minOption.map { vm =>
        val c = es.collect { case (_, "click", m) if m > vm => m }.minOption
        val p = c.flatMap(cm =>
          es.collect { case (_, "purchase", m) if m > cm => m }.minOption)
        (u, vm, c, p, 1L + c.size + p.size)
      }
    }.toSet
    val got = EventOps.funnel(spark, sf).collect().map { r =>
      (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        r.getLong(4))
    }.toSet
    assert(got === expected)
  }

  test("rel: ordersRollup emits the ANSI grand-total row over EMPTY input " +
      "and matches the Expand-rollup shape on real data") {
    // ANSI ROLLUP's () grouping set aggregates the whole (empty) input —
    // one row, count 0, null total. Spark's .rollup returns zero rows
    // there (fuzz seed 0, r20); the re-aggregation shape must not.
    val dir = java.nio.file.Files.createTempDirectory("rollup_empty_").toString
    spark.read.parquet(s"$sf/orders.parquet").limit(0)
      .write.parquet(s"$dir/orders.parquet")
    val empty = graft.operators.Projections.ordersRollup(spark, dir).collect()
    assert(empty.length === 1)
    assert(empty(0).getString(0) === "ALL" && empty(0).getString(1) === "ALL")
    assert(empty(0).getLong(2) === 0L && empty(0).isNullAt(3))
    // non-empty: the re-aggregation levels must reproduce the legacy
    // single-pass Expand rollup exactly (counts AND exact decimal sums)
    val legacy = spark.read.parquet(s"$sf/orders.parquet")
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .as("d_total"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n_orders"), col("d_total").cast("double").as("total_price"))
    val got = graft.operators.Projections.ordersRollup(spark, sf)
    assert(got.exceptAll(legacy).isEmpty && legacy.exceptAll(got).isEmpty)
  }

  test("evt: propsProfile tolerates no-match and null props under ANSI " +
      "and counts them as n_null") {
    // regexp_extract returns '' on a no-match and ANSI ''.cast(long)
    // THROWS — caught by the r20 evt fuzz; the nullif pin makes the
    // no-match rows the n_null rows, matching the oracle
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("props_ansi_").toString
    Seq(
      (0L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "view", 1.0, "{\"k\": 7}"),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:01"), 1L, "view", 1.0, "{}"),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 00:00:02"), 1L, "view", 1.0, "{\"j\": 5}"),
      (3L, java.sql.Timestamp.valueOf("2024-01-01 00:00:03"), 1L, "view", 1.0, null.asInstanceOf[String]))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val r = graft.operators.EventOps.propsProfile(spark, dir).collect()
    assert(r.length === 1)
    assert(r(0).getLong(1) === 4L && r(0).getLong(2) === 3L) // n, n_null
    assert(r(0).getLong(3) === 7L && r(0).getLong(4) === 7L) // min_k, max_k
  }

  test("evt: asofJoin never carries an undated order") {
    // an order with a null o_orderdate has no position on the as-of
    // timeline; without the explicit filter Spark's nulls-first
    // ascending sort would 'carry' it for every pre-first-order event
    // (r20 evt fuzz divergence vs DuckDB's nulls-last)
    import spark.implicits._
    val events = Seq((10L, 1L, 5000L)).toDF("event_id", "user_id", "ms")
    // epoch-based Timestamps, NOT Timestamp.valueOf: valueOf parses the
    // wall-clock string in the host JVM's default zone (unpinned here),
    // which would shift the order past the event on western-hemisphere
    // machines and error the test
    val orders = Seq(
      (100L, 1L, Some(new java.sql.Timestamp(1000L)), 11.0),
      (200L, 1L, None: Option[java.sql.Timestamp], 99.0))
      .toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val r = graft.operators.EventOps.asofJoinFrom(events, orders).collect()
    assert(r.length === 1)
    assert(r(0).getLong(3) === 100L && r(0).getDouble(4) === 11.0,
      "the dated order must be carried, never the undated one")
  }
}
