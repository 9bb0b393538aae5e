package graft

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.operators.{DedupOps, Fixpoint, KMeans, SimilarityOps}

/** Parity witness for the [[Fixpoint]] driver tail, in the style of
  * TopComponentParitySpec: each of the five loops — the k-NN descent,
  * PageRank, k-means, label propagation and star contraction — runs once
  * with its state on the driver and once with
  * `spark.sql.autoBroadcastJoinThreshold=-1`, which forces the Spark
  * rounds, and the two runs must return byte-identical rows (doubles
  * compared by raw bits). The per-round records name the path each run
  * took, so neither side can silently take the other. Also pinned: the
  * Spark path releases every checkpoint it made except the returned
  * frame's, on success and on failure; the round cap fails on both paths;
  * and the descent's driver rounds schedule no Spark job.
  */
class FixpointParitySpec extends SparkTestBase {

  // the sf0.01 tables, beside the suite's default sf0.001 fixture
  private val sf01 = s"${new java.io.File(sf).getParent}/sf0.01"

  private def sparkPath[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  /** `body`'s result and the (loop, path) of every round record it logged. */
  private def recorded[T](body: => T): (T, Seq[(String, String)]) = {
    // start the session first: its log-level reset would drop the appender
    spark.version
    val lines = mutable.ArrayBuffer.empty[String]
    val app = new AbstractAppender("fixpoint-records", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        lines.synchronized(lines += e.getMessage.getFormattedMessage)
    }
    app.start()
    val logger = LogManager.getLogger("graft.Fixpoint").asInstanceOf[Logger]
    val level = logger.getLevel
    logger.addAppender(app)
    logger.setLevel(Level.INFO)
    val out = try body finally {
      logger.removeAppender(app)
      logger.setLevel(level)
      app.stop()
    }
    val rec = "loop=(\\S+) round=\\d+ path=(\\S+) .*".r
    (out, lines.toSeq.collect { case rec(loop, path) => (loop, path) })
  }

  /** Rows as comparable values: doubles by raw bits, arrays by element,
    * in a canonical order. */
  private def canon(rows: Array[Row]): Seq[List[Any]] =
    rows.toSeq.map(_.toSeq.toList.map {
      case d: Double => ("bits", java.lang.Double.doubleToRawLongBits(d))
      case s: scala.collection.Seq[_] => s.toList
      case x => x
    }).sortBy(_.toString)

  /** Collect `run()` once per path; assert both took their path for
    * `loop` and agree byte for byte. */
  private def assertParity(loop: String)(run: () => Seq[DataFrame]): Unit = {
    def collectAll() = Caches.withScope(run().map(df => canon(df.collect())))
    val (local, localPaths) = recorded(collectAll())
    val (dist, distPaths) = recorded(sparkPath(collectAll()))
    assert(localPaths.filter(_._1 == loop).map(_._2).distinct === Seq("driver"),
      s"$loop: expected driver rounds, records $localPaths")
    assert(distPaths.filter(_._1 == loop).map(_._2).distinct === Seq("spark"),
      s"$loop: expected Spark rounds, records $distPaths")
    assert(local.exists(_.nonEmpty), s"$loop: empty answer")
    local.zip(dist).foreach { case (l, d) => assert(l === d, s"$loop: driver and Spark rows differ") }
  }

  private lazy val refined: DataFrame =
    SimilarityOps.knnGraphRefinedEdges(spark, sf01).select(col("ida"), col("idb")).localCheckpoint()

  private lazy val nearDupPairs: DataFrame =
    DedupOps.ngramJaccard(spark, sf01).select(col("doc_a"), col("doc_b")).localCheckpoint()

  private def quantized: DataFrame = Caches.cached(DedupOps.quantized(spark, sf01))

  private def nlist: Int = KMeans.autoNlist(Tables.load(spark, sf01, "embeddings").count())

  test("k-NN descent: driver tail and Spark rounds build the identical graph") {
    assertParity("knn_descent")(() => Seq(SimilarityOps.knnGraphRefinedEdges(spark, sf01)))
  }

  test("PageRank: driver tail and Spark rounds give identical ranks") {
    assertParity("pagerank")(() => Seq(SimilarityOps.pageRankOverGraph(spark, sf01, refined)))
  }

  test("k-means: driver tail and Spark rounds give identical assignments and centroids") {
    assertParity("kmeans") { () =>
      val (asg, cents) = KMeans.fit(quantized, nlist = nlist)
      Seq(asg, cents)
    }
  }

  test("label propagation: driver tail and Spark rounds give identical clusters") {
    assertParity("label_propagation")(() => Seq(DedupOps.nearDupClusters(spark, sf01)))
  }

  test("star contraction: driver tail and Spark rounds give identical components") {
    assertParity("star_contraction")(() => Seq(
      DedupOps.nearDupClustersStar(spark, sf01),
      SimilarityOps.knnComponentsFrom(refined)))
  }

  test("component loops: driver pass and Spark rounds agree on self-loops and either orientation") {
    import spark.implicits._
    // 7 only has a self-loop; 3 has one beside its edges; pairs come in
    // both orientations and one twice
    val pairs = Seq((1L, 2L), (3L, 2L), (3L, 3L), (7L, 7L), (5L, 4L), (4L, 6L), (4L, 5L))
      .toDF("doc_a", "doc_b")
    assertParity("label_propagation")(() => Seq(DedupOps.propagationComponents(pairs)))
    assertParity("star_contraction")(() => Seq(DedupOps.starComponentsCore(pairs)))
  }

  test("Spark rounds release every checkpoint except the returned frames'") {
    def persistent: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    def leftBy(name: String)(run: () => Seq[DataFrame]): Unit = {
      refined.count(); nearDupPairs.count()
      Caches.release()
      val before = persistent
      val out = sparkPath {
        val frames = run()
        frames.foreach(_.collect())
        frames
      }
      Caches.release()
      // the checkpoints the returned frames read that the loop made
      val backing = out.flatMap(Checkpoints.rddsOf).filterNot(rdd => before(rdd.id))
      assert(backing.nonEmpty, s"$name: the Spark path returned no checkpointed frame")
      assert(persistent -- before === backing.map(_.id).toSet, s"$name: checkpoints left behind")
      backing.foreach(_.unpersist(blocking = false))
    }
    leftBy("knn_descent")(() => Seq(SimilarityOps.knnGraphRefinedEdges(spark, sf01)))
    leftBy("pagerank")(() => Seq(SimilarityOps.pageRankOverGraph(spark, sf01, refined)))
    leftBy("kmeans") { () =>
      val (asg, cents) = KMeans.fit(quantized, nlist = nlist)
      Seq(asg, cents)
    }
    leftBy("label_propagation")(() => Seq(DedupOps.propagationComponents(nearDupPairs)))
    leftBy("star_contraction")(() => Seq(DedupOps.starComponentsCore(nearDupPairs)))
  }

  test("label propagation fails at its 50-round cap on both paths") {
    import spark.implicits._
    // a chain of n nodes needs n - 1 rounds: its far end is n - 1 hops
    // from the component minimum
    def chain(n: Long): DataFrame = (0L until n - 1).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val ok = DedupOps.propagationComponents(chain(51)).collect()
    assert(ok.length === 51 && ok.forall(_.getLong(1) == 0L))
    val local = intercept[IllegalArgumentException](DedupOps.propagationComponents(chain(52)))
    assert(local.getMessage.contains("did not converge in 50 rounds"))
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val dist = intercept[IllegalArgumentException](
      sparkPath(DedupOps.propagationComponents(chain(52))))
    assert(dist.getMessage.contains("did not converge in 50 rounds"))
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet -- before === Set.empty,
      "a failed loop must release every checkpoint it made")
  }

  test("the descent's driver rounds schedule no Spark job after the state collect") {
    // jobs started during the build, in order, by call site; a marker job
    // after the build orders the listener's events
    val marker = "fixpoint-descent-marker"
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker))
          done.countDown()
        else sites.add(e.stageInfos.maxBy(_.stageId).name)
    }
    Caches.withScope {
      spark.sparkContext.addSparkListener(listener)
      val (graph, paths) = try recorded {
        val g = SimilarityOps.knnGraphRefinedEdges(spark, sf01)
        spark.sparkContext.setJobDescription(marker)
        try spark.range(1).count() finally spark.sparkContext.setJobDescription(null)
        assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS), "marker job not seen")
        g
      } finally spark.sparkContext.removeSparkListener(listener)
      assert(paths.filter(_._1 == "knn_descent").map(_._2).distinct === Seq("driver"))
      val jobs = sites.toArray(Array.empty[String]).toSeq
      assert(jobs.nonEmpty)
      // the last two jobs collect the vectors and the seed graph; the
      // rounds and the (lazy) mutual top-k tail schedule nothing
      assert(jobs.takeRight(2).forall(_.startsWith("collect at SimilarityOps")),
        s"jobs after the state collect: $jobs")
      assert(graph.collect().nonEmpty)
    }
  }
}
