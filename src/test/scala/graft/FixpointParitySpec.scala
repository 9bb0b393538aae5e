package graft

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, transform, when}

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
  * the descent's driver tail schedules no Spark job but the vector
  * collect; the recall gate's driver path scores every graph as its Spark
  * path does; and both leave to the Spark path the vectors it alone
  * defines (a zero norm, a duplicated id).
  */
class FixpointParitySpec extends SparkTestBase {

  // the sf0.01 tables, beside the suite's default sf0.001 fixture
  private val sf01 = s"${new java.io.File(sf).getParent}/sf0.01"

  private def sparkPath[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  /** `body`'s result and the (loop, path, stage) of every round record it
    * logged; the stage is empty for a round. */
  private def recorded[T](body: => T): (T, Seq[(String, String, String)]) = {
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
    val rec = "loop=(\\S+) round=\\d+ path=(\\S+) .*?( stage=\\S+)?".r
    (out, lines.toSeq.collect { case rec(loop, path, stage) =>
      (loop, path, Option(stage).fold("")(_.stripPrefix(" stage="))) })
  }

  /** The (stage, path) of `loop`'s records of stages outside the rounds. */
  private def stages(loop: String, recs: Seq[(String, String, String)]): Seq[(String, String)] =
    recs.collect { case (`loop`, path, stage) if stage.nonEmpty => (stage, path) }

  /** Rows as comparable values: doubles by raw bits, arrays by element,
    * in a canonical order. */
  private def canon(rows: Array[Row]): Seq[List[Any]] =
    rows.toSeq.map(_.toSeq.toList.map {
      case d: Double => ("bits", java.lang.Double.doubleToRawLongBits(d))
      case s: scala.collection.Seq[_] => s.toList
      case x => x
    }).sortBy(_.toString)

  /** Collect `run()` once per path; assert both took their path for
    * `loop` and agree byte for byte. Returns each path's (stage, path)
    * records of `loop`'s stages outside the rounds. */
  private def assertParity(loop: String)(run: () => Seq[DataFrame])
      : (Seq[(String, String)], Seq[(String, String)]) = {
    def collectAll() = Caches.withScope(run().map(df => canon(df.collect())))
    val (local, localPaths) = recorded(collectAll())
    val (dist, distPaths) = recorded(sparkPath(collectAll()))
    assert(localPaths.filter(_._1 == loop).map(_._2).distinct === Seq("driver"),
      s"$loop: expected driver rounds, records $localPaths")
    assert(distPaths.filter(_._1 == loop).map(_._2).distinct === Seq("spark"),
      s"$loop: expected Spark rounds, records $distPaths")
    assert(local.exists(_.nonEmpty), s"$loop: empty answer")
    local.zip(dist).foreach { case (l, d) => assert(l === d, s"$loop: driver and Spark rows differ") }
    (stages(loop, localPaths), stages(loop, distPaths))
  }

  private lazy val refined: DataFrame =
    SimilarityOps.knnGraphRefinedEdges(spark, sf01).select(col("ida"), col("idb")).localCheckpoint()

  private lazy val nearDupPairs: DataFrame =
    DedupOps.ngramJaccard(spark, sf01).select(col("doc_a"), col("doc_b")).localCheckpoint()

  private def quantized: DataFrame = Caches.cached(DedupOps.quantized(spark, sf01))

  private def nlist: Int = KMeans.autoNlist(Tables.rowCount(spark, sf01, "embeddings"))

  test("k-NN descent: driver tail and Spark rounds build the identical graph") {
    val (local, dist) =
      assertParity("knn_descent")(() => Seq(SimilarityOps.knnGraphRefinedEdges(spark, sf01)))
    // the whole operator takes one path: seed and mutual tail with the rounds
    assert(local === Seq("seed" -> "driver", "mutual" -> "driver"))
    assert(dist === Seq("seed" -> "spark", "mutual" -> "spark"))
  }

  private lazy val bits: DataFrame =
    SimilarityOps.knnGraphBitsEdges(spark, sf01).select(col("ida"), col("idb")).localCheckpoint()

  test("k-NN recall gate: driver and Spark paths score the refined and the bits graph identically") {
    for (graph <- Seq(refined, bits)) {
      val (local, dist) =
        assertParity("knn_recall")(() => Seq(SimilarityOps.knnRecallOf(spark, sf01, graph)))
      assert(local === Seq("gate" -> "driver"))
      assert(dist === Seq("gate" -> "spark"))
    }
  }

  test("k-NN build and recall gate: a zero-norm vector or a duplicated id leaves both on Spark") {
    import spark.implicits._
    val emb = Tables.load(spark, sf, "embeddings")
    val zero = emb.withColumn("embedding",
      when(col("vec_id") === 5L, transform(col("embedding"), _ * 0)).otherwise(col("embedding")))
    val dup = emb.unionByName(emb.filter(col("vec_id") === 3L))
    val graph = Seq((0L, 1L), (3L, 5L)).toDF("ida", "idb")
    for ((name, table) <- Seq("zero norm" -> zero, "duplicated id" -> dup)) {
      val dir = java.nio.file.Files.createTempDirectory("fixpoint-fallback").toString
      try {
        table.write.parquet(s"$dir/embeddings.parquet")
        val (built, buildRecs) = recorded(Caches.withScope(
          scala.util.Try(SimilarityOps.knnGraphRefinedEdges(spark, dir).collect())))
        val (out, gateRecs) = recorded(Caches.withScope(
          scala.util.Try(SimilarityOps.knnRecallOf(spark, dir, graph).collect())))
        assert(stages("knn_recall", gateRecs) === Seq("gate" -> "spark"), s"$name: $gateRecs")
        name match {
          // the Spark plans divide by the zero norm: ANSI's divide by zero,
          // which the driver arithmetic never raises — in the build, in its
          // seed, before any record
          case "zero norm" =>
            assert(built.failed.get.getMessage.contains("DIVIDE_BY_ZERO"), name)
            assert(buildRecs.filter(_._1 == "knn_descent") === Nil, s"$name: $buildRecs")
            assert(out.failed.get.getMessage.contains("DIVIDE_BY_ZERO"), name)
          case _ =>
            assert(built.get.nonEmpty, name)
            assert(stages("knn_descent", buildRecs) === Seq("seed" -> "spark", "mutual" -> "spark"),
              s"$name: $buildRecs")
            assert(out.get.length === emb.filter(col("vec_id") < 100L).count(), name)
        }
      } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
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
    Caches.withScope {
      val ((rows, paths), jobs) =
        jobsOf(recorded(SimilarityOps.knnGraphRefinedEdges(spark, sf01).collect()))
      assert(paths.filter(_._1 == "knn_descent").map(_._2).distinct === Seq("driver"))
      // the table's schema and row count come from its footers, so the
      // build's one job reads and collects the vectors; the seed, the
      // rounds, the mutual tail and reading the returned frame schedule
      // nothing
      assert(jobs === Seq("collect at Fixpoint.scala"))
      assert(rows.nonEmpty)
    }
  }
}
