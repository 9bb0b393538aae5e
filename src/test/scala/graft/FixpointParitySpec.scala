package graft

import org.apache.spark.sql.DataFrame
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
  * defines (a zero norm, a duplicated id). The decision itself,
  * [[Fixpoint]]'s `whole`, is checked without data: its size rule, its
  * order, its path label, and that the size rule is written only there.
  */
class FixpointParitySpec extends ParitySupport {

  private lazy val refined: DataFrame =
    SimilarityOps.knnGraphRefinedEdges(spark, sf01).select(col("ida"), col("idb")).localCheckpoint()

  private lazy val nearDupPairs: DataFrame =
    DedupOps.ngramJaccard(spark, sf01).select(col("doc_a"), col("doc_b")).localCheckpoint()

  private def quantized: DataFrame = Caches.cached(DedupOps.quantized(spark, sf01))

  private def rows: Long = Tables.rowCount(spark, sf01, "embeddings")

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
      val (asg, cents) = KMeans.fitSized(quantized, rows, KMeans.autoNlist(rows))
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
      val (asg, cents) = KMeans.fitSized(quantized, rows, KMeans.autoNlist(rows))
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

  /** `body` in a runner of its own, with its records. */
  private def decided[T](body: Fixpoint => T): (T, Seq[(String, String, String)]) =
    recorded(Fixpoint.using("decision", spark)(body)(_ => Nil))

  test("whole: a threshold of -1 never evaluates the driver body") {
    var driverRuns = 0
    val (out, _) = decided(fp => sparkPath(fp.whole(0L)({ driverRuns += 1; Some("driver") })("spark")))
    assert(out === "spark")
    assert(driverRuns === 0)
    // a size past the threshold, or a negative one, does not either
    val (past, _) = decided(fp => fp.whole(Long.MaxValue)({ driverRuns += 1; Some("driver") })("spark"))
    val (negative, _) = decided(fp => fp.whole(-1L)({ driverRuns += 1; Some("driver") })("spark"))
    assert((past, negative, driverRuns) === (("spark", "spark", 0)))
  }

  test("whole: a fitting driver body runs alone; its decline runs the Spark body once") {
    var sparkRuns = 0
    val (kept, _) = decided(fp => fp.whole(0L)(Some("driver")) { sparkRuns += 1; "spark" })
    assert((kept, sparkRuns) === (("driver", 0)))
    val (declined, _) = decided(fp => fp.whole(0L)(Option.empty[String]) { sparkRuns += 1; "spark" })
    assert((declined, sparkRuns) === (("spark", 1)))
  }

  test("whole: an exception in the driver body propagates without the Spark body") {
    var sparkRuns = 0
    val e = intercept[ArithmeticException](decided(fp =>
      fp.whole(0L)(Some(1 / sparkRuns))({ sparkRuns += 1; 0 })))
    assert(e.getMessage.contains("by zero"))
    assert(sparkRuns === 0)
  }

  test("whole: a record logged in either body carries that body's path") {
    val t0 = System.nanoTime()
    val (_, recs) = decided { fp =>
      fp.whole(0L)({ fp.record(0, 1, t0, "kept"); Some(()) })(fp.record(0, 1, t0, "unused"))
      fp.whole(0L)({
        fp.record(0, 1, t0, "declined")
        // a decision inside a driver body: its decline falls back to the
        // enclosing Spark body
        fp.fits(Long.MaxValue)(Some(fp.record(0, 1, t0, "unused")))
      }) {
        fp.record(0, 1, t0, "fallback")
        fp.onDriver((), 1)((_, _) => Fixpoint.Step((), 1))
      }
      fp.whole(0L)({ fp.onSpark((), 1, converging = false)(_ => Nil)((_, _) =>
        Fixpoint.Step((), 1)); Some(()) })(())
      // outside both bodies there is no path to log
      intercept[IllegalStateException](fp.record(0, 1, t0, "outside"))
    }
    assert(recs === Seq(("decision", "driver", "kept"), ("decision", "driver", "declined"),
      ("decision", "spark", "fallback"), ("decision", "driver", ""), ("decision", "spark", "")))
  }

  test("the size rule is written only in operators/Fixpoint.scala") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val main = Iterator.iterate(Paths.get(sys.props("user.dir")).toAbsolutePath)(_.getParent)
      .takeWhile(_ != null).map(_.resolve("src/main/scala")).find(Files.isDirectory(_))
      .getOrElse(fail("no enclosing directory holds src/main/scala"))
    val walk = Files.walk(main)
    val files = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val users = files.filter(f => Files.readString(f).contains("fitsDriver("))
      .map(f => main.relativize(f).toString)
    assert(users.contains("graft/operators/Fixpoint.scala"), s"the scan missed the rule: $users")
    assert(users === Seq("graft/operators/Fixpoint.scala"))
  }
}
