package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for the whole suite (session startup dominates
  * test wall-clock otherwise). */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.shared
  val sf: String = "/root/testdata/sf0.001"
  private val suiteT0 = System.nanoTime()

  /** `body`'s result and the call sites (file, no line) of the jobs it
    * started, in order; a marker job after `body` orders the listener's
    * events. */
  protected def jobsOf[T](body: => T): (T, Seq[String]) =
    jobsSeen(body)(_.stageInfos.maxBy(_.stageId).name.takeWhile(_ != ':'))

  /** `body`'s result and the `spark.job.description` of the jobs it
    * started, in order (null for a job without one). */
  protected def jobDescriptionsOf[T](body: => T): (T, Seq[String]) =
    jobsSeen(body)(e => Option(e.properties).map(_.getProperty("spark.job.description")).orNull)

  private def jobsSeen[T](body: => T)(what: SparkListenerJobStart => String): (T, Seq[String]) = {
    val marker = "jobs-of-marker"
    val sites = new ConcurrentLinkedQueue[Option[String]]
    val done = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker))
          done.countDown()
        else sites.add(Option(what(e)))
    }
    spark.sparkContext.addSparkListener(listener)
    val out = try {
      val out = body
      spark.sparkContext.setJobDescription(marker)
      try spark.range(1).count() finally spark.sparkContext.setJobDescription(null)
      assert(done.await(60, TimeUnit.SECONDS), "marker job not seen")
      out
    } finally spark.sparkContext.removeSparkListener(listener)
    (out, sites.toArray(Array.empty[Option[String]]).toSeq.map(_.orNull))
  }
  override def afterAll(): Unit = {
    // wall-time attribution for the parallel forked groups (the sbt
    // summary aggregates; this is the per-suite number)
    println(f"[suite-time] ${getClass.getSimpleName} ${(System.nanoTime() - suiteT0) / 1e9}%.1f s")
    super.afterAll()
  }
}

object SparkTestBase {
  lazy val shared: SparkSession = Tables.session("graft-test")
}
