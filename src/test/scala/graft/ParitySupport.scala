package graft

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.{DataFrame, Row}

/** The driver-versus-Spark parity harness of the [[graft.operators.Fixpoint]]
  * specs: a run with the loop state on the driver against one with
  * `spark.sql.autoBroadcastJoinThreshold=-1`, which forces the Spark path,
  * and the `graft.Fixpoint` records that name the path each run took. */
trait ParitySupport extends SparkTestBase {

  // the sf0.01 tables, beside the suite's default sf0.001 fixture
  protected val sf01 = s"${new java.io.File(sf).getParent}/sf0.01"

  protected def sparkPath[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  /** `body`'s result and the (loop, path, stage) of every round record it
    * logged; the stage is empty for a round. */
  protected def recorded[T](body: => T): (T, Seq[(String, String, String)]) = {
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
  protected def stages(loop: String, recs: Seq[(String, String, String)]): Seq[(String, String)] =
    recs.collect { case (`loop`, path, stage) if stage.nonEmpty => (stage, path) }

  /** Rows as comparable values: doubles by raw bits, arrays by element;
    * in a canonical order unless `inOrder`. */
  protected def canon(rows: Array[Row], inOrder: Boolean = false): Seq[List[Any]] = {
    val vals = rows.toSeq.map(_.toSeq.toList.map {
      case d: Double => ("bits", java.lang.Double.doubleToRawLongBits(d))
      case s: scala.collection.Seq[_] => s.toList
      case x => x
    })
    if (inOrder) vals else vals.sortBy(_.toString)
  }

  /** Collect `run()` once per path; assert both took their path for
    * `loop` and agree byte for byte (row for row when `inOrder`).
    * Returns each path's (stage, path) records of `loop`'s stages outside
    * the rounds. */
  protected def assertParity(loop: String, inOrder: Boolean = false)(run: () => Seq[DataFrame])
      : (Seq[(String, String)], Seq[(String, String)]) = {
    def collectAll() = Caches.withScope(run().map(df => canon(df.collect(), inOrder)))
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
}
