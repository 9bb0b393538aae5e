package graft.operators

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** The one round-loop lifecycle of the iterative operators: the k-NN
  * descent, PageRank, k-means, label propagation and star contraction.
  *
  * Two paths per loop:
  *  - **driver tail**: when the loop's state — sized from counts the
  *    operator already takes, times its row width at [[FieldBytes]] per
  *    numeric column — is no larger than
  *    `spark.sql.autoBroadcastJoinThreshold`, the operator collects it
  *    once and finishes on the driver, then hands back a frame. The
  *    descent, PageRank and k-means repeat their Spark rounds' arithmetic
  *    round by round ([[onDriver]]); the two component loops share one
  *    pass, [[Indexed.components]]. The threshold is the size up to which
  *    Spark itself ships a relation to the driver and back out as a
  *    broadcast; the collected rows are boxed, so the driver briefly holds
  *    about three times the estimate. The threshold bounds driver memory,
  *    not speed: on a 4-core box the driver tail was faster at every
  *    size measured, including a 16 MB descent state that the default
  *    threshold sends to the Spark rounds. A threshold of -1 (broadcasts
  *    off) always takes the Spark path.
  *  - **Spark rounds** ([[onSpark]]): the state stays a chain of local
  *    checkpoints, materialized by the same jobs as before the runner
  *    existed. After every round the runner checks that the new state's
  *    checkpoints are materialized, and only then unpersists the
  *    superseded ones (and whatever else that round checkpointed and no
  *    longer needs).
  *
  * A fixed-round loop stops at its count (or earlier, when its step
  * reports `done`); a converging loop that reaches [[MaxRounds]] without
  * converging fails. Every round logs one INFO record on the
  * `graft.Fixpoint` logger: loop, round, path, state rows and seconds; a
  * loop that finishes in one step (a driver component pass, PageRank's
  * lazily chained Spark rounds) logs one record for it ([[record]]).
  *
  * A runner lives for one operator call ([[Fixpoint.run]] /
  * [[Fixpoint.using]]): on exit it unpersists every checkpoint it made
  * except those the returned frames read; on a throw, all of them.
  */
private[graft] final class Fixpoint private (val loop: String, val session: SparkSession) {
  import Fixpoint._

  private val made = mutable.ArrayBuffer.empty[RDD[_]]

  /** Whether a state of `bytes` fits the driver tail. */
  def fitsDriver(bytes: Long): Boolean = {
    val limit = session.sessionState.conf.autoBroadcastJoinThreshold
    limit >= 0 && bytes >= 0 && bytes <= limit
  }

  /** A lazy local checkpoint of `df`, owned by this runner. The first
    * action that reads all of it materializes it. */
  def checkpoint(df: DataFrame): DataFrame = {
    val c = df.localCheckpoint(eager = false)
    made ++= rddsOf(c)
    c
  }

  /** [[checkpoint]] materialized now, with its row count: one job, the
    * same as an eager `localCheckpoint`, that also counts. */
  def cut(df: DataFrame): (DataFrame, Long) = {
    val c = checkpoint(df)
    (c, rddsOf(c).head.count())
  }

  /** The two long columns of `df` (`rows` rows, `bytesPerRow` of loop
    * state each), indexed for driver rounds — None when the state does
    * not fit the driver tail or an endpoint is null (the Spark rounds
    * keep their own null semantics). */
  def collectPairs(df: DataFrame, rows: Long, bytesPerRow: Long): Option[Indexed] =
    if (!fitsDriver(rows * bytesPerRow)) None
    else {
      val rs = df.collect()
      if (rs.exists(r => r.isNullAt(0) || r.isNullAt(1))) None
      else Some(Indexed(rs.map(_.getLong(0)), rs.map(_.getLong(1))))
    }

  /** A fixed-round loop's rounds on the driver over an in-memory state. */
  def onDriver[S](init: S, rounds: Int)(step: (S, Int) => Step[S]): S =
    iterate("driver", init, rounds, converging = false)(step)

  /** Rounds over checkpointed frames. `live` names the state's frames,
    * each a checkpoint or a projection or filter of one;
    * `partitionRows`, when known, scopes the rounds' shuffle width to the
    * state ([[IterLoop.withLoopPartitions]]). */
  def onSpark[S](init: S, rounds: Int, converging: Boolean, partitionRows: Option[Long] = None)
                (live: S => Seq[DataFrame])(step: (S, Int) => Step[S]): S = {
    def body = iterate("spark", init, rounds, converging) { (s, t) =>
      val superseded = live(s).flatMap(stateRdds)
      val mark = made.size
      val r = step(s, t)
      val kept = live(r.state).flatMap(stateRdds)
      kept.filter(isMade).foreach(rdd => require(rdd.isCheckpointed,
        s"$loop round $t: state checkpoint ${rdd.id} is not materialized, " +
          "so its predecessor cannot be released"))
      val keep = kept.map(_.id).toSet
      (superseded ++ made.drop(mark)).filter(rdd => isMade(rdd) && !keep(rdd.id))
        .foreach(release)
      r
    }
    partitionRows.fold(body)(n => IterLoop.withLoopPartitions(session, Some(n))(body))
  }

  private def iterate[S](path: String, init: S, rounds: Int, converging: Boolean)
                        (step: (S, Int) => Step[S]): S = {
    var s = init
    var t = 0
    var done = false
    while (!done && t < rounds) {
      t += 1
      val t0 = System.nanoTime()
      val r = step(s, t)
      s = r.state
      done = r.done
      record(t, path, r.rows, t0)
    }
    // a silent half-converged answer would be WRONG output — refuse
    require(done || !converging, s"$loop did not converge in $t rounds")
    s
  }

  /** Log the record of `round` on `path`, begun at `t0` (nanoTime). */
  def record(round: Int, path: String, rows: Long, t0: Long): Unit =
    log.info(f"loop=$loop round=$round path=$path rows=$rows " +
      f"secs=${(System.nanoTime() - t0) / 1e9}%.3f")

  /** The checkpoint a state frame is a projection or filter of — not
    * the checkpoints it merely reads (a frame derived from the loop's
    * fixed inputs must not release them). */
  private def stateRdds(df: DataFrame): Seq[RDD[_]] = {
    def own(p: LogicalPlan): Seq[RDD[_]] = p match {
      case l: LogicalRDD => Seq(l.rdd)
      case _: Project | _: Filter => own(p.children.head)
      case _ => Nil
    }
    own(df.queryExecution.analyzed)
  }

  private def isMade(rdd: RDD[_]): Boolean = made.exists(_.id == rdd.id)

  private def release(rdd: RDD[_]): Unit = {
    rdd.unpersist(blocking = false)
    made.filterInPlace(_.id != rdd.id)
  }

  private def releaseExcept(keep: Seq[DataFrame]): Unit = {
    val ids = keep.flatMap(rddsOf).map(_.id).toSet
    made.toList.filterNot(rdd => ids(rdd.id)).foreach(release)
  }
}

private[graft] object Fixpoint {

  private val log = org.slf4j.LoggerFactory.getLogger("graft.Fixpoint")

  /** Round cap of the converging Spark rounds (label propagation, star
    * contraction): enough for any diameter a near-dup or mutual k-NN
    * graph plausibly has. */
  val MaxRounds = 50

  /** Width of one numeric column of loop state, in bytes. */
  val FieldBytes = 8L

  /** One round's outcome: the new state, its row count for the round
    * record, and whether the loop is finished. */
  final case class Step[S](state: S, rows: Long, done: Boolean = false)

  /** Run one operator call's loop; on exit release every checkpoint the
    * runner made except those backing the returned frame. */
  def run(loop: String, spark: SparkSession)(body: Fixpoint => DataFrame): DataFrame =
    using(loop, spark)(body)(Seq(_))

  /** [[run]] for a result of several frames; `backing` lists them. */
  def using[T](loop: String, spark: SparkSession)(body: Fixpoint => T)
              (backing: T => Seq[DataFrame]): T = {
    val fp = new Fixpoint(loop, spark)
    var out: Option[T] = None
    try { out = Some(body(fp)); out.get }
    finally fp.releaseExcept(out.toSeq.flatMap(backing))
  }

  /** The checkpoint RDDs a frame reads. */
  def rddsOf(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }

  /** A frame over rows built on the driver. */
  def frame(spark: SparkSession, schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** An edge list with its node ids mapped to dense indices in id order
    * (`ids(i)` is node i), so every min or tie-break on an index is the
    * same min or tie-break on the id. `a`/`b` keep the input's row order
    * and multiplicity. */
  final case class Indexed(ids: Array[Long], a: Array[Int], b: Array[Int]) {
    def n: Int = ids.length

    /** Each node's neighbors over the edges taken both ways. */
    private def adjacency: Array[Array[Int]] = {
      val nbrs = Array.fill(n)(Array.newBuilder[Int])
      for (i <- a.indices) { nbrs(a(i)) += b(i); nbrs(b(i)) += a(i) }
      nbrs.map(_.result())
    }

    /** The connected components over the edges taken both ways, by a
      * breadth-first pass from each component's minimum (nodes in index
      * order, so the first unlabeled node is its component's minimum):
      * `label(i)` is the minimum index of i's component, and `depth` the
      * largest hop distance of any node from its component's minimum. */
    def components: (Array[Int], Int) = {
      val adj = adjacency
      val label = Array.fill(n)(-1)
      val dist = new Array[Int](n)
      val queue = new Array[Int](n)
      var depth = 0
      for (s <- 0 until n if label(s) < 0) {
        label(s) = s
        queue(0) = s
        var head = 0
        var tail = 1
        while (head < tail) {
          val x = queue(head)
          head += 1
          for (y <- adj(x) if label(y) < 0) {
            label(y) = s
            dist(y) = dist(x) + 1
            depth = math.max(depth, dist(y))
            queue(tail) = y
            tail += 1
          }
        }
      }
      (label, depth)
    }
  }

  object Indexed {
    def apply(a: Array[Long], b: Array[Long]): Indexed = {
      val all = a ++ b
      java.util.Arrays.sort(all)
      var k = 0
      var i = 0
      while (i < all.length) {
        if (k == 0 || all(i) != all(k - 1)) { all(k) = all(i); k += 1 }
        i += 1
      }
      val ids = java.util.Arrays.copyOf(all, k)
      def ix(x: Long): Int = java.util.Arrays.binarySearch(ids, x)
      Indexed(ids, a.map(ix), b.map(ix))
    }
  }

  /** Collected (vec_id, qv, nrm) rows, sorted by id, for the driver tails
    * that score vectors. */
  final class Vectors private (val ids: Array[Long], val qv: Array[Array[Long]],
                               val nrm: Array[Long]) {
    /** The row of `id`, negative when absent. */
    def index(id: Long): Int = java.util.Arrays.binarySearch(ids, id)
  }

  object Vectors {
    /** [[graft.functions.LongArrayDot]]'s arithmetic on driver arrays:
      * wrapping 64-bit products summed over the common prefix. */
    def dot(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { s += a(i) * b(i); i += 1 }
      s
    }

    /** None unless every row has a non-null id, a Dim-long vector without
      * nulls and a positive norm, and the ids are distinct: the Spark
      * rounds alone define what a zero-norm cosine (an ANSI divide by
      * zero), a short vector or a duplicated id does. */
    def apply(rows: Array[Row]): Option[Vectors] = {
      val ok = rows.forall(r => !r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2) &&
          r.getSeq[Any](1).length == DedupOps.Dim && !r.getSeq[Any](1).contains(null) &&
          r.getLong(2) > 0) &&
        rows.map(_.getLong(0)).distinct.length == rows.length
      if (!ok) None
      else {
        val sorted = rows.sortBy(_.getLong(0))
        Some(new Vectors(sorted.map(_.getLong(0)), sorted.map(_.getSeq[Long](1).toArray),
          sorted.map(_.getLong(2))))
      }
    }
  }
}
