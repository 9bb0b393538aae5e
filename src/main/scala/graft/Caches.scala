package graft

import java.util.concurrent.{Callable, ConcurrentLinkedQueue, ExecutionException, Executors}

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Session-scoped lifecycle for intra-operator caches.
  *
  * Several operators cache intermediate frames for two reasons: a frame
  * is genuinely consumed twice (minhash signatures, coarse assignments),
  * or the cache is a required barrier against projection collapse
  * re-evaluating an expensive expression per consumer (shingle tokens,
  * quantized embeddings). Those caches must outlive the operator call —
  * the returned DataFrame is lazy and the cached plan is only
  * substituted when the caller finally executes it — so the operator
  * itself can never unpersist them. Without a lifecycle they accumulate
  * in executor storage for the life of the session.
  *
  * Contract: operators register every internal cache here via [[cached]];
  * callers invoke [[release]] AFTER consuming (materializing) a result,
  * or wrap an eager consumption in [[withScope]]. Releasing before the
  * result is materialized is safe but wasteful: the barrier caches would
  * be re-planned without the cache boundary and the guarded quadratic
  * re-evaluation returns. Verify and Bench release after every query;
  * the specs' shared session releases between suites.
  */
object Caches {
  private val reg = new java.util.concurrent.ConcurrentLinkedQueue[Dataset[_]]

  /** Cache `ds` and register it for the next [[release]]. */
  private[graft] def cached[T](ds: Dataset[T]): Dataset[T] = {
    ds.cache()
    reg.add(ds)
    ds
  }

  /** Number of registered, not-yet-released caches (for specs). */
  def outstanding: Int = reg.size()

  /** Unpersist every cache registered since the last release. Blocking
    * is not requested: eviction proceeds asynchronously on the executors. */
  def release(): Unit = {
    var d = reg.poll()
    while (d != null) { d.unpersist(); d = reg.poll() }
  }

  /** Loan pattern: run `body` (which must CONSUME, not just declare, its
    * query results), then release every cache it registered. */
  def withScope[T](body: => T): T =
    try body finally release()
}

/** Independent Spark actions run side by side from the driver. A chain of
  * small actions costs one scheduling round each when issued one after
  * another; issued together they share the rounds, and the local executor
  * runs their tasks concurrently.
  *
  * The pool has `min(n, defaultParallelism)` threads, created from the
  * calling thread, so every action inherits its active session and local
  * properties. Every action runs to completion; if any failed, the first
  * failure in argument order is rethrown, so callers keep the error they
  * would have met running the actions in sequence.
  */
object Concurrent {
  def run[T](spark: SparkSession)(actions: Seq[() => T]): Seq[T] =
    if (actions.isEmpty) Nil
    else {
      val pool = Executors.newFixedThreadPool(
        math.min(actions.size, spark.sparkContext.defaultParallelism))
      try {
        val pending = actions.map(a => pool.submit(new Callable[T] { def call(): T = a() }))
        pending.map(f => Try(f.get())).map {
          case Success(v) => v
          case Failure(e: ExecutionException) => throw e.getCause
          case Failure(e) => throw e
        }
      } finally pool.shutdown()
    }
}

/** The local checkpoints of one multi-step build, released together.
  *
  * [[apply]] materializes a frame as a local checkpoint that the scope
  * owns; [[own]] adopts a checkpoint made elsewhere. On leaving
  * [[Checkpoints.using]] every owned checkpoint is released except those
  * the result reads, and on a throw all of them, so a failing step leaks
  * nothing. A checkpoint is owned before its materializing job runs, so one
  * whose job fails is released too. Safe to use from [[Concurrent]]
  * actions.
  */
final class Checkpoints private {
  private val made = new ConcurrentLinkedQueue[RDD[_]]

  /** `df` checkpointed now: one job, as an eager `localCheckpoint`. */
  def apply(df: DataFrame): DataFrame = {
    val c = lazily(df)
    Checkpoints.rddsOf(c).foreach(_.count())
    c
  }

  /** `df` checkpointed by the first job that reads all of it. */
  def lazily(df: DataFrame): DataFrame = {
    val c = df.localCheckpoint(eager = false)
    own(c)
    c
  }

  /** [[apply]] on each frame, concurrently. */
  def all(frames: Seq[DataFrame]): Seq[DataFrame] =
    frames.headOption.fold(Seq.empty[DataFrame])(f =>
      Concurrent.run(f.sparkSession)(frames.map(df => () => apply(df))))

  /** Take ownership of the checkpoints `df` reads. */
  def own(df: DataFrame): Unit = Checkpoints.rddsOf(df).foreach(made.add)

  /** Release the owned checkpoints that `frames` read, now. */
  def release(frames: DataFrame*): Unit = {
    val ids = frames.flatMap(Checkpoints.rddsOf).map(_.id).toSet
    releaseWhere(rdd => ids(rdd.id))
  }

  /** The checkpoint RDDs the scope owns, oldest first. */
  def owned: Seq[RDD[_]] = made.asScala.toList

  /** Release the owned checkpoints that satisfy `p`, now. */
  def releaseWhere(p: RDD[_] => Boolean): Unit =
    made.asScala.toList.filter(p).foreach { rdd =>
      made.remove(rdd)
      rdd.unpersist(blocking = false)
    }
}

object Checkpoints {
  /** Run `body` in a fresh scope; on exit release every checkpoint it owns
    * except those `backing` (the result's frames) read. */
  def using[T](body: Checkpoints => T)(backing: T => Seq[DataFrame]): T = {
    val cp = new Checkpoints
    var out: Option[T] = None
    try { out = Some(body(cp)); out.get }
    finally {
      val keep = out.toSeq.flatMap(backing).flatMap(rddsOf).map(_.id).toSet
      cp.releaseWhere(rdd => !keep(rdd.id))
    }
  }

  /** The checkpoint RDDs a frame reads. */
  def rddsOf(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }
}
