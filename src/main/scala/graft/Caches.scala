package graft

import java.util.concurrent.{Callable, ExecutionException, Executors}

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

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

  /** Eagerly `localCheckpoint` each frame, concurrently. The returned frames
    * read executor-resident blocks; release them with
    * [[graft.operators.DedupOps.unpersistCheckpoint]]. */
  def checkpoint(frames: Seq[DataFrame]): Seq[DataFrame] =
    frames.headOption.fold(Seq.empty[DataFrame])(f =>
      run(f.sparkSession)(frames.map(df => () => df.localCheckpoint())))
}
