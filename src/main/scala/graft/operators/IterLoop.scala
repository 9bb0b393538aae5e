package graft.operators

import org.apache.spark.sql.SparkSession

/** Shared shuffle-partition scope for iterative tails (PageRank rounds,
  * cluster fixpoints, the power iteration): the loop frames are node- or
  * dimension-sized, so they plan under a DATA-derived partition count
  * (~100k rows per partition, capped at the session default so a real
  * cluster keeps its configured parallelism) and the default is restored
  * on every exit path. One definition instead of four hand-rolled
  * try/finally blocks, each mutating session-global state.
  *
  * Callers must materialize anything corpus-scale BEFORE entering the
  * scope (an eager checkpoint or count) — a lazy corpus lineage first
  * evaluated inside would run under the reduced parallelism. */
private[graft] object IterLoop {

  /** Guards the session-global conf mutation below: the override is
    * only sound while exactly one loop scope is active (a concurrent
    * query would plan under the reduced count; a nested scope would
    * "restore" the outer scope's reduced value as the default). Fail
    * loudly instead of silently mis-planning. */
  private val active = new java.util.concurrent.atomic.AtomicBoolean(false)

  // NOTE: a RAISING twin (withWideShuffle — widen the descent's k'²·n
  // candidate shuffles to a volume-derived partition count) was built
  // and A/B'd at sf10: 1308 s vs 932 s for a bit-identical edge set
  // (tools/recall_r13_{wideshuffle,defaultwidth}.jsonl). Rejected —
  // fat partitions through single-pass spill beat skinny partitions'
  // per-task overhead on this harness, and on a real cluster the
  // width is the deployment's dial, not an operator scope.
  // Always None; read by no production code, only by perfbench's start-of-run guard
  private[graft] val aqeOverride: Option[Boolean] = None

  def withLoopPartitions[T](spark: SparkSession, rows: Option[Long])(body: => T): T = {
    require(active.compareAndSet(false, true),
      "IterLoop.withLoopPartitions: concurrent or nested loop scopes — " +
        "the session-global shuffle-partition override would leak between them")
    // EVERYTHING after the successful CAS sits inside the try: a throw
    // from the conf reads below would otherwise latch active=true for
    // the rest of the session and fail every later loop with a
    // misleading concurrency error (r12 advice)
    try {
      val conf = spark.conf
      val defaultParts = conf.get("spark.sql.shuffle.partitions").toInt
      val loopParts = rows
        .map(n => math.max(1L, math.min(defaultParts.toLong, n / 100000L + 1)).toInt)
        .getOrElse(defaultParts)
      // AQE stays ON in loop scopes (r22 NEGATIVE RESULT): a balanced
      // same-JVM A/B with only AQE flipped (tools/ab_r22_aqe.jsonl, both
      // orders, 3 reps) measured AQE-off 1.16× SLOWER on the
      // shuffle_hash-hinted pagerank loop and flat (1.01×) on label
      // propagation — AQE's runtime re-planning and partition coalescing
      // beat the per-stage-job overhead even with every join pre-hinted.
      try {
        conf.set("spark.sql.shuffle.partitions", loopParts)
        body
      } finally conf.set("spark.sql.shuffle.partitions", defaultParts)
    } finally active.set(false)
  }
}
