package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: a pass, or one op inside it (an op is one call into
  * one layer plus the action that consumes its result). Spans of one op
  * share `op`; `parent` is the enclosing span's id, -1 at the root. */
final case class Span(id: Int, name: String, layer: String, parent: Int, op: Int,
                      startMs: Long, endMs: Long, startNs: Long, endNs: Long) {
  def secs: Double = (endNs - startNs) / 1e9
}

/** Spark runtime counters gathered from outside the engine: a
  * `SparkListener` for jobs, stages and task metrics, and a
  * `QueryExecutionListener` for the Catalyst phase times each action's
  * `queryExecution.tracker` recorded. Modelled on `graft.QueryProbe`'s
  * listener, extended with executor run/CPU/GC time, input bytes, spill and
  * task launch wait. Everything stays in memory until [[summarize]]. */
final class SparkCounters(spark: SparkSession) {
  private final case class Job(id: Int, start: Long, var end: Long)
  private final case class Task(stage: Int, waitMs: Long, runMs: Long, cpuNs: Long,
                                gcMs: Long, inBytes: Long, shRead: Long, shWrite: Long,
                                spill: Long)
  private final case class Plan(startMs: Long, ms: Long)

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageSubmitted = mutable.HashMap.empty[Int, Long]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val plans = mutable.ArrayBuffer.empty[Plan]

  // listener callbacks arrive on the listener-bus thread
  private def locked(f: => Unit): Unit = synchronized(f)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = locked {
      jobs += Job(e.jobId, e.time, -1L)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = locked {
      jobs.find(_.id == e.jobId).foreach(_.end = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = locked {
      e.stageInfo.submissionTime.foreach(stageSubmitted(e.stageInfo.stageId) = _)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = locked {
      val m = e.taskMetrics
      val info = e.taskInfo
      val wait = stageSubmitted.get(e.stageId).map(s => math.max(0L, info.launchTime - s))
        .getOrElse(0L)
      if (m != null) tasks += Task(e.stageId, wait, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.inputMetrics.bytesRead,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.filter { case (k, _) =>
        Set("analysis", "optimization", "planning")(k) }.values
      if (ph.nonEmpty) locked {
        plans += Plan(ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum)
      }
    }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def stop(): Unit = {
    drain()
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(listener)
  }

  /** Block until the listener bus has delivered every posted event
    * (`LiveListenerBus.waitUntilEmpty` is Spark-private, hence reflection). */
  private def drain(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** Counters of the jobs whose start falls inside one of `ops`' windows,
    * plus the driver gap: each op's wall time minus the union of its jobs'
    * intervals. */
  def summarize(ops: Seq[Span]): Map[String, Double] = synchronized {
    def opOf(ms: Long): Option[Span] = ops.find(o => ms >= o.startMs && ms <= o.endMs)
    val inOps = jobs.filter(j => opOf(j.start).isDefined).toSeq
    val jobIds = inOps.map(_.id).toSet
    val ts = tasks.filter(t => stageJob.get(t.stage).exists(jobIds)).toSeq
    val tasksPerJob = ts.groupBy(t => stageJob(t.stage)).map { case (j, v) => j -> v.size }
    val gapMs = ops.map { o =>
      val iv = inOps.filter(j => opOf(j.start).contains(o))
        .map(j => (math.max(j.start, o.startMs), math.min(if (j.end < 0) o.endMs else j.end, o.endMs)))
        .sortBy(_._1)
      var covered = 0L
      var curS = -1L
      var curE = -1L
      iv.foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      if (curE > curS) covered += curE - curS
      math.max(0.0, o.secs * 1000 - covered)
    }.sum
    Map(
      "spark.jobs" -> inOps.size.toDouble,
      "spark.stages" -> stageSubmitted.keys.count(s => stageJob.get(s).exists(jobIds)).toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.task_wait_s" -> ts.map(_.waitMs).sum / 1e3,
      "spark.one_task_jobs" -> inOps.count(j => tasksPerJob.getOrElse(j.id, 0) == 1).toDouble,
      "spark.driver_gap_s" -> gapMs / 1e3,
      "spark.exec_run_s" -> ts.map(_.runMs).sum / 1e3,
      "spark.exec_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "spark.scan_bytes" -> ts.map(_.inBytes).sum.toDouble,
      "spark.shuffle_read_bytes" -> ts.map(_.shRead).sum.toDouble,
      "spark.shuffle_write_bytes" -> ts.map(_.shWrite).sum.toDouble,
      "spark.spill_bytes" -> ts.map(_.spill).sum.toDouble,
      "spark.plan_s" -> plans.filter(p => opOf(p.startMs).isDefined).map(_.ms).sum / 1e3)
  }
}
