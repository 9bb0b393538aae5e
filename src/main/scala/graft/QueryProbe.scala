package graft

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Job/stage-level profile for one suite query — the measurement tool the
  * r21 optimization round's "measure first" discipline runs before any
  * change (spark_optimization_guide §1): run a query exactly as Bench does
  * (cache clear + GC + warm-up rep + timed reps) under a SparkListener and
  * print, per job, wall-clock, stage count, task count and shuffle bytes,
  * so per-round fixed overhead (job/stage scheduling, eager checkpoints)
  * is attributable separately from real shuffle/compute volume.
  *
  * Usage: runMain graft.QueryProbe <queryName> [sfDir] [reps]
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: QueryProbe <name> [sfDir] [reps]")
    val name = args(0)
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).map(_.toInt).getOrElse(1)
    val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query '$name'"))
    val spark = Tables.session("query-probe")
    spark.sparkContext.setLogLevel("ERROR")

    case class JobRec(id: Int, var desc: String = "", var start: Long = 0L,
                      var end: Long = 0L, var stages: Int = 0, var tasks: Int = 0,
                      var shuffleRead: Long = 0L, var shuffleWrite: Long = 0L)
    val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
    val stageToJob = mutable.HashMap.empty[Int, Int]
    var collecting = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (collecting) {
        val r = JobRec(e.jobId)
        r.start = e.time
        r.desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        r.stages = e.stageInfos.size
        e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
        jobs.synchronized { jobs(e.jobId) = r }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val jid = stageToJob.getOrElse(e.stageId, -1)
        jobs.synchronized {
          jobs.get(jid).foreach { r =>
            r.tasks += 1
            val m = e.taskMetrics
            if (m != null) {
              r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
              r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            }
          }
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    // mirror Bench's rep discipline
    def once(timed: Boolean): Double = {
      Caches.release()
      spark.catalog.clearCache()
      System.gc()
      if (timed) { jobs.synchronized(jobs.clear()); stageToJob.clear(); collecting = true }
      val t0 = System.nanoTime()
      fn(spark, dir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      collecting = false
      sec
    }
    once(timed = false) // warm-up, same as Bench
    (1 to reps).foreach { rep =>
      val sec = once(timed = rep == reps) // profile the last rep
      println(f"[probe] $name rep $rep: $sec%.3f s")
    }
    // let straggling listener events drain
    Thread.sleep(500)
    val js = jobs.values.toSeq
    println(f"[probe] jobs=${js.size} stages=${js.map(_.stages).sum} " +
      f"tasks=${js.map(_.tasks).sum} " +
      f"shufRd=${js.map(_.shuffleRead).sum / 1024}KB " +
      f"shufWr=${js.map(_.shuffleWrite).sum / 1024}KB " +
      f"jobWallSum=${js.map(j => (j.end - j.start) / 1e3).sum}%.2f s")
    js.foreach { j =>
      println(f"[probe]   job ${j.id}%3d ${(j.end - j.start) / 1e3}%7.3f s " +
        f"stages=${j.stages}%2d tasks=${j.tasks}%4d " +
        f"shufRd=${j.shuffleRead / 1024}%8dKB shufWr=${j.shuffleWrite / 1024}%8dKB " +
        j.desc.take(60))
    }
    spark.stop()
  }
}
