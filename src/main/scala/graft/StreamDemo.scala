package graft

import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal
import graft.streaming.EventStream

/** Demo main: bounded-stream execution of the streaming pipelines plus
  * the multimodal batch operators, over the synthetic tables.
  *
  * Usage: runMain graft.StreamDemo [sfDir]
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("/root/testdata/sf0.001")
    val spark = Tables.session("stream-demo")
    import spark.implicits._

    val hourly = EventStream.runToMemory(
      EventStream.hourlyRollup(EventStream.readEvents(spark, dir)), "demo_hourly")
    println(s"[stream] hourly windows emitted: ${hourly.count()}")
    hourly.orderBy("hour", "event_type").show(5, truncate = false)

    val events = EventStream.readEvents(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"), col("event_time"))
      .as[EventStream.Event]
    val sessions = EventStream.runToMemory(
      EventStream.sessionize(events).toDF(), "demo_sessions")
    println(s"[stream] sessions emitted: ${sessions.count()}")
    sessions.orderBy("user_id", "session_start_ms").show(5, truncate = false)

    val once = EventStream.readEvents(spark, dir)
    val deduped = EventStream.runToMemory(
      EventStream.dedupEvents(once.union(once)).select(col("event_id")), "demo_dedup")
    println(s"[stream] dedup: doubled input -> ${deduped.count()} unique events")

    // typed single-pass profile of the event values (ProfileAggregator)
    val values = Tables.load(spark, dir, "events")
      .select(col("value")).as(org.apache.spark.sql.Encoders.DOUBLE)
    println("[profile] event value: " +
      values.select(graft.operators.ProfileAggregator.of.toColumn).head())

    val media = Multimodal.syntheticMedia(spark, dir)
    val frames = Multimodal.decodeFrames(media)
    val feats = Multimodal.extractFeatures(media)
    println(s"[multimodal] media=${media.count()} frames=${frames.count()} features=${feats.count()}")
    feats.toDF().select(col("media_id"), col("modality"),
      slice(col("feature"), 1, 4).as("feature_head")).show(5, truncate = false)
    spark.stop()
  }
}
