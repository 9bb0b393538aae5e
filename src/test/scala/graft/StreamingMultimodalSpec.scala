package graft

import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal
import graft.operators.EventOps
import graft.streaming.EventStream

class StreamingMultimodalSpec extends SparkTestBase {

  test("streaming hourly rollup equals the batch rollup on bounded input") {
    val events = EventStream.readEvents(spark, sf)
    val result = EventStream.runToMemory(
      EventStream.hourlyRollup(events), "hourly_stream",
      org.apache.spark.sql.streaming.OutputMode.Append())
    val streamed = result.select("hour", "event_type", "n_events", "total_value")
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val batch = EventOps.hourlyRollup(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(4))).toMap
    // watermark append-mode emits only closed windows; every emitted
    // window must match the batch result exactly
    assert(streamed.nonEmpty)
    streamed.foreach { case (k, v) => assert(batch(k) === v, s"window $k") }
  }

  test("streaming sessionization reproduces batch sessions on bounded input") {
    import spark.implicits._
    val events = EventStream.readEvents(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"), col("event_time"))
      .as[EventStream.Event]
    val sessions = EventStream.runToMemory(
      EventStream.sessionize(events).toDF(), "sessions_stream")
    val streamed = sessions.select("user_id", "session_start_ms", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val batch = EventOps.sessionize(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(4)).toMap
    assert(streamed.nonEmpty)
    // append mode: the final (still-open) session per user is unflushed;
    // every emitted session must match the batch gap-sessionization
    streamed.foreach { case (k, n) => assert(batch(k) === n, s"session $k") }
  }

  test("streaming dedup drops re-delivered event ids within the watermark") {
    // simulate at-least-once delivery: the same file read twice
    val once = EventStream.readEvents(spark, sf)
    val doubled = once.union(once)
    val deduped = EventStream.runToMemory(
      EventStream.dedupEvents(doubled).select("event_id"), "dedup_stream")
    val n = Tables.load(spark, sf, "events").count()
    assert(deduped.count() === n) // duplicates from the re-read dropped
    assert(deduped.distinct().count() === n)
  }

  test("multimodal: decode produces per-frame rows with stable shapes") {
    val media = Multimodal.syntheticMedia(spark, sf)
    val frames = Multimodal.decodeFrames(media)
    val byModality = media.groupBy("modality").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byModality.keySet === Set("image", "audio", "video"))
    val imgFrames = frames.toDF().join(
      media.toDF().filter(col("modality") === "image").select("media_id"), "media_id")
    assert(imgFrames.groupBy("media_id").count().filter(col("count") =!= 1).count() === 0)
    // deterministic: same payload → same decoded bytes
    val f1 = frames.filter(_.media_id == 0).collect().head
    val f2 = Multimodal.decodeFrames(media).filter(_.media_id == 0).collect().head
    assert(f1.pixels.toSeq === f2.pixels.toSeq)
  }

  test("multimodal: features are fixed-width, deterministic, similarity-ready") {
    val media = Multimodal.syntheticMedia(spark, sf)
    val feats = Multimodal.extractFeatures(media).cache()
    assert(feats.count() === media.count())
    feats.collect().foreach { f =>
      assert(f.feature.length === 16)
      assert(math.abs(f.feature.sum - 1.0f) < 1e-3) // histogram normalized
    }
    val resized = Multimodal.resizeMeta(media.toDF(), 32)
    assert(resized.agg(max("meta.width")).head().getInt(0) <= 32)
  }
}
