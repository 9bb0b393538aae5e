package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.EventOps
import graft.streaming.EventStream
import graft.streaming.EventStream.Event

/** The eleventh streaming twin pair: the value-quantile dashboard as a
  * cents-histogram changelog. Like the anomaly twin, counts are pure
  * addition — late admissible events emit more positive deltas and the
  * exact quantile selection is recomputed at rollup, converging to the
  * batch operator for any admissible arrival order. */
class StreamingQuantilesSpec extends SparkTestBase {

  private def asRows(df: org.apache.spark.sql.DataFrame) =
    df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSet

  test("streaming cents changelog equals the batch quantiles on the bounded fixture") {
    val deltas = EventStream.runToMemory(
      EventStream.quantilesDeltas(EventStream.readAnomalyEvents(spark, sf)).toDF(),
      "quantile_deltas_bounded")
    val streamed = asRows(EventStream.quantilesRollup(deltas))
    val batch = asRows(EventOps.valueQuantiles(spark, sf))
    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("a late event shifts the recomputed quantiles without retraction") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val T0 = 1000L * EventStream.WeekMs
    def ev(id: Long, v: Double, ms: Long) =
      Event(id, 1L, "click", v, new Timestamp(ms))
    val input = MemoryStream[Event]
    val q = EventStream.quantilesDeltas(input.toDS()).toDF()
      .writeStream.format("memory").queryName("quantile_deltas_late")
      .outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt-quant-late").toString)
      .start()
    // batch 1: three clicks at 1.00 / 2.00 / 3.00 -> p50 = 2.00
    input.addData(ev(1, 1.0, T0), ev(2, 2.0, T0 + 60000L), ev(3, 3.0, T0 + 120000L))
    q.processAllAvailable()
    val mid = EventStream.quantilesRollup(spark.table("quantile_deltas_late"))
      .filter(col("q_ppm") === 500000L).head().getDouble(2)
    assert(mid === 2.0)
    // batch 2: two LATE cheap clicks (still above the watermark) drag
    // the median down — two more +1 deltas, nothing retracted
    input.addData(ev(4, 0.5, T0 + 30000L), ev(5, 0.5, T0 + 45000L))
    q.processAllAvailable()
    q.stop()
    val deltas = spark.table("quantile_deltas_late")
    assert(deltas.filter(col("delta") < 0).count() === 0L)
    val p50 = EventStream.quantilesRollup(deltas)
      .filter(col("q_ppm") === 500000L).head().getDouble(2)
    assert(p50 === 1.0)
  }
}
