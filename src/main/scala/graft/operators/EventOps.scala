package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Event-stream operators over the `events` table — the batch versions of
  * the Structured Streaming pipelines in graft.streaming. Sessionization,
  * time-bucket rollups, running windows, and semi-structured extraction.
  *
  * Timestamps are surfaced as unix milliseconds (`unix_millis`) rather
  * than raw timestamps: the source parquet is nanosecond-precision, which
  * engines truncate differently at read time — millis is the common
  * exactly-representable grain.
  */
object EventOps {

  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 4))

  /** The events parquet's `ts` physical encoding varies by writer —
    * TIMESTAMP(NANOS) reads as a raw long (nanosAsLong), MICROS/MILLIS
    * resolve as timestamp types. [[Tables.epochMs]] dispatches on the
    * resolved dtype, so every operator here works against any of them. */
  private def eventsMs(spark: SparkSession, dir: String): DataFrame =
    Tables.loadEventsMs(spark, dir)

  /** Gap-based sessionization (30-min inactivity closes a session). The
    * classic two-window program: lag → session-break flag → running sum
    * over the break flags = session index. Both windows partition on
    * user_id, so the single shuffle co-locates each user's history; at
    * 100 TB this keys on the natural partitioning and skew is bounded by
    * the busiest user (salt by day if that ever dominates). */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val events = eventsMs(spark, dir)
    val byUser = Window.partitionBy("user_id").orderBy(col("ms").asc, col("event_id").asc)
    val sessions = events
      .withColumn("prev_ms", lag(col("ms"), 1).over(byUser))
      .withColumn("is_break",
        when(col("prev_ms").isNull || col("ms") - col("prev_ms") > 1800000L, 1L).otherwise(0L))
      .withColumn("session_idx",
        sum(col("is_break")).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sessions.groupBy(col("user_id"), col("session_idx"))
      .agg(
        min(col("ms")).as("session_start_ms"),
        max(col("ms")).as("session_end_ms"),
        count(lit(1)).as("n_events"),
        sum(dec(col("value"))).as("d_value"),
        countDistinct(col("event_type")).as("n_event_types"))
      .select(col("user_id"), col("session_idx"), col("session_start_ms"),
        (col("session_end_ms") - col("session_start_ms")).as("duration_ms"),
        col("n_events"), col("d_value").cast("double").as("total_value"),
        col("n_event_types"))
      .orderBy("user_id", "session_idx")
  }

  /** Hourly rollup (the batch twin of the streaming windowed aggregation).
    * Partial aggregation makes the shuffle O(hours × event_types). */
  def hourlyRollup(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.load(spark, dir, "events")
    events.groupBy(
        date_format(timestamp_micros(Tables.epochUs(events.schema)), "yyyy-MM-dd HH").as("hour"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(dec(col("value"))).as("d_value"))
      .select(col("hour"), col("event_type"), col("n_events"), col("n_users"),
        col("d_value").cast("double").as("total_value"))
      .orderBy("hour", "event_type")
  }

  /** Per-user running total ordered by time (cumulative window with an
    * explicit ROWS frame — the default RANGE frame would merge timestamp
    * ties and is also slower). Exact decimal accumulation keeps the
    * running values order-stable. */
  def runningTotal(spark: SparkSession, dir: String): DataFrame = {
    val events = eventsMs(spark, dir)
    val w = Window.partitionBy("user_id").orderBy(col("ms").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events.select(col("user_id"), col("event_id"), col("ms"),
        col("event_type"),
        sum(dec(col("value"))).over(w).cast("double").as("running_value"),
        count(lit(1)).over(w).as("running_n"))
      .orderBy("user_id", "ms", "event_id")
  }

  /** Weekly retention cohorts — the user-lifecycle rollup every event
    * pipeline reports: cohort = a user's first active epoch-week; for
    * offsets k = 0..3, the share of the cohort active in week
    * cohort + k. Distinct (user, week) first, so the cohort assignment
    * and the retention counts are one user-keyed shuffle each; cohort
    * sizes broadcast back onto the tallies. */
  def retention(spark: SparkSession, dir: String): DataFrame =
    retentionFrom(eventsMs(spark, dir))

  /** [[retention]] over an explicit (user_id, ms) frame. */
  def retentionFrom(events: DataFrame): DataFrame = {
    // FLOOR division, not `div`: div truncates toward zero, so a pre-epoch
    // (negative-ms) event would land one week late vs the oracle's `//`.
    // pmod keeps the arithmetic in exact longs (float division can round
    // the wrong way at exact week multiples).
    val weeks = events.select(col("user_id"),
      expr("(ms - pmod(ms, 604800000)) div 604800000").as("wk"))
      .distinct().transform(graft.Caches.cached(_))
    val cohorts = weeks.groupBy("user_id").agg(min(col("wk")).as("cohort"))
    val sizes = cohorts.groupBy("cohort").agg(count(lit(1)).as("n_cohort"))
    weeks.join(cohorts, "user_id")
      .withColumn("k", (col("wk") - col("cohort")).cast("long"))
      .filter(col("k") <= 3)
      .groupBy("cohort", "k").agg(count(lit(1)).as("n_retained"))
      .join(broadcast(sizes), "cohort")
      .select(col("cohort"), col("k"), col("n_cohort"), col("n_retained"),
        (col("n_retained").cast("double") / col("n_cohort")).as("retention"))
      .orderBy("cohort", "k")
  }

  /** As-of join: each event picks the MOST RECENT order of the same
    * customer (order time ≤ event time; ties on time broken by the
    * larger o_orderkey). This is the operator SQL engines special-case
    * as `ASOF JOIN`; the Spark-native shape is a tagged union — both
    * sides union on (key, time) and a running `last(ignoreNulls)` window
    * carries the latest order forward onto each event. ONE shuffle on
    * the join key, no per-event probe join, no inequality-join
    * explosion: at 100 TB the union shuffles each side once on a
    * well-distributed key (user) and the window is a single ordered pass
    * per key — the same cost class as sessionization, where the naive
    * `max(time) WHERE time <= t` correlated form is quadratic per key.
    * Orders sort before events at the same millisecond (side 0 < 1), so
    * an order landing exactly on the event time IS visible to it. The
    * tie-break column is non-null exactly on the order side, so engines'
    * differing null orderings cannot reorder anything observable. */
  def asofJoin(spark: SparkSession, dir: String): DataFrame =
    asofJoinFrom(eventsMs(spark, dir), Tables.load(spark, dir, "orders"))

  /** [[asofJoin]] over explicit (event_id, user_id, ms) / orders frames. */
  def asofJoinFrom(events: DataFrame, orders: DataFrame): DataFrame = {
    val e = events
      // symmetric with the orders-side pin below: a PROBE with no
      // timestamp has no as-of position either — without the filter a
      // null-ms event sorts first in Spark / last in DuckDB and the
      // carried answer diverges the same way the orders side did
      .filter(col("ms").isNotNull)
      .select(col("user_id").as("k"), col("ms").as("t"), lit(1).as("side"),
        col("event_id"), lit(null).cast("long").as("o_orderkey"),
        lit(null).cast("double").as("o_totalprice"))
    val o = orders
      // an as-of join carries the latest row whose TIME is <= the probe
      // time; a row with a null timestamp has no position on that
      // timeline and must never be carried. Filter explicitly: without
      // this, Spark's ascending sort puts null-t rows FIRST (they'd be
      // "carried" by every earlier-than-any-order event) while DuckDB
      // sorts them last — the same oracle SQL diverges on null dates
      // (r20 evt fuzz; the oracle filters o_orderdate IS NOT NULL too)
      .filter(col("o_orderdate").isNotNull)
      // o_orderdate is TIMESTAMP_NTZ; the session timezone is pinned to
      // UTC, so the cast matches DuckDB's epoch_ms reading exactly
      .select(col("o_custkey").as("k"),
        unix_millis(col("o_orderdate").cast("timestamp")).as("t"),
        lit(0).as("side"), lit(null).cast("long").as("event_id"),
        col("o_orderkey"), col("o_totalprice"))
    val w = Window.partitionBy("k")
      .orderBy(col("t").asc, col("side").asc, col("o_orderkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.unionByName(o)
      .withColumn("last_o", last(when(col("side") === 0,
        struct(col("o_orderkey"), col("o_totalprice"))), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("event_id"), col("k").as("user_id"), col("t").as("ms"),
        col("last_o.o_orderkey").as("o_orderkey"),
        col("last_o.o_totalprice").as("o_totalprice"))
      .orderBy("event_id")
  }

  /** Point-in-interval range join: every `purchase` event opens a 1-hour
    * attribution window `[ts-1h, ts)`; count and value-sum the same
    * user's `click`/`view` events inside it. The naive form is an
    * inequality join — quadratic in per-user history and a
    * nested-loop plan. The scale shape BUCKETIZES time at the window
    * length: an interval of length H overlaps at most 2 buckets of size
    * H, so intervals explode into ≤2 bucket rows and the join becomes an
    * EQUI-join on (user, bucket) with the exact range check left as a
    * residual filter. Pair space is bounded by per-bucket event density
    * — constant in corpus age — instead of per-user history length, and
    * the plan is a plain shuffled equi-join AQE can size. The
    * `array_distinct` guards the aligned case (window start exactly on a
    * bucket boundary) from double-joining its rows. */
  def rangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val H = 3600000L
    val ev = eventsMs(spark, dir)
    val points = ev.filter(col("event_type").isin("click", "view"))
      .select(col("user_id"), col("ms").as("pms"), col("value"),
        expr(s"ms div $H").as("bucket"))
    val ivs = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ms").as("ims"))
      .withColumn("bucket", explode(array_distinct(array(
        expr(s"(ims - $H) div $H"), expr(s"ims div $H")))))
    points.as("p").join(ivs.as("i"),
        col("p.user_id") === col("i.user_id") && col("p.bucket") === col("i.bucket") &&
          col("p.pms") >= col("i.ims") - H && col("p.pms") < col("i.ims"))
      .groupBy(col("i.purchase_id"), col("i.user_id"))
      .agg(count(lit(1)).as("n_hits"), sum(dec(col("p.value"))).as("d_value"))
      .select(col("purchase_id"), col("user_id"), col("n_hits"),
        col("d_value").cast("double").as("sum_value"))
      .orderBy("purchase_id")
  }

  /** Daily active users, trailing-7-day active users, and the DAU/WAU
    * "stickiness" ratio per day — the engagement dashboard query. The
    * trailing window is computed WITHOUT a range self-join: each distinct
    * (user, day) claims the 7 window-end days it contributes to via a
    * bounded explode (×7), then one day-keyed countDistinct — at 100 TB
    * that is two aggregations and one constant-factor explode, versus a
    * day×day range join whose pair space grows with history length.
    * Window-end days with no same-day activity are dropped by the inner
    * join with DAU (a day nobody was active has no DAU row — and no
    * dashboard row).
    *
    * The exact countDistinct is the oracle-comparable form; at real
    * scale the drop-in sketch is `approx_count_distinct` (HLL) on the
    * same plan — the spec asserts the sketch lands within 5% of exact
    * on this corpus, the swap a 100 TB deployment would make. */
  def stickiness(spark: SparkSession, dir: String): DataFrame =
    stickinessFrom(eventsMs(spark, dir)
      .select(col("user_id"), expr("ms div 86400000").as("day")))

  def stickinessFrom(userDays0: DataFrame): DataFrame = {
    val userDays = userDays0.distinct()
      .transform(graft.Caches.cached(_)) // read twice: DAU + window explode
    val dau = userDays.groupBy("day")
      .agg(countDistinct(col("user_id")).as("dau"))
    val wau = userDays
      .withColumn("wday", explode(sequence(col("day"), col("day") + 6)))
      .groupBy("wday").agg(countDistinct(col("user_id")).as("wau"))
    dau.join(wau, col("day") === col("wday"))
      .select(col("day"), col("dau"), col("wau"),
        (col("dau").cast("double") / col("wau")).as("stickiness"))
      .orderBy("day")
  }

  /** Event-type transition matrix: counts and row-normalized
    * probabilities of consecutive (prev → next) event types within each
    * user's timeline — the first-order Markov profile sequence models
    * and session-flow analyses start from. One user-keyed window (lag)
    * feeds a types×types aggregate; the output is vocabulary-sized
    * (|types|²), so the row-normalizing window runs over a bounded
    * frame. Ties at the same ms order by event_id, matching the
    * engine's deterministic-ordering discipline. */
  def transitionMatrix(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ms").asc, col("event_id").asc)
    val t = eventsMs(spark, dir)
      .select(col("user_id"), col("event_type"), col("ms"), col("event_id"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
    val counts = t.groupBy("prev_type", "event_type").agg(count(lit(1)).as("n"))
    counts
      .withColumn("row_total", sum(col("n")).over(Window.partitionBy("prev_type")))
      .select(col("prev_type"), col("event_type").as("next_type"),
        col("n"), col("row_total"),
        (col("n").cast("double") / col("row_total")).as("p"))
      .orderBy("prev_type", "next_type")
  }

  /** Per-(event_type, hour) volume anomalies: z-score of each hour's
    * event count against that type's all-hours mean/stddev, flagging
    * |z| > 3 — the monitoring query an ingest pipeline alarms on.
    *
    * Determinism discipline: z = (n·H − S) / √(H·S2 − S²) with
    * H = hours, S = Σn, S2 = Σn² — numerator and radicand are exact
    * integers, so the only float ops are one division and one sqrt on
    * identical operands in any engine; the flag is decided on the exact
    * integer inequality (n·H − S)² > 9·(H·S2 − S²), no float threshold.
    * The moments are carried in DECIMAL(38,0) (both engines evaluate it
    * deterministically): in Long, S² and the squared numerator overflow
    * once a type's total hourly counts reach ~3e9 events — well inside
    * the 100 TB envelope — and with ANSI mode pinned that is a runtime
    * abort, not a wrong answer. One shuffle (the hourly aggregate) +
    * one event_type-partitioned window over O(hours) rows. */
  def anomaly(spark: SparkSession, dir: String): DataFrame =
    anomalyFrom(Tables.load(spark, dir, "events"))

  def anomalyFrom(events: DataFrame): DataFrame =
    zFlagged(events
      .withColumn("ms", Tables.epochMs(events.schema))
      .groupBy(col("event_type"), expr("ms div 3600000").as("hour"))
      .agg(count(lit(1)).as("n")))

  /** The exact-arithmetic tail of [[anomaly]] over an (event_type, hour,
    * n) count frame — shared with the streaming changelog's rollup
    * (graft.streaming.EventStream.anomalyRollup), so both faces flag
    * from literally the same expressions. */
  private[graft] def zFlagged(hourly: DataFrame): DataFrame = {
    val w = Window.partitionBy("event_type")
    val nd = col("n").cast("decimal(38,0)")
    val num = nd * col("nh") - col("s")
    val rad = col("nh") * col("s2") - col("s") * col("s")
    hourly
      .withColumn("nh", count(lit(1)).over(w).cast("decimal(38,0)"))
      .withColumn("s", sum(nd).over(w))
      .withColumn("s2", sum(nd * nd).over(w))
      .select(col("event_type"), col("hour"), col("n"),
        when(rad === 0, lit(0.0))
          .otherwise(num.cast("double") / sqrt(rad.cast("double"))).as("z"),
        when(num * num > lit(9) * rad, 1L).otherwise(0L).as("flagged"))
      .orderBy("event_type", "hour")
  }

  /** Exact p50/p90/p99 of the value column per event type — the latency/
    * price-distribution dashboard query, computed WITHOUT the classic
    * scale-killer (a global sort / partition-less rank over the corpus).
    * Values are cents-quantized (2-decimal domain — exact under double
    * round on both engines), so the per-type distinct-cents frame is
    * VALUE-DOMAIN-sized, not corpus-sized: the groupBy absorbs the
    * corpus with map-side combine, and every window (cumulative count,
    * per-type total) runs over that bounded frame. Quantile q = the
    * smallest cents value whose cumulative count reaches q·total —
    * compared in exact integer cross-multiplication (cum·10⁶ ≥
    * q_ppm·total), one float division at the end. The same two-pass
    * count-then-offset idea as TextOps.corpusShuffle, pointed at a
    * bounded key domain. */
  def valueQuantiles(spark: SparkSession, dir: String): DataFrame =
    quantileTail(Tables.load(spark, dir, "events")
      .select(col("event_type"), expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .groupBy("event_type", "cents").agg(count(lit(1)).as("n")))

  /** The quantile-selection tail of [[valueQuantiles]] over an
    * (event_type, cents, n) count frame — shared with the streaming
    * changelog's rollup (graft.streaming.EventStream.quantilesRollup),
    * so both faces select from literally the same expressions. */
  private[graft] def quantileTail(counts: DataFrame): DataFrame = {
    val qs = Seq(500000L, 900000L, 990000L)
    val wcum = Window.partitionBy("event_type").orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wtot = Window.partitionBy("event_type")
    counts
      // quantiles are over OBSERVED values: a null cents bucket (null
      // `value` upstream) is excluded from both the ranks and the
      // totals. Without this pin the bucket's position in the
      // cumulative window is dialect-default null ORDERING — Spark
      // sorts nulls first ascending, DuckDB last — and the same oracle
      // SQL diverges the moment data carries null values (r20 evt fuzz
      // design note; the oracle filters `value IS NOT NULL` to match).
      .filter(col("cents").isNotNull)
      .withColumn("cum", sum(col("n")).over(wcum))
      .withColumn("total", sum(col("n")).over(wtot))
      .withColumn("q_ppm", explode(array(qs.map(lit): _*)))
      .filter(col("cum") * lit(1000000L) >= col("q_ppm") * col("total"))
      .groupBy("event_type", "q_ppm")
      .agg(min(col("cents")).as("cents"))
      .select(col("event_type"), col("q_ppm"),
        (col("cents").cast("double") / 100.0).as("value"))
      .orderBy("event_type", "q_ppm")
  }

  /** Ordered conversion funnel view → click → purchase: for each user,
    * the first view, the first click strictly after that view, and the
    * first purchase strictly after that click — the sequential-pattern
    * query product analytics runs constantly (and the one naïve SQL gets
    * wrong by ignoring event ORDER). `depth` is the furthest stage
    * reached.
    *
    * Scale shape: three aggregations and two joins, every one keyed on
    * user_id — a single logical partitioning, so Catalyst reuses the
    * exchange instead of re-shuffling per stage; each stage's input also
    * shrinks monotonically (only users who reached the previous stage
    * survive the inner join). Per-user history depth is bounded by
    * design (scaling adds users, not history — ScaleGen.scala:17), so
    * no per-user state grows with corpus size. */
  def funnel(spark: SparkSession, dir: String): DataFrame =
    funnelFrom(eventsMs(spark, dir)
      .select(col("user_id"), col("event_type"), col("ms")))

  /** [[funnel]] over a prepared (user_id, event_type, ms) frame — the seam
    * the streaming twin's batch-equivalence spec compares against. */
  def funnelFrom(events: DataFrame): DataFrame = {
    val ev = events
      .transform(graft.Caches.cached(_)) // scanned once per funnel stage
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ms")).as("view_ms"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("ms") > col("view_ms"))
      .groupBy("user_id").agg(min(col("ms")).as("click_ms"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("ms") > col("click_ms"))
      .groupBy("user_id").agg(min(col("ms")).as("purchase_ms"))
    v.join(c, Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
      .select(col("user_id"), col("view_ms"), col("click_ms"), col("purchase_ms"),
        (lit(1L) + when(col("click_ms").isNotNull, 1L).otherwise(0L)
          + when(col("purchase_ms").isNotNull, 1L).otherwise(0L)).as("depth"))
      .orderBy("user_id")
  }

  /** Semi-structured extraction from the JSON-ish `props` column (the
    * reference's GFF3 attribute-split P14/S11 analogue,
    * ccmm/mgd/ref_genome_dataset.py:159-168): regex-extract a typed field,
    * then profile it per event type (reference A5 var_report stats). */
  def propsProfile(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.load(spark, dir, "events")
      // nullif BEFORE the cast: regexp_extract returns '' on a no-match
      // (props without a "k", e.g. '{}' or another key) and under ANSI
      // mode ''.cast(long) THROWS instead of yielding null — caught by
      // the r20 evt fuzz (bench/history/fuzz_evt_r20.jsonl); the oracle uses the same
      // nullif(regexp_extract(..), '') shape, so both engines agree the
      // no-match rows are the n_null rows
      .withColumn("k",
        nullif(regexp_extract(col("props"), "\"k\": (\\d+)", 1), lit(""))
          .cast("long"))
    events.groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_null"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        sum(col("k")).as("sum_k"),
        countDistinct(col("k")).as("distinct_k"))
      .orderBy("event_type")
  }
}
