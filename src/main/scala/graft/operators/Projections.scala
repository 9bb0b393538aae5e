package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{Caches, Tables}

/** Scalar projection / derivation operators (reference §2.3 P-family) and
  * multi-level grouping (R4), demonstrated over the star schema. All are
  * narrow (no shuffle) except the explicit rollup/ntile, and every
  * expression is a built-in — fully inside whole-stage codegen.
  */
object Projections {

  /** Regex extraction + code→label mapping + when-chain classification +
    * string templating + URL prefixing, in one narrow projection
    * (reference P1/P3/P6/P11/P12 — e.g. derive-subject-id-from-sample-id
    * ccmm/gtex/parsers/portal_files.py:133-146, code→label
    * parsers/util.py:74-92, templating ccmm/gtex/samples.py:144-150). */
  def partEnrichment(spark: SparkSession, dir: String): DataFrame = {
    val part = Tables.load(spark, dir, "part")
    val brandNum = regexp_extract(col("p_brand"), "(\\d+)$", 1).cast("long")
    val sizeClass = when(col("p_size") < 10, "small")
      .when(col("p_size") < 30, "medium")
      .otherwise("large")
    val typeLabel = element_at(
      map(lit("ECONOMY"), lit("economy line"), lit("PROMO"), lit("promotional"),
        lit("LARGE"), lit("large format"), lit("MEDIUM"), lit("medium format"),
        lit("SMALL"), lit("small format"), lit("STANDARD"), lit("standard line")),
      col("p_type"))
    part.select(
      col("p_partkey"),
      col("p_name"),
      brandNum.as("brand_num"),
      sizeClass.as("size_class"),
      coalesce(typeLabel, col("p_type")).as("type_label"),
      concat(lit("part '"), col("p_name"), lit("' ("), col("p_type"),
        lit(") size "), col("p_size").cast("string")).as("description"),
      concat(lit("https://parts.example.com/"), col("p_partkey").cast("string")).as("url"))
      .orderBy("p_partkey")
  }

  /** Multi-level rollup totals (reference R4 multilevel index,
    * ccmm/util.py:8-19, as a grouping-sets program). NULL group keys are
    * labelled 'ALL' so the output is engine-portable.
    *
    * Shape: ONE corpus shuffle on the real (status, priority) key, then
    * the subtotal levels RE-AGGREGATE the tiny grouped result (counts
    * sum, exact DECIMAL partials sum) instead of `.rollup`'s Expand
    * tripling every input row before the shuffle — strictly less data
    * moved at scale. It is also what makes the semantics ANSI: the
    * grand-total level is a global (ungrouped) aggregate, which emits
    * its row over EMPTY input too, exactly like SQL's ROLLUP `()`
    * grouping set — Spark's Expand-based rollup returns zero rows
    * there, diverging from the standard (caught by the r20 fuzz pass,
    * bench/history/fuzz_rel_r20.jsonl seed 0). */
  def ordersRollup(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(spark, dir, "orders")
    // cached: consumed by all three union branches — without it each
    // branch re-plans the corpus scan + shuffle (the plan showed three
    // `Scan parquet` subtrees). The frame is group-cardinality-sized
    // (≤ |statuses|·|priorities| rows), so the cache is trivially small
    // at any scale; [[Caches]] owns its lifecycle.
    val base = Caches.cached(orders.groupBy("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 4))).as("d_total")))
    val lvl1 = base.groupBy("o_orderstatus")
      .agg(sum("n_orders").as("n_orders"), sum("d_total").as("d_total"))
      .withColumn("o_orderpriority", lit(null).cast("string"))
    val lvl0 = base
      .agg(coalesce(sum("n_orders"), lit(0L)).as("n_orders"),
        sum("d_total").as("d_total"))
      .withColumn("o_orderstatus", lit(null).cast("string"))
      .withColumn("o_orderpriority", lit(null).cast("string"))
    val cols = Seq("o_orderstatus", "o_orderpriority", "n_orders", "d_total")
    base.select(cols.map(col): _*)
      .unionByName(lvl1.select(cols.map(col): _*))
      .unionByName(lvl0.select(cols.map(col): _*))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n_orders"),
        col("d_total").cast("double").as("total_price"))
      .orderBy("status", "priority")
  }

  /** Decile bucketing (beyond-reference ranking op) with exact NTILE
    * semantics but WITHOUT a partition-less window — `Window.orderBy`
    * with no partition key pulls the whole table through one task, a
    * scale-killer at 100×. Scale-safe plan (distributed zipWithIndex):
    * range-repartition on the sort key (parallel range sort), a
    * per-PARTITION row_number, then add each partition's global offset
    * from a 32-row broadcast side; the decile is derived arithmetically
    * from the global rank (first n%10 buckets take one extra row —
    * exactly SQL NTILE, so ties and hashes match the oracle). The only
    * single-partition work is the 32-row offsets frame. */
  def customerDeciles(spark: SparkSession, dir: String): DataFrame = {
    val customer = Tables.load(spark, dir, "customer")
    val sortCols = Seq(col("c_acctbal").desc, col("c_custkey").asc)
    // partition count follows the session's shuffle parallelism, so a
    // 100x scale-up tunes it with one config; the offsets frame below
    // stays exactly this many rows
    val nParts = spark.sessionState.conf.numShufflePartitions
    // cache: both the offsets agg and the rank join re-read the sorted
    // frame (MEMORY_AND_DISK by default, so it spills rather than OOMs)
    val parted = customer.select("c_custkey", "c_acctbal")
      .repartitionByRange(nParts, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn("pid", spark_partition_id())
      .withColumn("lrn", row_number().over(
        Window.partitionBy("pid").orderBy(sortCols: _*)).cast("long"))
      .transform(graft.Caches.cached(_))
    // these two partition-less windows run over the nParts-row (≤32)
    // offsets frame only — WindowExec's "No Partition Defined" warning on
    // them is benign; the data-sized frame never sees such a window
    val wPrev = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.orderBy("pid")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val offsets = parted.groupBy("pid").agg(count(lit(1)).as("cnt"))
      .select(col("pid"),
        coalesce(sum(col("cnt")).over(wPrev), lit(0L)).as("off"),
        sum(col("cnt")).over(wAll).as("n"))
    parted.join(broadcast(offsets), "pid")
      .withColumn("rn", col("lrn") + col("off"))
      .withColumn("bq", expr("n DIV 10"))
      .withColumn("br", col("n") % 10)
      .withColumn("decile",
        when(col("rn") <= (col("bq") + lit(1L)) * col("br"),
            expr("(rn - 1) DIV (bq + 1)") + lit(1L))
          // greatest(bq, 1): when n < 10 every row satisfies the `when`
          // branch (rn <= (bq+1)*br), so this arm is unreachable — the
          // guard only keeps the bq=0 division from tripping ANSI mode
          .otherwise(col("br") + expr("(rn - 1 - (bq + 1) * br) DIV greatest(bq, 1)") + lit(1L))
          .cast("long"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_customers"),
        min(col("c_acctbal")).as("min_bal"),
        max(col("c_acctbal")).as("max_bal"))
      .orderBy("decile")
  }

  /** Unpivot / melt (reference R2 row-dict → attribute long form,
    * ccmm/topmed/subjects.py:243-248): customer metrics to long form via
    * the built-in stack expression. */
  def customerUnpivot(spark: SparkSession, dir: String): DataFrame = {
    val customer = Tables.load(spark, dir, "customer")
    customer.select(col("c_custkey"),
      expr("stack(2, 'acctbal', CAST(c_acctbal AS DOUBLE), 'nationkey', CAST(c_nationkey AS DOUBLE)) AS (attr, val)"))
      .orderBy("c_custkey", "attr")
  }
}
