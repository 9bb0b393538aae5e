package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.{col, expr, unix_micros, unix_millis}
import org.apache.spark.sql.types.{LongType, StructType, TimestampType}

/** Table registry for the synthetic star schema (TESTDATA.md).
  *
  * All engine operators are pure `DataFrame => DataFrame` functions; this is
  * the single place that binds logical table names to parquet paths. At
  * cluster scale the same names would resolve to catalog tables (possibly
  * bucketed); keeping resolution here means operators never hard-code paths.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Table `name` of `dir`, its schema read on the driver from the footer
    * of the file Spark's own inference reads ([[dataFiles]]), so no
    * schema-inference job runs. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    dataFiles(spark, path).fold(spark.read.parquet(path)) { fs =>
      val first = new Footer(fs.head.getPath, footer(spark, fs.head))
      spark.read.schema(ParquetFileFormat.readSchemaFromFooter(first,
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))).parquet(path)
    }
  }

  /** Rows of table `name` of `dir`: the row-group counts of its files'
    * footers, read on the driver — no job, where `count()` runs two. */
  def rowCount(spark: SparkSession, dir: String, name: String): Long = {
    val path = s"$dir/$name.parquet"
    dataFiles(spark, path).fold(spark.read.parquet(path).count())(
      _.map(footer(spark, _).getBlocks.asScala.map(_.getRowCount).sum).sum)
  }

  /** `path`'s data files in path order, the first being the one Spark's
    * schema inference reads — None where that inference does more than
    * read one footer (a missing path, no data file, partition
    * directories, schema merging, summary files), so the caller falls
    * back to Spark's reader and its answer or error. */
  private def dataFiles(spark: SparkSession, path: String): Option[Seq[FileStatus]] = {
    val p = new Path(path)
    if (spark.sessionState.conf.isParquetSchemaMergingEnabled ||
        !p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)) None
    else {
      val index = new InMemoryFileIndex(spark, Seq(p), Map.empty, None)
      val files = index.allFiles().sortBy(_.getPath.toString)
      if (files.isEmpty || index.partitionSchema.nonEmpty ||
          files.exists(_.getPath.getName.startsWith("_"))) None
      else Some(files)
    }
  }

  private def footer(spark: SparkSession, file: FileStatus): ParquetMetadata = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromStatus(file, spark.sessionState.newHadoopConf()))
    try reader.getFooter finally reader.close()
  }

  /** Schema-tolerant epoch-milliseconds extraction for the events `ts`
    * column. Real lakes mix parquet timestamp physical encodings:
    * TIMESTAMP(NANOS) is only readable as a raw nanosecond long
    * (`spark.sql.legacy.parquet.nanosAsLong`), while MICROS/MILLIS files
    * resolve as timestamp types. Dispatching on the RESOLVED dtype makes
    * every event operator encoding-independent — the session time zone is
    * pinned UTC (see [[session]]), so the NTZ→timestamp cast preserves the
    * instant, and `unix_millis` truncates exactly like `div` on the
    * (always-positive) epoch values. Integer paths only: a double division
    * would lose precision above 2^53. */
  def epochMs(schema: StructType): Column = schema("ts").dataType match {
    case LongType => expr("ts div 1000000") // nanos-as-long
    case _        => unix_millis(col("ts").cast(TimestampType))
  }

  /** [[epochMs]]'s microsecond sibling (micros fit a long until year ~294k). */
  def epochUs(schema: StructType): Column = schema("ts").dataType match {
    case LongType => expr("ts div 1000")
    case _        => unix_micros(col("ts").cast(TimestampType))
  }

  /** The events table with a unix-millis `ms` column attached, whatever
    * the parquet `ts` encoding. */
  def loadEventsMs(spark: SparkSession, dir: String): DataFrame = {
    val df = load(spark, dir, "events")
    df.withColumn("ms", epochMs(df.schema))
  }

  /** Scale-adaptive scan fan-out (optimization guide §2.5, "input skew:
    * one huge unsplittable file … repartition immediately after the
    * read"). A small single-file parquet table scans as ONE split, so
    * every expensive per-row expression downstream — tokenize, md5
    * shingle hashing, vector quantization — runs single-threaded while
    * the other cores idle (measured r21: the shingle-cache build was a
    * 1.45 s single-task stage at sf0.1 on local[32]). When the scan
    * yields fewer than a quarter as many splits as the cluster's default
    * parallelism, round-robin repartition to that parallelism; at real corpus scale
    * the scan already has ≥ cores splits and this is a plan-time NO-OP
    * (no job runs — `rdd.getNumPartitions` only plans the scan).
    * Round-robin, not keyed: even spread under any key skew, and
    * deterministic under Spark's sort-before-repartition default.
    * Column pruning still reaches the parquet scan (the optimizer
    * pushes the pruning projection below the exchange); callers put the
    * expensive expressions ABOVE the spread so they run fanned out.
    * Only sound where downstream results are partition-order
    * independent — true of every call site (integer/min/max/count
    * aggregates, equi-joins, rank windows with total tiebreaks). */
  def spread(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    // gate on the RELATION SIZE, not df.rdd.getNumPartitions: building
    // the RDD physically plans (and codegen-compiles) a throwaway query
    // — measured ~0.2 s per call, charged to every bench rep. The stats
    // walk is plan-metadata only. A scan of b bytes yields ≥ target
    // splits whenever b ≥ target · maxPartitionBytes, so past that size
    // the scan already fans out and the repartition is skipped.
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    // Spread only when the split DEFICIT is material (r21 verdict #1):
    // the old gate (`bytes < target · maxSplit`) repartitioned whenever
    // estimated splits < cores, so a mid-scale table at e.g. 1900 splits
    // on a 2000-core cluster paid a FULL round-robin shuffle of the
    // relation to raise parallelism ~5%. Requiring 4·estSplits < target
    // (i.e. the scan leaves MORE than 3/4 of the cores idle) keeps the
    // fan-out where it pays — the pathological 1-to-few-split scans — and
    // makes the marginal band a no-op. estSplits = ⌈bytes / maxSplit⌉;
    // at toy scale (one ≤ 11 MB file) estSplits = 1 « target/4 on a wide
    // machine, but on local[4] a one-split scan (4·1 ≥ 4) is NOT spread.
    // Spreading that case too (`>` for `>=`) measured no gain on
    // perfbench iter_graph at local[4]: dedup_clusters 1.06/1.58/1.05 s
    // spread, against 0.74/0.92/1.08 s as is.
    val estSplits = (bytes + maxSplit - 1) / maxSplit
    if (estSplits * 4 >= BigInt(target)) df else df.repartition(target)
  }

  /** Spark session tuned for the local[32] test harness. The settings that
    * matter at cluster scale (AQE, skew handling) are on by default in
    * Spark 4.x; shuffle partitions are sized for the local harness and would
    * be raised (or left to AQE coalescing) on a real cluster.
    */
  def session(appName: String = "graft", cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", math.max(cpus.toInt, 4).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // keep corpus-sized group counts in ObjectHashAggregate's hash
      // regime: the 128-group default falls back to sort-based
      // aggregation, re-sorting the giant input the bounded top-k
      // aggregate (TopKEdgesAgg) exists to avoid. Buffers are ≤ ~1 KB,
      // so even millions of groups per task stay far under executor
      // memory.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        (1 << 22).toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // upper/lower through the JVM's case mappings, not ICU's: ICU's
      // one-time start-up cost the first `upper` of a session 1.6-1.8 s on
      // a 4-core box (0.27 s via the JVM), and both give the same bytes on
      // the special cases HarmonizeSpec pins
      .config("spark.sql.icu.caseMappings.enabled", "false")
      // generated classes cached per JVM: the default 100 entries evict
      // almost every class a pass of the suite compiles, so a second
      // identical pass recompiles nearly all of them. One sf0.01 Verify
      // session compiles 1,352 distinct classes; 4096 holds them with room.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
