package graft

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.MetadataBuilder

/** [[Tables.load]] and [[Tables.rowCount]] read parquet footers on the
  * driver: the schema is the one Spark's own inference gives (nullability
  * and field metadata included), the row count is `count()`, and neither
  * schedules a job. */
class TablesFooterSpec extends SparkTestBase {

  /** Every table of `dir` matches Spark's reader with no job on the way. */
  private def assertFooters(dir: String, names: Seq[String]): Unit = {
    assert(names.nonEmpty, dir)
    for (name <- names) {
      val reference = spark.read.parquet(s"$dir/$name.parquet")
      val ((schema, rows), jobs) =
        jobsOf((Tables.load(spark, dir, name).schema, Tables.rowCount(spark, dir, name)))
      assert(jobs.isEmpty, s"$dir/$name: jobs $jobs")
      // StructField equality covers nullability and metadata
      assert(schema === reference.schema, s"$dir/$name")
      assert(rows === reference.count(), s"$dir/$name")
    }
  }

  test("the sf0.01 test tables: footer schema and row count, no job") {
    // the sf0.01 tables, beside the suite's default sf0.001 fixture
    assertFooters(s"${new java.io.File(sf).getParent}/sf0.01", Tables.names)
  }

  test("the benchmark's sf0.01 tables: footer schema and row count, no job") {
    val dir = new java.io.File("perfbench/data/sf0.01")
    val names = dir.list().toSeq.filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted
    assertFooters(dir.getAbsolutePath, names)
  }

  test("a three-file directory written by Spark: footer schema and row count, no job") {
    val dir = java.nio.file.Files.createTempDirectory("tables-footer").toString
    try {
      val note = new MetadataBuilder().putString("comment", "square of id").build()
      spark.range(0, 301)
        .select(col("id"), (col("id") * col("id")).as("sq", note),
          col("id").cast("string").as("s"))
        .repartition(3)
        .write.parquet(s"$dir/three.parquet")
      val parts = new java.io.File(s"$dir/three.parquet").list().count(_.endsWith(".parquet"))
      assert(parts === 3)
      assertFooters(dir, Seq("three"))
      assert(Tables.load(spark, dir, "three").schema("sq").metadata === note)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
