package graft

import java.security.MessageDigest

import org.apache.spark.sql.DataFrame

/** Content digests the specs pin outputs with. */
object Digests {

  def sha256(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes).map(b => f"$b%02x").mkString

  def sha256File(path: String): String =
    sha256(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))

  /** Order-independent digest of a table: its column names and types, then
    * its rows rendered one per line and sorted. */
  def table(df: DataFrame): String = {
    val header = df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
    val lines = df.collect().map(_.toSeq.map(v => if (v == null) "\u0000" else v.toString)
      .mkString("\u0001")).sorted
    sha256((header +: lines).mkString("\n").getBytes("UTF-8")).take(16)
  }
}

/** The GTEx fixture graph with every optional input, and its restricted
  * overlay with consent metadata and the J11 lookup, both from the
  * var_report. */
object GtexFixture {
  import org.apache.spark.sql.SparkSession
  import graft.etl.GtexEtl
  import graft.sources.Readers

  def res(name: String): String = getClass.getResource(s"/gtex/$name").getPath

  def inputs: GtexEtl.Inputs = GtexPipeline.inputs(getClass.getResource("/gtex").getPath)

  def overlay(spark: SparkSession, g: GtexEtl.EntityGraph): GtexEtl.EntityGraph = {
    val vr = res("dbgap_dir/phs000424.v7.pht002742.v7.p2.GTEx_Subject.var_report.xml")
    GtexEtl.restrictedOverlay(spark, g,
      res("restricted_gtex_subject.txt"), res("restricted_gtex_subject_phenotypes.txt"),
      consentMeta = Some(GtexEtl.consentMeta(spark, vr)),
      varLookup = Some(GtexEtl.dbgapVarLookup(Readers.dbgapVariables(spark, vr), "Subject")))
  }
}
