package graft

import org.apache.spark.sql.DataFrame

import graft.etl.{GtexEtl, TopmedEtl}
import graft.io.{DatsJsonReader, DatsJsonWriter, EntityStore}
import graft.query.DatsQueries

/** The ETL→write→re-read→query loop the reference's own test drivers
  * close (rdflib_test_gtex_public.py:33-50): the fixture ETL builds the
  * entity graph, the K1 sink writes the DATS JSON-LD document, the S15
  * re-ingest ([[DatsJsonReader]]) parses it back into entity tables, and
  * all seven canonical queries must answer identically over the re-read
  * tables and the direct views. A second test closes the same loop
  * through [[EntityStore]] parquet — the at-scale deployment shape.
  */
class DatsRoundTripSpec extends SparkTestBase {

  private def res(name: String): String = getClass.getResource(s"/gtex/$name").getPath

  private lazy val graph = GtexEtl.build(spark, GtexFixture.inputs)

  private def queries(g: GtexEtl.EntityGraph): Seq[(String, DataFrame)] = Seq(
    "q1" -> DatsQueries.listSecondLevelDatasets(g, Seq(GtexEtl.TopDatasetTitle)),
    "q2" -> DatsQueries.listDatasetVariables(g, Some(GtexEtl.StudyAccession)),
    "q3" -> DatsQueries.listStudyGroupMembers(g, GtexEtl.StudyAccession, "all subjects"),
    "q4" -> DatsQueries.listSubjectSamples(g),
    "q5" -> DatsQueries.listSubjectCharacteristics(g),
    "q6" -> DatsQueries.listSampleCharacteristics(g),
    "q7" -> DatsQueries.tabularDump(g))

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.map(String.valueOf).mkString(""))

  private def assertSameAnswers(reread: GtexEtl.EntityGraph,
      base: => GtexEtl.EntityGraph = graph): Unit = {
    val direct = queries(base).toMap
    queries(reread).foreach { case (name, df) =>
      val (expect, got) = (rows(direct(name)), rows(df))
      assert(got.nonEmpty, s"$name returned no rows — a vacuous round-trip")
      assert(got === expect, s"$name differs between direct views and re-read tables")
    }
  }

  test("K1+S15: all seven queries answer identically over the re-read JSON document") {
    val path = java.nio.file.Files.createTempDirectory("dats_rt").toString + "/gtex.json"
    DatsJsonWriter.write(graph, path)
    assertSameAnswers(DatsJsonReader.read(spark, path))
  }

  test("K1: the GTEx fixture document, overlay included, has its golden bytes") {
    // golden recorded from the tree-building writer over the
    // union-per-column build; the streaming writer must match it byte
    // for byte
    val path = java.nio.file.Files.createTempDirectory("dats_pin").toString + "/gtex.json"
    val over = GtexFixture.overlay(spark, graph)
    DatsJsonWriter.write(over, path)
    assert(Digests.sha256File(path) ===
      "979ebc8e0d151856cf67a290260ef20720a8d45835899ef2ec2e6b5be7b4d114")
    assert(DatsJsonWriter.render(over).getBytes("UTF-8") ===
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
  }

  test("EntityStore bucketed: all seven queries answer identically over the bucketed layout") {
    // the r17 query-optimized layout (bucketBy join/pivot keys through
    // the catalog) must be answer-identical to the direct views, with a
    // bucket count deliberately unequal to the session's shuffle
    // partitions so key-routing mistakes (bucket hash ≠ shuffle hash)
    // would misalign joins and fail loudly here
    val dir = java.nio.file.Files.createTempDirectory("dats_rt_bk").toString
    EntityStore.saveBucketed(graph, dir, buckets = 5)
    try assertSameAnswers(EntityStore.loadBucketed(spark, dir))
    finally EntityStore.dropBucketed(spark, dir)
  }

  test("K1+S15 on the TOPMed graph: consent groups, GUID files, MD5 dimensions round-trip") {
    // a second entity-shape family: consent StudyGroups, CRAM+VCF file
    // datasets keyed by GUID files, MD5 carried as a file-dataset
    // Dimension exactly like the reference (samples.py:371-379)
    val g = TopmedEtl.build(spark, TopmedEtl.Inputs(
      manifestPath = res("../topmed/manifest.txt"),
      guidPaths = Seq(res("../topmed/topmed-cram.tsv"), res("../topmed/topmed-crai.tsv"),
        res("../topmed/topmed-vcf.tsv"), res("../topmed/topmed-vcfcsi.tsv")),
      subjectTsv = res("restricted_subject.txt"),
      phenotypesTsv = res("../topmed/restricted_subject_phenotypes.txt"),
      sampleTsv = Some(res("../topmed/restricted_sample.txt")),
      sampleAttributesTsv = Some(res("../topmed/restricted_sample_attributes.txt")),
      dbgapDataDictPaths = Seq(
        res("../topmed/phs000951.v2.pht003641.v2.p2.TOPMed_Subject.data_dict.xml"))))
    val queries: GtexEtl.EntityGraph => Seq[(String, DataFrame)] = gg => Seq(
      "q1" -> DatsQueries.listSecondLevelDatasets(gg,
        Seq("Trans-Omics for Precision Medicine (TOPMed)")),
      "q2" -> DatsQueries.listDatasetVariables(gg, Some("phs000951.v2.p2")),
      "q3" -> DatsQueries.listStudyGroupMembers(gg, "phs000951.v2.p2", "consent group 1"),
      "q4" -> DatsQueries.listSubjectSamples(gg),
      "q5" -> DatsQueries.listSubjectCharacteristics(gg),
      "q6" -> DatsQueries.listSampleCharacteristics(gg),
      "q7" -> DatsQueries.tabularDump(gg))
    val path = java.nio.file.Files.createTempDirectory("dats_rt_tm").toString + "/topmed.json"
    DatsJsonWriter.write(g, path)
    val reread = DatsJsonReader.read(spark, path)
    val direct = queries(g).toMap
    queries(reread).foreach { case (name, df) =>
      val (expect, got) = (rows(direct(name)), rows(df))
      assert(got.nonEmpty, s"TOPMed $name returned no rows — a vacuous round-trip")
      assert(got === expect, s"TOPMed $name differs between direct views and re-read tables")
    }
  }
}
