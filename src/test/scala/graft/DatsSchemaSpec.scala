package graft

import graft.etl.{AgrMgdEtl, GtexEtl, TopmedEtl}
import graft.io.{DatsJsonReader, DatsJsonWriter}
import graft.model.Dats

/** Every producer of an entity graph yields the twelve tables exactly as
  * [[Dats.EntityTables]] defines them: names, column order and types. */
class DatsSchemaSpec extends SparkTestBase {

  private def res(name: String): String = getClass.getResource(s"/$name").getPath

  private def assertSchemas(what: String, g: GtexEtl.EntityGraph): Unit =
    Dats.EntityTables.zip(g.tables).foreach { case (t, df) =>
      assert(df.schema.map(f => f.name -> f.dataType) === t.schema.map(f => f.name -> f.dataType),
        s"$what: ${t.name}")
    }

  private lazy val gtex = GtexEtl.build(spark, GtexFixture.inputs)

  private def topmed(restricted: Boolean) = TopmedEtl.build(spark, TopmedEtl.Inputs(
    manifestPath = res("topmed/manifest.txt"),
    guidPaths = Seq(res("topmed/topmed-cram.tsv"), res("topmed/topmed-crai.tsv"),
      res("topmed/topmed-vcf.tsv"), res("topmed/topmed-vcfcsi.tsv")),
    subjectTsv = res("gtex/restricted_subject.txt"),
    phenotypesTsv = res("topmed/restricted_subject_phenotypes.txt"),
    sampleTsv = Option.when(restricted)(res("topmed/restricted_sample.txt")),
    sampleAttributesTsv = Option.when(restricted)(res("topmed/restricted_sample_attributes.txt")),
    dbgapDataDictPaths =
      if (restricted) Seq(res("topmed/phs000951.v2.pht003641.v2.p2.TOPMed_Subject.data_dict.xml"))
      else Nil))

  test("the twelve tables are the EntityGraph fields, in order") {
    assert(Dats.EntityTables.map(_.name) === Seq("datasets", "identifiers", "studies",
      "study_groups", "group_members", "materials", "anatomical_parts", "characteristics",
      "dimensions", "distributions", "data_acquisitions", "diseases"))
    assert(Dats.EntityTables.flatMap(_.schema.fields).filter(_.dataType.typeName != "string")
      .map(_.name) === Seq("size"))
  }

  test("conform: typed nulls for missing columns, schema order, alien columns fail") {
    import spark.implicits._
    val out = Dats.Studies.conform(Seq(("d1", "s1")).toDF("dataset_id", "study_id"))
    assert(out.columns.toSeq === Seq("study_id", "name", "dataset_id"))
    assert(out.schema("name").dataType.typeName === "string")
    assert(out.collect().map(_.toSeq).toSeq === Seq(Seq("s1", null, "d1")))
    val unknown = intercept[IllegalArgumentException](
      Dats.Studies.conform(Seq(("s1", "x")).toDF("study_id", "nmae")))
    assert(unknown.getMessage.contains("nmae"))
    intercept[IllegalArgumentException](
      Dats.Distributions.conform(Seq(("d1", "12")).toDF("dataset_id", "size")))
    val empty = Dats.Distributions.empty(spark)
    assert(empty.schema === Dats.Distributions.schema && empty.isEmpty)
  }

  test("GTEx as built, and with the restricted overlay") {
    assertSchemas("gtex", gtex)
    assertSchemas("gtex overlay", GtexFixture.overlay(spark, gtex))
  }

  test("TOPMed, with and without the restricted sample tables") {
    assertSchemas("topmed", topmed(restricted = true))
    val bare = topmed(restricted = false)
    assertSchemas("topmed, public manifest only", bare)
    assert(bare.anatomicalParts.isEmpty)
  }

  test("AGR") {
    assertSchemas("agr", AgrMgdEtl.build(spark, AgrMgdEtl.Inputs(
      bgiPath = res("agr/MGI_BGI.json"), diseasePath = res("agr/MGI_disease.json"),
      phenotypePath = res("agr/MGI_phenotype.json"), orthologyPath = res("agr/orthology.tsv"))))
  }

  test("the JSON read-back") {
    val path = java.nio.file.Files.createTempDirectory("dats_schema").toString + "/gtex.json"
    DatsJsonWriter.write(gtex, path)
    val back = DatsJsonReader.read(spark, path)
    assertSchemas("json read-back", back)
    assert(back.studies.collect().toSet === gtex.studies.collect().toSet)
  }
}
