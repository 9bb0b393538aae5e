package graft

import org.apache.spark.sql.functions._

import graft.etl.TopmedEtl
import graft.io.DatsJsonWriter
import graft.query.DatsQueries

class TopmedPipelineSpec extends SparkTestBase {

  private def res(name: String): String = getClass.getResource(s"/$name").getPath

  private lazy val graph = TopmedEtl.build(spark, TopmedEtl.Inputs(
    manifestPath = res("topmed/manifest.txt"),
    guidPaths = Seq(res("topmed/topmed-cram.tsv"), res("topmed/topmed-crai.tsv"),
      res("topmed/topmed-vcf.tsv"), res("topmed/topmed-vcfcsi.tsv")),
    subjectTsv = res("gtex/restricted_subject.txt"),
    phenotypesTsv = res("topmed/restricted_subject_phenotypes.txt"),
    sampleTsv = Some(res("topmed/restricted_sample.txt")),
    sampleAttributesTsv = Some(res("topmed/restricted_sample_attributes.txt")),
    dbgapDataDictPaths = Seq(
      res("topmed/phs000951.v2.pht003641.v2.p2.TOPMed_Subject.data_dict.xml"))))

  test("TOPMed graph: subjects, consent groups, CRAM+VCF datasets, J12") {
    assert(graph.materials.filter(col("material_type") === "subject").count() === 3)
    // 3 CRAM datasets + 2 VCF (NWD100002 has no s3_vcf in the fixture)
    assert(graph.datasets.filter(col("data_type") === "WGS").count() === 3)
    assert(graph.datasets.filter(col("data_type") === "SNP/CNV").count() === 2)
    // J12: every emitted extract is referenced by a file dataset, and
    // every emitted sample is the derivesFrom of an emitted extract
    val extracts = graph.materials.filter(col("material_type") === "extract")
    assert(extracts.join(graph.dataAcquisitions,
      extracts("material_id") === col("input_material_id"), "left_anti").count() === 0)
    val samples = graph.materials.filter(col("material_type") === "sample")
    assert(samples.join(extracts.select(col("derives_from").as("d")),
      samples("material_id") === col("d"), "left_anti").count() === 0)
    // consent groups 1 and 2 plus all-subjects
    assert(graph.studyGroups.count() === 3)
  }

  test("TOPMed graph: GUID join carries md5/size/DOI onto distributions") {
    val withMd5 = graph.distributions.filter(col("md5").isNotNull)
    // NWD100001 cram (gs+s3) + NWD100002 cram (gs+s3) + NWD100001 vcf (gs+s3)
    assert(withMd5.count() === 6)
    val sci = graph.distributions
      .filter(col("access_url") === "s3://t/NWD100002.b38.irc.v1.cram").head()
    assert(sci.getAs[Long]("size") === 12300000000L) // P10 sci-notation cast
  }

  test("P8/J6: samples carry subject links, anatomy, and merged attributes") {
    val samples = graph.materials.filter(col("material_type") === "sample")
    // every sample has a subject link and a non-null anatomy (P8)
    assert(samples.filter(col("anatomy_id").isNull).count() === 0)
    assert(samples.filter(col("derives_from").isNull).count() === 0)
    // blood (contains-match on "Peripheral Blood"/"Blood") vs saliva
    val anat = graph.anatomicalParts.collect()
      .map(r => r.getAs[String]("name") -> r.getAs[String]("uberon_id")).toMap
    assert(anat === Map("blood" -> "UBERON:0000178", "saliva" -> "UBERON:0001836"))
    val nwd1 = samples.filter(col("name") === "NWD100001").head()
    val bloodId = graph.anatomicalParts.filter(col("name") === "blood")
      .head().getAs[String]("anatomy_id")
    assert(nwd1.getAs[String]("anatomy_id") === bloodId)
    assert(nwd1.getAs[String]("subject_id") === "SU001")
    // J6 merged Sample_Attributes columns land as sample characteristics
    val chars1 = graph.characteristics
      .filter(col("material_id") === nwd1.getAs[String]("material_id"))
      .collect().map(r => r.getAs[String]("name") -> r.getAs[String]("value")).toMap
    assert(chars1("BODY_SITE") === "Peripheral Blood")
    assert(chars1("SAMPLE_USE") === "Seq_DNA_WholeGenome")
    assert(chars1("ANALYTE_TYPE") === "DNA")
    // Q7 carries the anatomy, harmonized chars, and index DOI per file row
    val dump = DatsQueries.tabularDump(graph).collect()
    val su1 = dump.filter(r => r.getAs[String]("Subject_ID") == "SU001"
      && r.getAs[String]("Study_Group") == "all subjects"
      && r.getAs[String]("Datatype") == "WGS").head
    assert(su1.getAs[String]("Anatomical_Part") === "blood")
    assert(su1.getAs[String]("Anatomical_Part_ID") === "UBERON:0000178")
    assert(su1.getAs[String]("Hypertension") === "yes")
    assert(su1.getAs[String]("Gender") === "1")
    assert(su1.getAs[String]("INDEX_DOI") === "https://doi.org/10.2000/i1")
    assert(su1.getAs[Long]("File_Size") === 12345678901L)
  }

  test("J6: disjoint sample-attribute columns fill in; conflicts are fatal") {
    import spark.implicits._
    val s = Seq(("101", "NWD1", "useA")).toDF("dbGaP_Sample_ID", "SAMPLE_ID", "SAMPLE_USE")
    val disjoint = Seq(("101", "Blood")).toDF("dbGaP_Sample_ID", "BODY_SITE")
    val merged = TopmedEtl.mergeSubjectTables(s, disjoint, "dbGaP_Sample_ID")
    assert(merged.head().getAs[String]("BODY_SITE") === "Blood")
    assert(merged.head().getAs[String]("SAMPLE_USE") === "useA")
    val conflicting = Seq(("101", "NWD9")).toDF("dbGaP_Sample_ID", "SAMPLE_ID")
    intercept[IllegalArgumentException] {
      TopmedEtl.mergeSubjectTables(s, conflicting, "dbGaP_Sample_ID")
    }
  }

  test("duplicate SAMPLE_ID in the restricted sample table is fatal") {
    // a dup would silently fan out the manifest left join, duplicating
    // materials/acquisitions/distributions downstream
    val dir = java.nio.file.Files.createTempDirectory("dup-sample")
    val dupTsv = dir.resolve("restricted_sample.txt")
    java.nio.file.Files.writeString(dupTsv,
      """# Table accession: pht003643.v2.p2
        |dbGaP_Subject_ID	dbGaP_Sample_ID	SUBJECT_ID	SAMPLE_ID	SAMPLE_USE
        |1	101	SU001	NWD100001	Seq_DNA_WholeGenome
        |1	109	SU001	NWD100001	Seq_DNA_WholeGenome
        |""".stripMargin)
    val ex = intercept[IllegalArgumentException] {
      TopmedEtl.build(spark, TopmedEtl.Inputs(
        manifestPath = res("topmed/manifest.txt"),
        guidPaths = Seq(res("topmed/topmed-cram.tsv"), res("topmed/topmed-crai.tsv"),
          res("topmed/topmed-vcf.tsv"), res("topmed/topmed-vcfcsi.tsv")),
        subjectTsv = res("gtex/restricted_subject.txt"),
        phenotypesTsv = res("topmed/restricted_subject_phenotypes.txt"),
        sampleTsv = Some(dupTsv.toString)))
    }
    assert(ex.getMessage.contains("NWD100001"))
  }

  test("P8: unmappable BODY_SITE is fatal") {
    import spark.implicits._
    val bad = Seq(("NWD1", "Bone Marrow")).toDF("SAMPLE_ID", "BODY_SITE")
    intercept[IllegalArgumentException] { TopmedEtl.withBodySiteAnatomy(bad) }
  }

  test("P9: harmonized phenotypes and hypertension wired into the graph") {
    val su001 = graph.materials.filter(col("name") === "SU001")
      .select("material_id").head().getString(0)
    val harmonized = graph.characteristics
      .filter(col("material_id") === su001 && col("name").isin("Gender", "Age"))
      .collect().map(r => r.getAs[String]("name") -> r.getAs[String]("value")).toMap
    // TOPMed gender is lower-cased only (subjects.py:36), so "1" stays
    assert(harmonized === Map("Gender" -> "1", "Age" -> "54"))
    val status = graph.diseases
      .join(graph.materials.select(col("material_id"), col("name").as("subj")), "material_id")
      .collect().map(r => r.getAs[String]("subj") -> r.getAs[String]("status")).toMap
    assert(status === Map("SU001" -> "yes", "SU003" -> "no")) // SU002 blank → absent
  }

  test("Q4: subject→sample→extract chain answers for TOPMed") {
    val rows = DatsQueries.listSubjectSamples(graph).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(rows.contains(("SU001", "NWD100001", "DNA extract")))
    // one row per (subject, sample) — extracts are 1:1 with samples here
    assert(rows.length === graph.materials
      .filter(col("material_type") === "extract").count())
  }

  test("S7: TOPMed study variables register as Dimensions (Q2)") {
    val vars = DatsQueries.listDatasetVariables(graph, Some("phs000951.v2.p2"))
      .collect().map(r => r.getString(1) -> r.getString(2))
    assert(vars.toSeq === Seq(
      "phv00250000" -> "SUBJECT_ID", "phv00250001" -> "CONSENT",
      "phv00250002" -> "AFFECTION_STATUS"))
  }

  test("writer: two study-linked datasets in one graph is fatal (isAbout scope)") {
    // the globally-collected isAbout sample list is only valid for a
    // single study dataset — a second one would receive ALL samples
    val extra = graph.datasets.filter(col("study_id").isNotNull)
      .withColumn("dataset_id", concat(col("dataset_id"), lit("-dup")))
    val twoStudies = graph.copy(datasets = graph.datasets.unionByName(extra))
    val ex = intercept[IllegalArgumentException] { DatsJsonWriter.render(twoStudies) }
    assert(ex.getMessage.contains("study-linked"))
  }

  test("TOPMed queries + writer run end-to-end") {
    val members = DatsQueries.listStudyGroupMembers(
      graph, "phs000951.v2.p2", "consent group 1").collect()
    assert(members.map(_.getString(2)).toSeq === Seq("SU001", "SU003"))
    val json = DatsJsonWriter.render(graph)
    assert(json.contains("Trans-Omics for Precision Medicine (TOPMed)"))
    assert(json === DatsJsonWriter.render(graph)) // deterministic
  }

  test("K1: the TOPMed fixture document has its golden bytes") {
    // golden recorded from the tree-building writer; the streaming writer
    // must match it byte for byte
    val path = java.nio.file.Files.createTempDirectory("topmed_pin").toString + "/topmed.json"
    DatsJsonWriter.write(graph, path)
    assert(Digests.sha256File(path) ===
      "2a9ac85a3f479e1b7d9e0dc278fd8567fcc957167d518e88577396d17f839ff7")
  }
}
