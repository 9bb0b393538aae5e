package graft

import org.apache.spark.sql.functions._

import graft.etl.GtexEtl
import graft.sources.Readers

class OverlayS8Spec extends SparkTestBase {

  private def res(name: String): String = getClass.getResource(s"/gtex/$name").getPath

  private lazy val graph = GtexEtl.build(spark, GtexEtl.Inputs(
    subjectsPath = res("GTEx_v7_Annotations_SubjectPhenotypesDS.txt"),
    samplesPath = res("GTEx_v7_Annotations_SampleAttributesDS.txt"),
    wgsManifestPath = res("wgs_cram_manifest.txt"),
    rnaseqManifestPath = res("rnaseq_cram_manifest.txt"),
    doiPath = res("doi_manifest.txt")))

  test("J11: study dimensions registered from parsed data_dict XML") {
    val g = GtexEtl.build(spark, GtexEtl.Inputs(
      subjectsPath = res("GTEx_v7_Annotations_SubjectPhenotypesDS.txt"),
      samplesPath = res("GTEx_v7_Annotations_SampleAttributesDS.txt"),
      wgsManifestPath = res("wgs_cram_manifest.txt"),
      rnaseqManifestPath = res("rnaseq_cram_manifest.txt"),
      doiPath = res("doi_manifest.txt"),
      dbgapDataDictPath = Some(res("phs000424.v7.pht002742.v7.p2.GTEx_Subject.data_dict.xml"))))
    val vars = graft.query.DatsQueries.listDatasetVariables(g, Some(GtexEtl.StudyAccession))
      .collect()
    assert(vars.map(r => (r.getString(1), r.getString(2))).toSeq ===
      Seq(("phv00169061", "SEX"), ("phv00169063", "AGE")))
    assert(vars.head.getString(3) === "Sex of the subject") // XML description
  }

  test("S3/J2: id dumps validate and cross-check against both manifests") {
    import graft.sources.ValidatedTsv
    val subj = GtexEtl.readSubjectIdDump(spark, res("gtex_v7_subject_ids.txt"))
    assert(subj.count() === 3)
    val samp = GtexEtl.readSampleIdDump(spark, res("gtex_v7_sample_ids.txt"))
    assert(samp.count() === 4)
    val tissue = GtexEtl.readTissueIdDump(spark, res("gtex_v7_tissue_ids.txt"))
    assert(tissue.count() === 3)
    val wgs = ValidatedTsv.readStrict(spark, res("wgs_cram_manifest.txt"),
      GtexEtl.manifestSpec(withFirecloud = true), "sample_id")
    val rna = ValidatedTsv.readStrict(spark, res("rnaseq_cram_manifest.txt"),
      GtexEtl.manifestSpec(withFirecloud = false), "sample_id")
    val manifest = wgs.drop("firecloud_id").unionByName(rna)
    val tallies = GtexEtl.crossCheckIds(subj, samp, manifest)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // 6 distinct manifest samples: 4 in the dump; subjects GTEX-1111/
    // 2222/4444 in the dump, K-562 not
    assert(tallies === Map("samples_found" -> 4L, "samples_not_found" -> 2L,
      "subjects_found" -> 3L, "subjects_not_found" -> 1L))
  }

  test("J10/P5: study Dataset skeleton built from the S14 scrape") {
    val g = GtexEtl.build(spark, GtexEtl.Inputs(
      subjectsPath = res("GTEx_v7_Annotations_SubjectPhenotypesDS.txt"),
      samplesPath = res("GTEx_v7_Annotations_SampleAttributesDS.txt"),
      wgsManifestPath = res("wgs_cram_manifest.txt"),
      rnaseqManifestPath = res("rnaseq_cram_manifest.txt"),
      doiPath = res("doi_manifest.txt"),
      dbgapStudiesScrapePath = Some(res("dbgap_studies.txt"))))
    // Q1 lists BOTH scraped dbGaP studies as 2nd-level datasets
    val q1 = graft.query.DatsQueries.listSecondLevelDatasets(
      g, Seq(GtexEtl.TopDatasetTitle)).collect()
    assert(q1.map(_.getString(0)).toSeq === Seq("phs000424.v7.p2", "phs000920.v4.p2"))
    // the scraped subject count becomes an Actual Subject Count Dimension
    val counts = g.dimensions.filter(col("name") === "Actual Subject Count")
      .join(g.identifiers, col("owner_id") === col("entity_id"))
      .select("identifier", "value").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(counts === Map("phs000424.v7.p2" -> "752", "phs000920.v4.p2" -> "100"))
    // file datasets still hang off the StudyAccession dataset
    assert(g.datasets.filter(col("data_type").isNotNull).count() === 6)
  }

  test("P18/J9: CONSENT variable selection and consent-group metadata") {
    val vr = res("dbgap_dir/phs000424.v7.pht002742.v7.p2.GTEx_Subject.var_report.xml")
    // exactly one CONSENT var without a .cN suffix is selected
    val cv = GtexEtl.consentVariable(Readers.dbgapVariables(spark, vr))
    assert(cv.select("_id").head().getString(0) === "phv00169064.v7")
    // zero matches (a data_dict with no CONSENT) is fatal
    intercept[IllegalArgumentException] {
      GtexEtl.consentVariable(Readers.dbgapVariables(spark,
        res("phs000424.v7.pht002742.v7.p2.GTEx_Subject.data_dict.xml")))
    }
    val meta = GtexEtl.consentMeta(spark, vr).orderBy("CONSENT").collect()
    assert(meta.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq ===
      Seq(("1", "General Research Use (GRU)", 2L), ("2", "Disease-Specific (DS)", 1L)))
    // overlay with the metadata: groups named from the enum labels and
    // the declared counts hold against the restricted fixture
    val over = GtexEtl.restrictedOverlay(spark, graph,
      res("restricted_gtex_subject.txt"), res("restricted_gtex_subject_phenotypes.txt"),
      consentMeta = Some(GtexEtl.consentMeta(spark, vr)))
    val names = over.studyGroups.filter(col("name") =!= "all subjects")
      .select("name").collect().map(_.getString(0)).toSet
    assert(names === Set("General Research Use (GRU)", "Disease-Specific (DS)"))
  }

  test("J9: a var_report enum row with no declared count is fatal, not ignored") {
    import spark.implicits._
    // the reference's int(cvc['count']) raises on a missing attribute; a
    // null declared_count must not slip through the =!= comparison
    val meta = Seq(("1", "General Research Use (GRU)"), ("2", "Disease-Specific (DS)"))
      .toDF("CONSENT", "consent_name")
      .withColumn("declared_count", lit(null).cast("long"))
    val ex = intercept[IllegalArgumentException] {
      GtexEtl.restrictedOverlay(spark, graph,
        res("restricted_gtex_subject.txt"), res("restricted_gtex_subject_phenotypes.txt"),
        consentMeta = Some(meta))
    }
    assert(ex.getMessage.contains("count mismatch or missing"))
  }

  test("J11: (type, var_name + consent-suffix) lookup with dup-fatal gate") {
    val vr = res("dbgap_dir/phs000424.v7.pht002742.v7.p2.GTEx_Subject.var_report.xml")
    val vars = Readers.dbgapVariables(spark, vr)
    val lk = GtexEtl.dbgapVarLookup(vars, "Subject")
    val keys = lk.select("lookup_key").collect().map(_.getString(0)).toSet
    assert(keys === Set("SEX", "CONSENT", "CONSENT.c1")) // suffix kept distinct
    intercept[IllegalArgumentException] {
      GtexEtl.dbgapVarLookup(vars.unionByName(vars), "Subject")
    }
    // overlay joins accessions onto restricted chars by lookup key
    val dd = Readers.dbgapVariables(spark,
      res("phs000424.v7.pht002742.v7.p2.GTEx_Subject.data_dict.xml"))
    val over = GtexEtl.restrictedOverlay(spark, graph,
      res("restricted_gtex_subject.txt"), res("restricted_gtex_subject_phenotypes.txt"),
      varLookup = Some(GtexEtl.dbgapVarLookup(dd, "Subject")))
    // GENDER/VISIT_AGE aren't in the public data_dict fixture → null acc;
    // the join itself must not drop or duplicate rows
    val g1111 = graph.materials.filter(col("name") === "GTEX-1111")
      .select("material_id").head().getString(0)
    val chars = over.characteristics.filter(col("material_id") === g1111)
    assert(chars.count() === 6) // 4 raw + 2 harmonized
  }

  test("S7/A5: var_report stats and enum counts parse from XML") {
    val xml = res("phs000424.v7.pht002742.v7.p2.GTEx_Subject.data_dict.xml")
    val stats = Readers.dbgapVarReportStats(spark, xml)
      .filter(col("var_name") === "SEX").head()
    assert(stats.getAs[Long]("n") === 752L)
    assert(stats.getAs[Long]("distinct_vals") === 2L)
    val enums = Readers.dbgapVarReportEnums(spark, xml).collect()
    assert(enums.length === 2)
    val byCode = enums.map(r => r.getAs[Long]("code") -> (r.getAs[String]("label"), r.getAs[Long]("count"))).toMap
    assert(byCode(1L) === ("male", 500L))
    assert(byCode(2L) === ("female", 252L))
  }

  test("S11-DSv2: custom gff3 source reads typed rows with column pruning") {
    val df = spark.read.format("gff3").load(res("annot.gff3"))
    assert(df.schema.fieldNames.toSeq ===
      Seq("seqid", "source", "ftype", "start", "end", "score", "strand", "phase", "attr"))
    assert(df.count() === 4) // no source filter at scan level
    val gene = df.filter(col("source") === "MGI" && col("ftype") === "gene").head()
    assert(gene.getAs[Long]("start") === 3205901L)
    assert(gene.getAs[Map[String, String]]("attr")("Name") === "Xkr4")
    // pruning reaches the scan: only requested fields are read
    val pruned = df.select("seqid", "ftype")
    val scanDesc = pruned.queryExecution.executedPlan.toString
    assert(scanDesc.contains("ReadFields: seqid,ftype"), scanDesc)
    assert(pruned.distinct().count() === 3)
    // filter pushdown: the source= predicate is evaluated in the reader
    val filtered = df.filter(col("source") === "MGI")
    val fDesc = filtered.queryExecution.executedPlan.toString
    assert(fDesc.contains("PushedGff3Filters: source=MGI"), fDesc)
    assert(filtered.count() === 3)
  }

  test("S11-DSv2: accepted IsNotNull on start/end is enforced in the reader") {
    // a line whose start fails the numeric parse produces null — an
    // accepted IsNotNull filter must drop it at the scan, since Spark
    // does not re-evaluate accepted filters
    val dir = java.nio.file.Files.createTempDirectory("gff3nn")
    val p = dir.resolve("bad.gff3")
    java.nio.file.Files.writeString(p,
      """##gff-version 3
        |chr1	MGI	gene	100	200	.	+	.	ID=ok
        |chr1	MGI	gene	oops	300	.	+	.	ID=bad
        |""".stripMargin)
    val df = spark.read.format("gff3").load(p.toString)
    val q = df.filter(col("start").isNotNull)
    val desc = q.queryExecution.executedPlan.toString
    assert(desc.contains("start IS NOT NULL"), desc)
    assert(q.count() === 1)
    assert(q.head().getAs[String]("seqid") === "chr1")
    // without the filter the null-start row still surfaces
    assert(df.count() === 2)
  }

  test("S8: dbGaP directory scan parses the filename grammar") {
    val idx = Readers.dbgapFileIndex(spark, res("dbgap_dir"))
    assert(idx.count() === 4)
    val row = idx.filter(col("file_name").contains("pht002742") &&
      col("metadata_type") === "data_dict").head()
    assert(row.getAs[String]("study_id") === "phs000424.v7")
    assert(row.getAs[String]("data_table_id") === "pht002742.v7")
    assert(row.getAs[String]("participant_set") === ".p2")
    assert(row.getAs[String]("study_name") === "GTEx")
    assert(row.getAs[String]("table_type") === "Subject")
  }

  test("S8: sub-study heuristic keeps exactly the data_dict-bearing study") {
    val idx = Readers.dbgapFileIndex(spark, res("dbgap_dir"))
    val main = Readers.dbgapMainStudy(idx)
    assert(main.head().getString(0) === "phs000424.v7") // phs000425 = substudy
  }

  test("S14: embedded-literal scrape parses studies via the regex state machine") {
    val s = Readers.scrapeDbgapStudies(spark, res("dbgap_studies.txt"),
      descrPrefix = "Genotype-Tissue Expression").collect()
    assert(s.length === 2)
    val gtex = s.head
    assert(gtex.getAs[String]("id") === "phs000424.v7.p2")
    assert(gtex.getAs[String]("version") === "v7")
    assert(gtex.getAs[String]("descr") === " Project (GTEx)")
    // glued "...Versions 1-7..." line split in two, both version lines kept in order
    assert(gtex.getAs[Seq[String]]("versions") ===
      Seq("Versions 1-7: passed embargo", "Version 8: pending embargo"))
    assert(gtex.getAs[Long]("n_participants") === 752L)
    assert(gtex.getAs[String]("study_type") === "Cohort, Tissue Expression")
    assert(gtex.getAs[String]("platform") === "HiSeq 2000")
    // P17 accession whitelist
    val only920 = Readers.scrapeDbgapStudies(spark, res("dbgap_studies.txt"),
      descrPrefix = "Genotype-Tissue Expression",
      accessions = Some(Seq("phs000920.v4.p2"))).collect()
    assert(only920.map(_.getString(0)).toSeq === Seq("phs000920.v4.p2"))
    // unexpected content is fatal with its line number
    intercept[IllegalArgumentException] {
      Readers.scrapeDbgapStudies(spark, res("dbgap_studies.txt"),
        descrPrefix = "NHLBI TOPMed: ").collect()
    }
  }

  test("S13: DataCite works parse builds title→DOI map with fatal gates") {
    val m = Readers.dataciteTitleToDoi(spark, res("datacite_works.json")).collect()
    assert(m.length === 3)
    val byTitle = m.map(r => r.getString(0) -> r.getString(1)).toMap
    // reference appends a trailing "." to every title (rnaseq_datasets.py:190)
    assert(byTitle("GTEx WGS phased VCF.") === "https://doi.org/10.25491/abc3")
    // version gate: the v1 DroNc-seq entry is exempt by prefix; removing
    // the exemption makes it fatal
    intercept[IllegalArgumentException] {
      Readers.dataciteTitleToDoi(spark, res("datacite_works.json"),
        exemptTitlePrefixes = Seq("Biobank Inventory"))
    }
    // duplicate-title gate
    intercept[IllegalArgumentException] {
      Readers.dataciteTitleToDoi(spark, res("datacite_dup.json"))
    }
  }

  test("restricted overlay rewrites characteristics and adds consent groups") {
    val over = GtexEtl.restrictedOverlay(spark, graph,
      res("restricted_gtex_subject.txt"), res("restricted_gtex_subject_phenotypes.txt"))
    // overlaid subjects lose public chars, gain restricted ones
    val g1111 = graph.materials.filter(col("name") === "GTEX-1111")
      .select("material_id").head().getString(0)
    val chars1111 = over.characteristics.filter(col("material_id") === g1111)
      .select("name").collect().map(_.getString(0)).toSet
    // raw restricted vars + the P9 harmonized twins (GENDER→Gender,
    // VISIT_AGE→Age); HYPERTENSION also lands in graph.diseases
    assert(chars1111 === Set("CONSENT", "GENDER", "VISIT_AGE", "HYPERTENSION",
      "Gender", "Age"))
    val disease1111 = over.diseases.filter(col("material_id") === g1111).head()
    assert(disease1111.getAs[String]("status") === "yes")
    assert(disease1111.getAs[String]("disease_id") === "DOID:10763")
    // numeric sex decode on the GTEx restricted path: "1" → male
    val gender1111 = over.characteristics.filter(
      col("material_id") === g1111 && col("name") === "Gender").head().getAs[String]("value")
    assert(gender1111 === "male")
    // blank HYPERTENSION (GTEX-4444) → unknown → no disease row
    val g4444 = graph.materials.filter(col("name") === "GTEX-4444")
      .select("material_id").head().getString(0)
    assert(over.diseases.filter(col("material_id") === g4444).count() === 0)
    // non-overlaid subjects keep public chars
    val g3333 = graph.materials.filter(col("name") === "GTEX-3333")
      .select("material_id").head().getString(0)
    val chars3333 = over.characteristics.filter(col("material_id") === g3333)
      .select("name").collect().map(_.getString(0)).toSet
    assert(chars3333 === Set("SEX", "AGE", "DTHHRDY"))
    // consent groups: codes 1 and 2 → two new groups beside "all subjects"
    assert(over.studyGroups.count() === 3)
    val consentSizes = over.groupMembers.groupBy("group_id").count()
      .join(over.studyGroups.filter(col("name").startsWith("consent")), "group_id")
      .select("name", "count").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(consentSizes === Map("consent group 1" -> 2, "consent group 2" -> 1))
  }
}
