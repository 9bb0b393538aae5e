package graft

import org.apache.spark.sql.functions._

import graft.etl.GtexEtl
import graft.io.DatsJsonWriter
import graft.query.DatsQueries
import graft.sources.{Readers, ValidatedTsv}

class EtlSpec extends SparkTestBase {

  private def res(name: String): String =
    getClass.getResource(s"/gtex/$name").getPath

  private lazy val graph = GtexEtl.build(spark, GtexEtl.Inputs(
    subjectsPath = res("GTEx_v7_Annotations_SubjectPhenotypesDS.txt"),
    samplesPath = res("GTEx_v7_Annotations_SampleAttributesDS.txt"),
    wgsManifestPath = res("wgs_cram_manifest.txt"),
    rnaseqManifestPath = res("rnaseq_cram_manifest.txt"),
    doiPath = res("doi_manifest.txt")))

  // ---- S1 validated reader ----

  test("S1: good subject file parses with code→label mapping") {
    val r = ValidatedTsv.read(spark, res("GTEx_v7_Annotations_SubjectPhenotypesDS.txt"),
      GtexEtl.subjectSpec, "SUBJID")
    assert(r.violations.isEmpty)
    val rows = r.data.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows("GTEX-1111") === "male")
    assert(rows("GTEX-2222") === "female")
    // raw code preserved alongside the mapped label
    assert(r.data.columns.contains("SEX_raw"))
  }

  test("S1: bad file reports duplicate key, bad regex, unknown codes") {
    val r = ValidatedTsv.read(spark, res("subjects_bad.txt"), GtexEtl.subjectSpec, "SUBJID")
    val v = r.violations.collect().map(x => (x.getString(1), x.getString(2))).toSet
    assert(v.contains(("SUBJID", "duplicate_key")))
    assert(v.contains(("SUBJID", "regex")))   // BADID
    assert(v.contains(("SEX", "integer_cv"))) // code 9
    assert(v.contains(("AGE", "cv")))         // 15-19
    assert(v.contains(("DTHHRDY", "integer_cv"))) // code 7
    intercept[ValidatedTsv.ValidationFailedException] {
      ValidatedTsv.readStrict(spark, res("subjects_bad.txt"), GtexEtl.subjectSpec, "SUBJID")
    }
  }

  test("S1: an integer code past the int range is a violation, not a cast error") {
    import java.nio.file.Files
    val path = Files.createTempDirectory("subjects_long_code").resolve("subjects.txt")
    Files.writeString(path, "SUBJID\tSEX\tAGE\tDTHHRDY\nGTEX-3333\t99999999999\t60-69\t2\n")
    val r = ValidatedTsv.read(spark, path.toString, GtexEtl.subjectSpec, "SUBJID")
    val v = r.violations.collect().map(x => (x.getString(1), x.getString(2))).toSeq
    assert(v === Seq(("SEX", "integer_cv")))
    intercept[ValidatedTsv.ValidationFailedException](r.requireValid())
  }

  /** Jobs started by `body` whose stages scan a file (a `FileScanRDD`).
    * A marker job after `body` orders the count: the listener bus delivers
    * events in order, so once the marker's start arrives, so have all of
    * `body`'s. */
  private def fileScanJobs(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val marker = "file-scan-count-marker"
    val scans = new java.util.concurrent.atomic.AtomicInteger
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker))
          done.countDown()
        else if (e.stageInfos.exists(_.rddInfos.exists(_.name.contains("FileScanRDD"))))
          scans.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      spark.sparkContext.setJobDescription(marker)
      try spark.range(1).count() finally spark.sparkContext.setJobDescription(null)
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS), "marker job not seen")
      scans.get
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("S1: validation is single-pass — one CSV-scanning job per read") {
    // 11-rule sample spec: all cell rules fold into the one parse (array_compact
    // over one struct per spec), and data, violations and the strict gate
    // all read its checkpoint — the header is read on the driver. The old
    // per-spec filter+union form produced 12 scans per violations plan.
    val samples = res("GTEx_v7_Annotations_SampleAttributesDS.txt")
    assert(fileScanJobs {
      val r = ValidatedTsv.read(spark, samples, GtexEtl.sampleSpec, "SAMPID")
      assert(r.data.count() === 10)
      assert(r.violations.collect().isEmpty)
    } === 1)
    assert(fileScanJobs {
      assert(ValidatedTsv.readStrict(spark, samples, GtexEtl.sampleSpec, "SAMPID")
        .collect().length === 10)
    } === 1)
    // a failing gate builds its violation sample from the checkpoint too
    assert(fileScanJobs {
      intercept[ValidatedTsv.ValidationFailedException] {
        ValidatedTsv.readStrict(spark, res("subjects_bad.txt"), GtexEtl.subjectSpec, "SUBJID")
      }
    } === 1)
  }

  test("P16: SMAFRZE freeze-class filter restricts the sample set") {
    val samples = ValidatedTsv.readStrict(spark,
      res("GTEx_v7_Annotations_SampleAttributesDS.txt"), GtexEtl.sampleSpec, "SAMPID")
    val all = samples.count()
    val rnaseq = GtexEtl.filterSamplesBySmafrze(samples, Some("RNASEQ"))
    assert(rnaseq.count() > 0 && rnaseq.count() < all)
    assert(rnaseq.select("SMAFRZE").distinct().collect().map(_.getString(0)).toSeq
      === Seq("RNASEQ"))
    assert(GtexEtl.filterSamplesBySmafrze(samples, None).count() === all)
  }

  test("S1: header mismatch is fatal") {
    intercept[ValidatedTsv.HeaderMismatchException] {
      ValidatedTsv.read(spark, res("doi_manifest.txt"), GtexEtl.subjectSpec, "SUBJID")
    }
  }

  // ---- other readers ----

  test("S6: comment-aware TSV extracts accessions and data") {
    val (data, acc) = Readers.commentTsv(spark, res("restricted_subject.txt"))
    assert(data.count() === 3)
    val a = acc.head()
    assert(a.getString(0) === "phs000951.v2.p2")
    assert(a.getString(1) === "pht003641.v2.p2")
  }

  test("S6: the header is read on the driver — no job runs before the data is used") {
    assert(fileScanJobs {
      Readers.commentTsv(spark, res("restricted_subject.txt"))
      Readers.commentTsv(spark, res("restricted_gtex_subject_phenotypes.txt"))
    } === 0)
    val (data, _) = Readers.commentTsv(spark, res("restricted_gtex_subject_phenotypes.txt"))
    assert(data.columns.toSeq ===
      Seq("dbGaP_Subject_ID", "SUBJID", "GENDER", "VISIT_AGE", "HYPERTENSION"))
  }

  test("S11/R5: GFF3 scan filters source, maps attributes, builds adjacency") {
    val feats = Readers.gff3(spark, res("annot.gff3"),
      expectedGenomeBuild = Some("GRCm38-C57BL/6J"))
    assert(feats.count() === 3) // NCBI row filtered out
    val gene = feats.filter(col("feature_id") === "MGI:1918911").head()
    assert(gene.getAs[Map[String, String]]("attr")("Name") === "Xkr4")
    val pc = Readers.gff3ParentChild(feats).collect()
    assert(pc.length === 1)
    assert(pc.head.getString(0) === "MGI:1918911")
    intercept[IllegalArgumentException] {
      Readers.gff3(spark, res("annot.gff3"), expectedGenomeBuild = Some("GRCm39"))
    }
  }

  test("S12/U4: homolog report dedups lines and filters species") {
    val h = Readers.homologReport(spark, res("HOM_MouseHumanSequence.rpt"))
    assert(h.count() === 4) // 6 rows - 1 exact dup - 1 cat
    assert(h.filter(col("species") === "mouse").count() === 2)
  }

  test("S7: dbGaP XML variables parse via native XML source") {
    val vars = Readers.dbgapVariables(spark,
      res("phs000424.v7.pht002742.v7.p2.GTEx_Subject.data_dict.xml"))
    assert(vars.count() === 2)
    val ids = vars.select(col("_id")).collect().map(_.getString(0)).sorted
    assert(ids === Array("phv00169061.v7", "phv00169063.v7"))
  }

  // ---- GTEx ETL entity graph ----

  test("ETL: entity tables have the expected shape") {
    assert(graph.materials.filter(col("material_type") === "subject").count() === 5)
    // P7: EXCLUDE rows with a determinable batch type are kept, a batch
    // type matching neither DNA nor RNA falls back to the SMAFRZE
    // expected type, and only both-undetermined rows drop (samples.py:99-141)
    assert(graph.materials.filter(col("material_type") === "sample").count() === 9)
    assert(graph.materials.filter(col("material_type") === "extract").count() === 9)
    assert(graph.anatomicalParts.count() === 5) // U3 dedup on natural key
    assert(graph.datasets.count() === 8) // top + study + 6 file datasets
    assert(graph.distributions.count() === 12) // gs + s3 per file
    assert(graph.dataAcquisitions.count() === 6)
    assert(graph.groupMembers.count() === 5)
    assert(graph.characteristics.count() === 31)
  }

  /** The fixture inputs copied to a fresh dir, `edits` (file → lines to
    * append) applied, and `replace` (input → fixture file) substituted. */
  private def editedInputs(edits: Map[String, Seq[String]],
                           replace: Map[String, String] = Map.empty): GtexEtl.Inputs = {
    import java.nio.file.{Files, Paths, StandardOpenOption}
    val dir = Files.createTempDirectory("gtex_gates")
    val files = Seq("GTEx_v7_Annotations_SubjectPhenotypesDS.txt",
      "GTEx_v7_Annotations_SampleAttributesDS.txt", "wgs_cram_manifest.txt",
      "rnaseq_cram_manifest.txt", "doi_manifest.txt")
    files.foreach { f =>
      val to = dir.resolve(f)
      Files.copy(Paths.get(res(replace.getOrElse(f, f))), to)
      edits.get(f).foreach(ls =>
        Files.writeString(to, ls.map(_ + "\n").mkString, StandardOpenOption.APPEND))
    }
    val Seq(subj, samp, wgs, rna, doi) = files.map(f => dir.resolve(f).toString)
    GtexEtl.Inputs(subj, samp, wgs, rna, doi)
  }

  test("ETL: concurrent gates throw the first failing gate in the reference's order") {
    // two failing gates: a sample with no subject (J1) and a manifest row
    // with no sample (J3); J1 comes first, so it wins on every run
    val in = editedInputs(Map(
      "GTEx_v7_Annotations_SampleAttributesDS.txt" -> Seq(
        "GTEX-9999-0001-SM-Z\t0\tB1\tBlood\tWhole Blood\t0000178\tDNA isolation_Whole Blood\tWGS\t\t\t"),
      "wgs_cram_manifest.txt" -> Seq(Seq("GTEX-1111-0099-SM-Q",
        "gs://gtex/wgs/x.cram", "gs://gtex/wgs/x.crai", "s3://gtex/wgs/x.cram",
        "s3://gtex/wgs/x.crai", "0123456789abcdef0123456789abcdef", "1",
        "abcdef0123456789abcdef0123456789", "fc-0099").mkString("\t"))))
    (1 to 3).foreach { _ =>
      val e = intercept[IllegalArgumentException](GtexEtl.build(spark, in))
      assert(e.getMessage === "requirement failed: samples with no subject: [GTEX-9999-0001-SM-Z]")
    }
    // two files failing validation: the first one read is reported
    val bad = editedInputs(
      Map("GTEx_v7_Annotations_SampleAttributesDS.txt" -> Seq(
        "GTEX-1111-0009-SM-Y\t0\tB1\tBlood\tWhole Blood\t0000178\tDNA isolation\tNOFREEZE\t\t\t")),
      Map("GTEx_v7_Annotations_SubjectPhenotypesDS.txt" -> "subjects_bad.txt"))
    (1 to 3).foreach { _ =>
      val e = intercept[ValidatedTsv.ValidationFailedException](GtexEtl.build(spark, bad))
      assert(e.getMessage.contains("BADID"))
      assert(!e.getMessage.contains("NOFREEZE"))
    }
  }

  // Digests.table of the twelve tables, in EntityGraph field order.
  // Goldens recorded from the union-per-column build, which the
  // single-pass build must reproduce row for row.
  private val minimalDigests = Seq("1fee27a9ad09d1a6", "aff3723656ec5a31",
    "8da36e3ae06f81fd", "86e96de5d248ff2c", "5b029f858b65bcf6", "17ad4ccc369d84e8",
    "3f3c9ec0b7b77c29", "692b9fd91bc94c29", "daf907c02b4f8059", "ee9e370f5d399a3d",
    "48bc37155d34a444", "6e4777a75767ee03")
  private val fullDigests = Seq("3ff011d176c9c3ee", "f23e35a960213e4f",
    "8da36e3ae06f81fd", "86e96de5d248ff2c", "5b029f858b65bcf6", "17ad4ccc369d84e8",
    "3f3c9ec0b7b77c29", "692b9fd91bc94c29", "fe83625aa94b467f", "ee9e370f5d399a3d",
    "48bc37155d34a444", "6e4777a75767ee03")
  private val overlayDigests = Seq("3ff011d176c9c3ee", "f23e35a960213e4f",
    "8da36e3ae06f81fd", "cc113cfe7ddf15ae", "dfa1f08a3354d5fa", "17ad4ccc369d84e8",
    "3f3c9ec0b7b77c29", "7b303dcd55e96d6c", "fe83625aa94b467f", "ee9e370f5d399a3d",
    "48bc37155d34a444", "414a3c1dd2c4655b")

  test("ETL: every table matches its golden digest, after build and after the overlay") {
    assert(graph.tables.map(Digests.table) === minimalDigests)
    val full = GtexEtl.build(spark, GtexFixture.inputs)
    assert(full.tables.map(Digests.table) === fullDigests)
    val over = GtexFixture.overlay(spark, full)
    assert(over.tables.map(Digests.table) === overlayDigests)
    over.unpersist()
    full.unpersist()
  }

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def checkpointIds(tables: Seq[org.apache.spark.sql.DataFrame]): Set[Int] =
    tables.flatMap(Checkpoints.rddsOf).map(_.id).toSet

  test("ETL: build and overlay keep only their returned tables' checkpoints") {
    val before = persisted
    val full = GtexEtl.build(spark, GtexFixture.inputs)
    assert(persisted -- before === checkpointIds(full.tables))
    assert(checkpointIds(full.tables).size === 12)
    val over = GtexFixture.overlay(spark, full)
    val added = Seq(over.characteristics, over.studyGroups, over.groupMembers, over.diseases)
    assert(persisted -- before === checkpointIds(full.tables ++ added))
    assert(checkpointIds(added).size === 4)
    over.unpersist()
    full.unpersist()
    assert(persisted === before)
  }

  test("ETL: a failing gate leaves no checkpoint behind") {
    graph // built before the baseline is taken
    val before = persisted
    val orphan = editedInputs(Map("GTEx_v7_Annotations_SampleAttributesDS.txt" -> Seq(
      "GTEX-9999-0001-SM-Z\t0\tB1\tBlood\tWhole Blood\t0000178\tDNA isolation_Whole Blood\tWGS\t\t\t")))
    intercept[IllegalArgumentException](GtexEtl.build(spark, orphan))
    assert(persisted === before)
    val invalid = editedInputs(Map.empty,
      Map("GTEx_v7_Annotations_SubjectPhenotypesDS.txt" -> "subjects_bad.txt"))
    intercept[ValidatedTsv.ValidationFailedException](GtexEtl.build(spark, invalid))
    assert(persisted === before)
    // an overlay whose consent gate fails releases its own intermediates
    import spark.implicits._
    val meta = Seq(("1", "General Research Use (GRU)", 9L), ("2", "Disease-Specific (DS)", 1L))
      .toDF("CONSENT", "consent_name", "declared_count")
    intercept[IllegalArgumentException](GtexEtl.restrictedOverlay(spark, graph,
      res("restricted_gtex_subject.txt"), res("restricted_gtex_subject_phenotypes.txt"),
      consentMeta = Some(meta)))
    assert(persisted -- before === Set.empty)
  }

  test("ETL: reconciliation tallies (J2)") {
    val samples = ValidatedTsv.read(spark,
      res("GTEx_v7_Annotations_SampleAttributesDS.txt"), GtexEtl.sampleSpec, "SAMPID").data
    val manifest = ValidatedTsv.read(spark, res("wgs_cram_manifest.txt"),
      GtexEtl.manifestSpec(withFirecloud = true), "sample_id").data
    val t = GtexEtl.reconcile(samples, manifest).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(t("in_both") === 3)
    assert(t("portal_only") === 7)
    assert(t("manifest_only") === 0)
  }

  // ---- Q1-Q7 ----

  test("Q1: second-level datasets under the GTEx top dataset") {
    val rows = DatsQueries.listSecondLevelDatasets(graph, Seq(GtexEtl.TopDatasetTitle)).collect()
    assert(rows.length === 1)
    assert(rows.head.getString(0) === GtexEtl.StudyAccession)
  }

  test("Q2: dataset variables with study-accession parameter") {
    val rows = DatsQueries.listDatasetVariables(graph, Some(GtexEtl.StudyAccession)).collect()
    assert(rows.map(_.getString(2)).toSeq === Seq("SEX", "AGE", "DTHHRDY")) // ordered by var_acc
    assert(DatsQueries.listDatasetVariables(graph, Some("phs999999")).isEmpty)
  }

  test("Q3: study group members ordered by name") {
    val rows = DatsQueries.listStudyGroupMembers(graph, GtexEtl.StudyAccession, "all subjects")
      .collect()
    assert(rows.map(_.getString(2)).toSeq ===
      Seq("GTEX-1111", "GTEX-2222", "GTEX-3333", "GTEX-4444", "K-562"))
  }

  test("Q4: subject samples via extract→sample→subject chain") {
    val rows = DatsQueries.listSubjectSamples(graph).collect()
    assert(rows.length === 9)
    val bySubject = rows.groupBy(_.getString(0))
    assert(bySubject("GTEX-1111").length === 2)
    assert(bySubject("GTEX-3333").head.getString(2) === "DNA extract") // kept EXCLUDE
    assert(bySubject("GTEX-4444").length === 3) // incl. the fallback-typed sample
    assert(bySubject("K-562").head.getString(2) === "RNA extract")
  }

  test("Q5/Q6: characteristics by role") {
    assert(DatsQueries.listSubjectCharacteristics(graph).count() === 13)
    assert(DatsQueries.listSampleCharacteristics(graph).count() === 18)
  }

  test("Q7: tabular dump keeps subjects without files (left join)") {
    val dump = DatsQueries.tabularDump(graph)
    // reference column order (rdflib_tabular_dump.py:335-342) with the
    // dynamic sorted characteristic names in the middle
    assert(dump.columns.toSeq === Seq("Project", "dbGaP_Study", "Study_Group",
      "Subject_ID", "AGE", "DTHHRDY", "SEX", "Anatomical_Part",
      "Anatomical_Part_ID", "Datatype", "File_Size", "MD5_Checksum",
      "AWS_URI", "GCP_URI", "DOI", "INDEX_DOI"))
    val rows = dump.collect()
    assert(rows.length === 7) // 6 file rows + 1 file-less subject row
    assert(rows.forall(_.getString(0) === GtexEtl.TopDatasetTitle))
    assert(rows.forall(_.getString(1) === "phs000424.v7.p2"))
    assert(rows.forall(_.getString(2) === "all subjects"))
    val noFiles = rows.filter(_.isNullAt(12))
    assert(noFiles.map(_.getString(3)).toSeq === Seq("GTEX-3333"))
    val g1111 = rows.filter(_.getString(3) === "GTEX-1111")
    assert(g1111.map(_.getString(6)).distinct.toSeq === Seq("male")) // pivoted SEX
    // file rows carry the anatomy id, dual URIs, and both DOIs
    val withFiles = rows.filter(!_.isNullAt(12))
    assert(withFiles.forall(r => r.getString(8).startsWith("UBERON:")
      || r.getString(8).startsWith("EFO_")))
    assert(withFiles.forall(r => r.getString(13).startsWith("gs://")))
    assert(withFiles.forall(r => r.getString(15).endsWith("-crai")))
  }

  // ---- K1 writer ----

  test("O2: --max_output_samples truncates the study dataset's isAbout list") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // isAbout carries the EXTRACT materials, like both reference
    // pipelines (gtex_v7_to_dats.py:375-379 attaches the DNA/RNA-extract
    // nodes samples.py:143-153 returns)
    val nExtracts = graph.materials
      .filter(col("material_type") === "extract").count().toInt
    val full = mapper.readTree(DatsJsonWriter.render(graph))
      .path("hasPart").get(0).path("isAbout")
    assert(full.size() === nExtracts)
    val limited = mapper.readTree(DatsJsonWriter.render(graph, maxOutputSamples = Some(2)))
      .path("hasPart").get(0).path("isAbout")
    assert(limited.size() === 2)
    // name-sorted head, not arbitrary rows (the reference sorts by name
    // before slicing, gtex_v7_to_dats.py:375-377)
    val names = (0 until 2).map(i => limited.get(i).path("name").asText())
    assert(names === Seq("GTEX-1111-0001-SM-A extract", "GTEX-1111-0002-SM-B extract"))
  }

  test("S15: the read-back tables are executor-resident, not LocalRelations") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.LogicalRDD
    val path = java.nio.file.Files.createTempDirectory("dats_read").resolve("g.json").toString
    DatsJsonWriter.write(graph, path)
    val g = graft.io.DatsJsonReader.read(spark, path)
    val tables = Seq(g.datasets, g.identifiers, g.studies, g.studyGroups, g.groupMembers,
      g.materials, g.anatomicalParts, g.characteristics, g.dimensions, g.distributions,
      g.dataAcquisitions, g.diseases)
    assert(tables.size === 12)
    tables.foreach { t =>
      val plan = t.queryExecution.analyzed
      assert(plan.collectFirst { case l: LocalRelation => l }.isEmpty, plan.treeString)
      assert(plan.collectFirst { case r: LogicalRDD => r }.nonEmpty, plan.treeString)
    }
    assert(g.materials.count() === graph.materials.count())
    g.unpersist()
  }

  test("K1: JSON writer is deterministic and uses idrefs after first emission") {
    val s1 = DatsJsonWriter.render(graph)
    val s2 = DatsJsonWriter.render(graph)
    assert(s1 === s2)
    assert(s1.contains("\"@type\" : \"Dataset\""))
    // subject materials appear fully under the study group, then as
    // idrefs in sample derivesFrom chains
    val subjId = "material-" // id prefix
    assert(s1.contains(subjId))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val tree = mapper.readTree(s1)
    assert(tree.get("title").asText() === GtexEtl.TopDatasetTitle)
  }
}
