package graft

import org.apache.spark.sql.SparkSession

import graft.etl.GtexEtl
import graft.io.DatsJsonWriter
import graft.query.DatsQueries

/** End-to-end GTEx pipeline main — the engine's equivalent of the
  * reference's `bin/gtex_v7_to_dats.py` followed by the v0.7 query test
  * drivers (rdflib_test_gtex_public.py): validated ingest → entity graph →
  * DATS JSON-LD document → all seven canonical queries.
  *
  * Usage: runMain graft.GtexPipeline <inputDir> <outJson>
  * where inputDir holds the portal/manifest files (see FIXTURES.md §1-4).
  */
object GtexPipeline {

  private def ifExists(p: String): Option[String] =
    Some(p).filter(x => new java.io.File(x).exists())

  /** The portal/manifest input wiring for `inDir` — shared with the
    * specs' fixtures and perfbench's `gtex_etl`, which wall-clocks the
    * same build this main runs. */
  def inputs(inDir: String): GtexEtl.Inputs = GtexEtl.Inputs(
    subjectsPath = s"$inDir/GTEx_v7_Annotations_SubjectPhenotypesDS.txt",
    samplesPath = s"$inDir/GTEx_v7_Annotations_SampleAttributesDS.txt",
    wgsManifestPath = s"$inDir/wgs_cram_manifest.txt",
    rnaseqManifestPath = s"$inDir/rnaseq_cram_manifest.txt",
    doiPath = s"$inDir/doi_manifest.txt",
    dbgapDataDictPath = ifExists(
      s"$inDir/phs000424.v7.pht002742.v7.p2.GTEx_Subject.data_dict.xml"),
    // J10: study skeleton from the scrape when present
    dbgapStudiesScrapePath = ifExists(s"$inDir/dbgap_studies.txt"),
    dbgapVarReportPath = ifExists(
      s"$inDir/dbgap_dir/phs000424.v7.pht002742.v7.p2.GTEx_Subject.var_report.xml"))

  def main(args: Array[String]): Unit = {
    val inDir = args.lift(0).getOrElse("src/test/resources/gtex")
    val outJson = args.lift(1).getOrElse("/tmp/gtex_dats.json")
    val spark = Tables.session("gtex-pipeline")

    val in = inputs(inDir)
    val varReport = in.dbgapVarReportPath
    val dataDict = in.dbgapDataDictPath
    val graph = GtexEtl.build(spark, in)

    DatsJsonWriter.write(graph, outJson)
    println(s"[pipeline] wrote DATS JSON-LD to $outJson " +
      s"(${java.nio.file.Files.size(java.nio.file.Paths.get(outJson))} bytes)")

    def show(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      println(s"== $name (${df.count()} rows) ==")
      df.show(5, truncate = false)
    }
    show("Q1 second-level datasets",
      DatsQueries.listSecondLevelDatasets(graph, Seq(GtexEtl.TopDatasetTitle)))
    show("Q2 dataset variables",
      DatsQueries.listDatasetVariables(graph, Some(GtexEtl.StudyAccession)))
    show("Q3 study group members",
      DatsQueries.listStudyGroupMembers(graph, GtexEtl.StudyAccession, "all subjects"))
    show("Q4 subject samples", DatsQueries.listSubjectSamples(graph))
    show("Q5 subject characteristics", DatsQueries.listSubjectCharacteristics(graph))
    show("Q6 sample characteristics", DatsQueries.listSampleCharacteristics(graph))
    show("Q7 tabular dump", DatsQueries.tabularDump(graph))

    // restricted-access overlay (§3.1 step 10) when the files are present
    val restrictedSubj = new java.io.File(s"$inDir/restricted_gtex_subject.txt")
    if (restrictedSubj.exists()) {
      // P18/J9: consent groups named + count-checked from the var_report
      val over = GtexEtl.restrictedOverlay(spark, graph,
        restrictedSubj.getPath, s"$inDir/restricted_gtex_subject_phenotypes.txt",
        consentMeta = varReport.map(GtexEtl.consentMeta(spark, _)),
        // J11: phv accessions for restricted columns via the data_dict
        varLookup = dataDict.map(p => GtexEtl.dbgapVarLookup(
          graft.sources.Readers.dbgapVariables(spark, p), "Subject")))
      show("Q5 after restricted overlay", DatsQueries.listSubjectCharacteristics(over))
      show("study groups after overlay", over.studyGroups)
    }
    // top-level skeleton sources: the dbGaP search-results scrape (S14)
    // and the DataCite title→DOI map (S13), when present
    val scrape = new java.io.File(s"$inDir/dbgap_studies.txt")
    if (scrape.exists()) {
      show("S14 scraped dbGaP studies", graft.sources.Readers.scrapeDbgapStudies(
        spark, scrape.getPath, descrPrefix = "Genotype-Tissue Expression"))
    }
    val datacite = new java.io.File(s"$inDir/datacite_works.json")
    if (datacite.exists()) {
      show("S13 DataCite title→DOI", graft.sources.Readers.dataciteTitleToDoi(
        spark, datacite.getPath))
    }
    // dbGaP metadata-directory index (S8) when present
    val dbgapDir = new java.io.File(s"$inDir/dbgap_dir")
    if (dbgapDir.exists()) {
      val idx = graft.sources.Readers.dbgapFileIndex(spark, dbgapDir.getPath)
      show("dbGaP file index", idx)
      println("main study: " +
        graft.sources.Readers.dbgapMainStudy(idx).head().getString(0))
    }
    spark.stop()
  }
}
