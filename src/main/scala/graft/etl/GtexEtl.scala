package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.util.Try

import graft.{Checkpoints, Concurrent}
import graft.model.Dats
import graft.operators.DedupOps
import graft.sources.ValidatedTsv
import graft.sources.ValidatedTsv.{AnyValue, ColumnSpec, Cv, IntegerCv, Regex}

/** The GTEx ETL pipeline (reference bin/gtex_v7_to_dats.py, SURVEY.md §3.1)
  * re-expressed as DataFrame transformations producing the normalized DATS
  * entity tables of [[graft.model.Dats]].
  *
  * Every step is a pure DataFrame→DataFrame function; the fatal-assert
  * semantics of the reference (missing subject for a sample, type
  * inference conflict) surface as violation DataFrames gated with
  * `require(... isEmpty)` so one run reports every problem.
  */
object GtexEtl {

  /** The normalized entity graph (schemas in [[graft.model.Dats]]). */
  final case class EntityGraph(
      datasets: DataFrame,
      identifiers: DataFrame,
      studies: DataFrame,
      studyGroups: DataFrame,
      groupMembers: DataFrame,
      materials: DataFrame,
      anatomicalParts: DataFrame,
      characteristics: DataFrame,
      dimensions: DataFrame,
      distributions: DataFrame,
      dataAcquisitions: DataFrame,
      /** P9 — diseases(material_id, name, disease_id, status): per-subject
        * bearerOfDisease rows (harmonized hypertension status). */
      diseases: DataFrame,
      /** Two roles, both load-bearing for the query planner:
        * (1) the derivesFrom chain relation — `materials` projected to
        * (material_id, material_type, role, name, derives_from). On a
        * face-bearing bucketed layout this is the derives_edges table
        * (bucketed by `derives_from`, so Q4's corpus-sized FK scan
        * arrives pre-distributed on its join key); on a face-less
        * bucketed dir [[graft.io.EntityStore.loadBucketed]] derives it
        * from the bucketed materials table instead.
        * (2) presence is the BUCKETED-LAYOUT MARKER: `nonEmpty` tells
        * Q7 its input scans carry bucket distributions, flipping the
        * pivot to the per-source shape that rides them. Normally set
        * only by loadBucketed; any other producer MUST set it to the
        * real chain relation (EntityStore.chainRelation is the single
        * definition) because Q4 reads the ROWS, not just the presence.
        * View graphs and JSON re-reads leave it
        * None and the queries derive the chain from `materials`. */
      bucketedDerives: Option[DataFrame] = None) {

    /** The twelve entity tables, in field order. */
    def tables: Seq[DataFrame] = Seq(datasets, identifiers, studies, studyGroups,
      groupMembers, materials, anatomicalParts, characteristics, dimensions,
      distributions, dataAcquisitions, diseases)

    /** This graph with its twelve tables materialized once, concurrently,
      * as local checkpoints: executor-resident, computed once however many
      * queries read them. */
    def materialized: EntityGraph = Checkpoints.using { cp =>
      val t = cp.all(tables)
      EntityGraph(t(0), t(1), t(2), t(3), t(4), t(5), t(6), t(7), t(8), t(9), t(10), t(11),
        bucketedDerives)
    }(_.tables)

    /** Release the checkpoints behind every table — those [[build]],
      * [[restrictedOverlay]] and [[graft.io.DatsJsonReader.read]]
      * materialize. `catalog.clearCache()` does not reach them. */
    def unpersist(): Unit = (tables ++ bucketedDerives).foreach(DedupOps.unpersistCheckpoint)
  }

  // ---- column specs (ccmm/gtex/parsers/portal_files.py:16-108) ----

  /** FIXTURES.md §1 — subject phenotypes. */
  val subjectSpec: Seq[ColumnSpec] = Seq(
    ColumnSpec("SUBJID", Regex("^(GTEX|K)\\-[\\dA-Z]+$")),
    ColumnSpec("SEX", IntegerCv(Dats.Vocab.Sex)),
    ColumnSpec("AGE", Cv(Dats.Vocab.AgeRanges)),
    ColumnSpec("DTHHRDY", IntegerCv(Dats.Vocab.HardyScale), emptyOk = true))

  /** FIXTURES.md §2 — the load-bearing subset of the 63-column sample
    * attribute table (remaining columns are empty-ok passthroughs). */
  val sampleSpec: Seq[ColumnSpec] = Seq(
    ColumnSpec("SAMPID", Regex("^(GTEX|K)-[\\dA-Z]+-.+$")),
    ColumnSpec("SMATSSCR", IntegerCv(Dats.Vocab.SmAtsscr), emptyOk = true),
    ColumnSpec("SMCENTER", Cv(Seq("B1", "C1", "D1", "B1, A1", "C1, A1", "D1, A1")), emptyOk = true),
    ColumnSpec("SMTS"),
    ColumnSpec("SMTSD"),
    ColumnSpec("SMUBRID", Regex("^(\\d{7}|EFO_\\d+)$")),
    ColumnSpec("SMNABTCHT"),
    ColumnSpec("SMAFRZE", Cv(Dats.Vocab.SmAfrze)),
    ColumnSpec("SMRIN", emptyOk = true),
    ColumnSpec("SMMAPRT", emptyOk = true),
    ColumnSpec("SMGNSDTC", emptyOk = true))

  /** FIXTURES.md §4 — CRAM manifests (WGS variant has firecloud_id). */
  def manifestSpec(withFirecloud: Boolean): Seq[ColumnSpec] = {
    val base = Seq(
      ColumnSpec("sample_id"),
      ColumnSpec("cram_file_gcp", Regex("^gs://.*\\.cram$")),
      ColumnSpec("cram_index_gcp", Regex("^gs://.*\\.crai$")),
      ColumnSpec("cram_file_aws", Regex("^s3://.*\\.cram$")),
      ColumnSpec("cram_index_aws", Regex("^s3://.*\\.crai$")),
      ColumnSpec("cram_file_md5", Regex("^[a-f\\d]{32}$")),
      ColumnSpec("cram_file_size", Regex("^\\d+$")),
      ColumnSpec("cram_index_md5", Regex("^[a-f\\d]{32}$")))
    if (withFirecloud) base :+ ColumnSpec("firecloud_id", emptyOk = true) else base
  }

  val doiSpec: Seq[ColumnSpec] = Seq(
    ColumnSpec("sample_id"),
    ColumnSpec("Sodium_GUID_cram", Regex("^https://doi\\.org/.+$")),
    ColumnSpec("Sodium_GUID_crai", Regex("^https://doi\\.org/.+$")))

  /** P3 — subject id derived from sample id
    * (ccmm/gtex/parsers/portal_files.py:133-146; unparseable ⇒ fatal). */
  def subjectIdOf(sampid: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_extract(sampid, "^((GTEX|K)-[^-]+)", 1)

  /** P16 — SMAFRZE freeze-class filter
    * (ccmm/gtex/rna_extracts.py:193-204): the per-sample extract driver's
    * optional restriction of the sample set to one freeze class
    * (`--smafrze RNASEQ|WGS|WES|OMNI|EXCLUDE`); None = all samples. A
    * plain pushed-down predicate — no shuffle. */
  def filterSamplesBySmafrze(samples: DataFrame, smafrze: Option[String]): DataFrame =
    smafrze.fold(samples)(v => samples.filter(col("SMAFRZE") === v))

  // ---- S3: GitHub id-dump scans (github_files.py:14-56) ----

  private val SubjectIdRegex = "^(GTEX|K)-[0-9A-Z]+$"
  // the reference applies its pattern via re.match, which start-anchors
  // BOTH alternatives but leaves the first open-ended; the outer ^(...)
  // group reproduces that exactly under regexp_like's search semantics
  private val SampleIdRegex =
    "^(GTEX-[0-9A-Z]+-\\d+-([A-Za-z0-9]+-)?[A-Z]+-[A-Z0-9]+|K-\\d+-[A-Z]+-[0-9A-Z]+$)"

  val subjectIdDumpSpec: Seq[ColumnSpec] = Seq(
    ColumnSpec("Native form", Regex(SubjectIdRegex)),
    ColumnSpec("Prefixed form", Regex(SubjectIdRegex)),
    ColumnSpec("URI", emptyOk = true),
    ColumnSpec("Destination URL"),
    ColumnSpec("Outgoing URI", emptyOk = true),
    ColumnSpec("Entity Type", Regex("^individual_organism$")))

  val sampleIdDumpSpec: Seq[ColumnSpec] = Seq(
    ColumnSpec("Native form", Regex(SampleIdRegex)),
    ColumnSpec("Prefixed form", Regex(SampleIdRegex)),
    ColumnSpec("URI", emptyOk = true),
    ColumnSpec("Destination URL"),
    ColumnSpec("Outgoing URI", emptyOk = true),
    ColumnSpec("Entity Type", Regex("^biosample$")))

  val tissueIdDumpSpec: Seq[ColumnSpec] = Seq(
    ColumnSpec("Native form", Regex("^[a-zA-Z\\d+\\-_]+$")),
    ColumnSpec("Uberon id", Regex("^(\\d+|EFO_\\d+$)")), // re.match anchoring, as above

    ColumnSpec("Prefixed form", Regex("^[a-zA-Z\\d+\\-_]+$")),
    ColumnSpec("URI", emptyOk = true),
    ColumnSpec("Destination URL"),
    ColumnSpec("Outgoing URI", emptyOk = true),
    ColumnSpec("Entity Type", Regex("^gross_anatomical_structure$")))

  /** S3 — validated id-dump scans keyed by Native form
    * (github_files.py:111-124). */
  def readSubjectIdDump(spark: SparkSession, path: String): DataFrame =
    ValidatedTsv.readStrict(spark, path, subjectIdDumpSpec, "Native form")
  def readSampleIdDump(spark: SparkSession, path: String): DataFrame =
    ValidatedTsv.readStrict(spark, path, sampleIdDumpSpec, "Native form")
  def readTissueIdDump(spark: SparkSession, path: String): DataFrame =
    ValidatedTsv.readStrict(spark, path, tissueIdDumpSpec, "Native form")

  /** J2 (4-way) — cross-check a CRAM manifest against subject + sample id
    * dumps (bin/gtex_v7_to_dats.py:42-94 + :284-289): distinct manifest
    * sample ids found / not found in the sample dump, and their derived
    * subject ids (P3, unparseable ⇒ fatal) found / not found in the
    * subject dump. Four tally rows — two anti-join counts per id kind,
    * the same shuffle shape as [[reconcile]]. */
  def crossCheckIds(subjects: DataFrame, samples: DataFrame,
                    manifest: DataFrame,
                    manifestCol: String = "sample_id"): DataFrame = {
    val mSamples = manifest.select(col(manifestCol).as("id")).distinct().cache()
    val unparseable = mSamples.filter(subjectIdOf(col("id")) === "")
    require(unparseable.isEmpty, "couldn't parse GTEx subject id from sample_id(s): " +
      unparseable.collect().map(_.getString(0)).mkString(","))
    val mSubjects = mSamples.select(subjectIdOf(col("id")).as("id")).distinct().cache()
    val sampleDump = samples.select(col("Native form").as("id"))
    val subjectDump = subjects.select(col("Native form").as("id"))
    // not-found counts are complements of found — no anti-join pass needed
    val nSamples = mSamples.count()
    val nSubjects = mSubjects.count()
    val sampFound = mSamples.join(sampleDump, Seq("id"), "left_semi").count()
    val subjFound = mSubjects.join(subjectDump, Seq("id"), "left_semi").count()
    mSamples.unpersist()
    mSubjects.unpersist()
    val spark = manifest.sparkSession
    import spark.implicits._
    Seq(("samples_found", sampFound), ("samples_not_found", nSamples - sampFound),
      ("subjects_found", subjFound), ("subjects_not_found", nSubjects - subjFound))
      .toDF("category", "n")
  }

  final case class Inputs(
      subjectsPath: String, samplesPath: String,
      wgsManifestPath: String, rnaseqManifestPath: String, doiPath: String,
      dbgapDataDictPath: Option[String] = None,
      /** J10 — S14 dbGaP search-results scrape; when present the study
        * Dataset skeleton is built from data instead of constants. */
      dbgapStudiesScrapePath: Option[String] = None,
      /** P18/J9 — Subject var_report XML; when present the restricted
        * overlay names consent groups from the CONSENT enum and asserts
        * declared counts. */
      dbgapVarReportPath: Option[String] = None)

  /** P5 — normalized study accession: phsNNNNNN.vN from the full
    * phsNNNNNN.vN.pN id; no match ⇒ empty string (callers assert,
    * bin/gtex_v7_to_dats.py:301-305). */
  def normalizeStudyId(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_extract(c, "^(phs\\d+\\.v\\d+)\\.p\\d+$", 1)

  /** P18 — select THE consent variable from a Subject var_report:
    * var_name == "CONSENT" with no .cN consent-group suffix on the id;
    * anything but exactly one match is fatal
    * (bin/gtex_v7_to_dats.py:202-206). */
  def consentVariable(varReport: DataFrame): DataFrame = {
    val c = varReport.filter(col("_var_name") === "CONSENT" &&
      !regexp_like(col("_id"), lit("\\.c\\d+$")))
    val n = c.count()
    require(n == 1, s"found $n CONSENT variables in Subject var_report XML")
    c
  }

  /** J9 (GTEx side) — consent-code metadata from the P18-selected
    * variable's enum: (CONSENT code, group name, declared count)
    * (bin/gtex_v7_to_dats.py:207-221). */
  def consentMeta(spark: SparkSession, varReportPath: String): DataFrame = {
    val consentId = consentVariable(
      graft.sources.Readers.dbgapVariables(spark, varReportPath))
      .select("_id").head().getString(0)
    graft.sources.Readers.dbgapVarReportEnums(spark, varReportPath)
      .filter(col("var_id") === consentId)
      .select(col("code").cast("string").as("CONSENT"),
        col("label").as("consent_name"),
        col("count").cast("long").as("declared_count"))
  }

  /** S7/J11 — dbGaP data_dict variables as owner-dataset Dimensions
    * (public_metadata.add_study_vars; shared by the GTEx and TOPMed
    * paths). `<description>` is optional in dbGaP dicts — when absent
    * from the inferred XML schema the fallback label is used instead of
    * an unresolvable-column crash. */
  def dbgapDimensions(spark: SparkSession, xmlPath: String,
                      ownerId: org.apache.spark.sql.Column): DataFrame = {
    import graft.model.Dats.entityId
    val vars = graft.sources.Readers.dbgapVariables(spark, xmlPath)
    val description =
      if (vars.columns.contains("description")) col("description").cast("string")
      else lit(null).cast("string")
    vars.select(
      entityId("Dimension", regexp_extract(col("_id"), "^(phv\\d+)", 1)).as("dim_id"),
      ownerId.as("owner_id"),
      col("_var_name").as("name"),
      regexp_extract(col("_id"), "^(phv\\d+)", 1).as("var_acc"),
      coalesce(description,
        concat(lit("dbGaP variable "), col("_var_name"))).as("description"),
      lit(null).cast("string").as("value"))
  }

  /** J11 — dbGaP variable lookup keyed by (var_type, var_name +
    * consent-group suffix), the key restricted columns use to find their
    * dbGaP accession; duplicate keys fatal
    * (ccmm/dbgap/public_metadata.py:352-402). A data dictionary holds a
    * table's variables (KB of XML), so the lookup is collected once and
    * checked and kept on the driver: the overlay broadcasts it without
    * reading the XML again. */
  def dbgapVarLookup(vars: DataFrame, varType: String): DataFrame = {
    val hasDescription = vars.columns.contains("description")
    val description =
      if (hasDescription) col("description").cast("string")
      else lit(null).cast("string")
    val out = vars.select(
      lit(varType).as("var_type"),
      concat(col("_var_name"),
        regexp_extract(col("_id"), "(\\.c\\d+)$", 1)).as("lookup_key"),
      col("_id").as("var_id"), col("_var_name").as("var_name"),
      description.as("description"))
    val rows = out.collect()
    val dups = rows.groupBy(_.getString(1)).collect { case (k, rs) if rs.length > 1 => k }
    require(dups.isEmpty, "duplicate definition for dbGaP variable(s): " + dups.mkString(","))
    vars.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
  }

  val TopDatasetTitle = "Genotype-Tissue Expression Project (GTEx)"
  val StudyAccession = "phs000424.v7.p2"

  /** One row per non-empty cell of the `vars` columns of `df`:
    * (material_id, var_acc, name, value), with `material_id` derived from
    * `key` and `var_acc` given per column. One generator pass over `df`. */
  private def longForm(df: DataFrame, key: String, vars: Seq[(String, Column)]): DataFrame =
    df.select(Dats.entityId("Material", col(key)).as("material_id"),
        stack(lit(vars.size) +: vars.flatMap { case (name, acc) => Seq(acc, lit(name), col(name)) }: _*)
          .as(Seq("var_acc", "name", "value")))
      .filter(col("value").isNotNull && col("value") =!= "")

  private val NoAccession = lit(null).cast("string")

  /** §3.1 steps 2-9: the normalized entity graph of the portal and
    * manifest files, in three concurrent rounds of Spark actions:
    *  1. the five validated sources (S1/S2) are parsed, each ONCE, into
    *     scan checkpoints ([[ValidatedTsv.read]]); alongside, the dbGaP
    *     scrape is read, checkpointed and checked, and the data_dict's
    *     XML schema is read;
    *  2. every fatal gate runs — each source's validity, orphan samples
    *     (J1), sample type conflicts (P7), manifest rows with no sample
    *     (J3) and, with a scrape, its parse and id checks (J10/P5). A read
    *     that failed in round 1 surfaces at its own gate, and the first
    *     failing gate in the order listed here (the reference's order) is
    *     thrown with the same exception and message a sequential run
    *     would raise. Alongside the gates, the two frames most tables
    *     share are checkpointed once: the typed samples (P3/P7 columns,
    *     before the P7 filter), which the J1/P7/J3 gates read too, and the
    *     file rows (WGS ∪ RNA-Seq ⋈ DOI, J3/J4). The scan checkpoints of
    *     samples, manifests and DOIs are released once they are;
    *  3. the twelve entity tables are derived from the checkpoints, each
    *     long-form table in one generator pass per source, and
    *     materialized as local checkpoints of their own, after which every
    *     intermediate checkpoint is released.
    * A failing gate or table releases every checkpoint made so far. The
    * returned tables are executor-resident and survive
    * `catalog.clearCache()`; release them with [[EntityGraph.unpersist]]. */
  def build(spark: SparkSession, in: Inputs): EntityGraph = Checkpoints.using { cp =>
    import Dats.entityId

    // -- step 2 (§3.1): validated portal scans (S1/S2), run in round 1 --
    def read(path: String, spec: Seq[ColumnSpec], pk: String) =
      Try(ValidatedTsv.read(spark, path, spec, pk)).map { r => cp.own(r.data); r }
    lazy val subjectsR = read(in.subjectsPath, subjectSpec, "SUBJID")
    lazy val samplesR = read(in.samplesPath, sampleSpec, "SAMPID")
    lazy val wgsR = read(in.wgsManifestPath, manifestSpec(withFirecloud = true), "sample_id")
    lazy val rnaR = read(in.rnaseqManifestPath, manifestSpec(withFirecloud = false), "sample_id")
    lazy val doisR = read(in.doiPath, doiSpec, "sample_id")

    // A frame over a failed read throws only inside the gate that needs
    // it, which always follows that read's own gate.
    lazy val subjects = subjectsR.get.data

    // -- P3 + P7: sample type inference (samples.py:99-141): SMAFRZE ⇒
    //    expected type (EXCLUDE ⇒ none), SMNABTCHT ⇒ actual type; conflict
    //    between a determined actual and expected type is fatal; when the
    //    batch type determines neither DNA nor RNA the reference FALLS BACK
    //    to the expected type, so only rows where both are undetermined
    //    are dropped — and EXCLUDE rows with a determinable batch type are
    //    kept (samples.py:118-127) --
    lazy val typed = cp(samplesR.get.data
      .withColumn("SUBJID", subjectIdOf(col("SAMPID")))
      .withColumn("expected_type",
        when(col("SMAFRZE") === "RNASEQ", "RNA")
          .when(col("SMAFRZE").isin("WGS", "WES", "OMNI"), "DNA"))
      .withColumn("actual_type",
        when(upper(col("SMNABTCHT")).contains("RNA"), "RNA")
          .when(upper(col("SMNABTCHT")).contains("DNA"), "DNA")))
    // J1: sample → subject link on the derived prefix key; missing subject
    // is fatal (portal_files.py:133-146)
    def orphanGate(): Unit = {
      val orphans = typed.join(subjects.select("SUBJID"), Seq("SUBJID"), "left_anti")
      require(orphans.isEmpty, s"samples with no subject: ${orphans.select("SAMPID").collect().mkString(",")}")
    }
    def conflictGate(): Unit = {
      val conflicts = typed.filter(
        col("actual_type").isNotNull && col("expected_type").isNotNull &&
          col("actual_type") =!= col("expected_type"))
      require(conflicts.isEmpty,
        s"sample type conflicts: ${conflicts.select("SAMPID").collect().mkString(",")}")
    }
    lazy val samples = typed
      .withColumn("actual_type", coalesce(col("actual_type"), col("expected_type")))
      .filter(col("actual_type").isNotNull)

    // -- file manifests (J3/J4/P6, samples.py:177-326), U1: WGS ∪ RNA-Seq
    //    (gtex_v7_to_dats.py:385-397) --
    lazy val manifest = wgsR.get.data.withColumn("data_type", lit("WGS"))
      .unionByName(rnaR.get.data
        .withColumn("firecloud_id", lit(null).cast("string"))
        .withColumn("data_type", lit("RNA-Seq")))
    // J3 is inner with a fatal on manifest samples lacking a Material
    // (samples.py:305-307)
    def manifestOrphanGate(): Unit = {
      val manifestOrphans = manifest.join(
        samples.select(col("SAMPID").as("sample_id")), Seq("sample_id"), "left_anti")
      require(manifestOrphans.isEmpty,
        s"manifest rows with no sample: ${manifestOrphans.select("sample_id").collect().mkString(",")}")
    }
    // the file rows every file-level table reads (J4)
    lazy val files = cp(manifest.join(doisR.get.data, Seq("sample_id"), "left")
      .withColumn("dataset_id", entityId("Dataset", concat(col("sample_id"), lit("|"), col("data_type")))))

    // J10: study Dataset skeleton built FROM the S14 scrape when given
    // (ccmm/gtex/wgs_datasets.py:85-175 + bin/gtex_v7_to_dats.py:292-324)
    // — one Dataset per scraped dbGaP study, accession as identifier,
    // subject count as an "Actual Subject Count" Dimension. The dataset
    // keyed by StudyAccession keeps the same content-hash id as the
    // constant path, so file datasets and the Study link are unchanged.
    lazy val scraped: Option[DataFrame] = in.dbgapStudiesScrapePath.map { p =>
      val s = cp(graft.sources.Readers.scrapeDbgapStudies(
        spark, p, descrPrefix = "Genotype-Tissue Expression"))
      // both checks in one pass: P5, every scraped id must carry a
      // parseable phsN.vN prefix; and the study the samples/files hang off
      // MUST be in the scrape — otherwise file datasets and the Study link
      // would dangle and the writer (which walks parent→child) would
      // silently drop them
      val check = s.agg(
        sort_array(collect_list(when(normalizeStudyId(col("id")) === "", col("id")))),
        coalesce(max(col("id") === StudyAccession), lit(false))).head()
      val bad = check.getSeq[String](0)
      require(bad.isEmpty, "unable to parse study_id(s): " + bad.mkString(","))
      require(check.getBoolean(1), s"scraped dbGaP studies do not include $StudyAccession")
      s
    }

    // -- top-level skeleton ids (steps 5-7 of §3.1) --
    val topId = entityId("Dataset", lit(TopDatasetTitle))
    val studyDatasetId = entityId("Dataset", lit(StudyAccession))
    val studyId = entityId("Study", lit(StudyAccession))

    // dbGaP variables as study-dataset Dimensions (add_study_vars,
    // public_metadata.py:352-402) from the parsed data_dict XML (S7/J11)
    lazy val dictDimensions = in.dbgapDataDictPath.map(dbgapDimensions(spark, _, studyDatasetId))

    // -- round 1: the reads, the scrape and the data_dict schema; a
    //    failure here surfaces at its gate in round 2, or where the
    //    dimensions are built --
    Concurrent.run(spark)(Seq[() => Any](
      () => Try(scraped), () => Try(dictDimensions),
      () => subjectsR, () => samplesR, () => wgsR, () => rnaR, () => doisR))

    // -- round 2: the shared checkpoints (their failures surface at the
    //    gates), then the gates in the reference's order --
    Concurrent.run(spark)(Seq[() => Any](
      () => Try(typed),
      () => Try(files),
      () => subjectsR.get.requireValid(),
      () => samplesR.get.requireValid(),
      () => orphanGate(),
      () => conflictGate(),
      () => wgsR.get.requireValid(),
      () => rnaR.get.requireValid(),
      () => manifestOrphanGate(),
      () => doisR.get.requireValid(),
      () => scraped))
    cp.release(Seq(samplesR, wgsR, rnaR, doisR).map(_.get.data): _*)

    // -- U3: anatomy dedup on natural key (samples.py:31-60): shared
    //    AnatomicalPart entities become one dimension-table row --
    val anatomicalParts = samples.select(col("SMTSD"), col("SMUBRID")).distinct()
      .select(
        entityId("AnatomicalPart", col("SMTSD")).as("anatomy_id"),
        col("SMTSD").as("name"),
        when(col("SMUBRID").startsWith("EFO_"), col("SMUBRID"))
          .otherwise(concat(lit("UBERON:"), col("SMUBRID"))).as("uberon_id"))

    // -- subject materials (ccmm/gtex/subjects.py:10-80) --
    val subjectMaterials = subjects.select(
      entityId("Material", col("SUBJID")).as("material_id"),
      col("SUBJID").as("name"),
      lit("subject").as("material_type"),
      lit("donor").as("role"),
      col("SUBJID").as("subject_id"),
      lit(null).cast("string").as("derives_from"),
      lit(null).cast("string").as("anatomy_id"),
      concat(lit("GTEx subject "), col("SUBJID")).as("description"))

    // -- per typed sample, its material with derivesFrom nesting (R3,
    //    samples.py:89-152; P11 templating, samples.py:144-150) and its
    //    extract material (rna_extracts.py / dna_extracts.py; the role is
    //    what Q4 filters on), in one pass --
    val sampleMaterials = samples.select(stack(lit(2),
        entityId("Material", col("SAMPID")), col("SAMPID"), lit("sample"), lit("specimen"),
        col("SUBJID"), entityId("Material", col("SUBJID")), entityId("AnatomicalPart", col("SMTSD")),
        concat(col("SMTSD"), lit(" specimen collected from subject "), col("SUBJID")),
        entityId("Material", concat(col("SAMPID"), lit("-extract"))),
        concat(col("SAMPID"), lit(" extract")), lit("extract"), concat(col("actual_type"), lit(" extract")),
        col("SUBJID"), entityId("Material", col("SAMPID")), entityId("AnatomicalPart", col("SMTSD")),
        concat(lit("total "), col("actual_type"), lit(" extracted from "), col("SMTSD"),
          lit(" specimen collected from subject "), col("SUBJID")))
      .as(Seq("material_id", "name", "material_type", "role", "subject_id",
        "derives_from", "anatomy_id", "description")))

    // -- characteristics: subject phenotypes + the P15-selected sample
    //    QC columns (samples.py:70-86) --
    val characteristics = longForm(subjects, "SUBJID",
        Seq("SEX" -> lit("phv00169061"), "AGE" -> lit("phv00169063"),
          "DTHHRDY" -> lit("phv00169064")))
      .unionByName(longForm(samples, "SAMPID",
        Seq("SMATSSCR", "SMRIN", "SMMAPRT", "SMGNSDTC").map(_ -> NoAccession)))

    // -- file datasets from the CRAM manifests --
    val fileDatasets = files.select(
      col("dataset_id"),
      lit(null).cast("string").as("parent_dataset_id"),
      concat(col("data_type"), lit(" of sample "), col("sample_id")).as("title"),
      concat(col("data_type"), lit(" CRAM file for "), col("sample_id")).as("description"),
      lit("v7").as("version"),
      col("data_type"),
      lit(null).cast("string").as("study_id"))

    // one GCP and one AWS distribution per file; index_doi = the .crai
    // index file's DOI (the reference surfaces it as the distribution's
    // relatedIdentifier, rdflib_tabular_dump.py:199-212)
    val fileDistributions = files.select(col("dataset_id"),
      stack(lit(2), col("cram_file_gcp"), col("cram_file_aws")).as("access_url"),
      col("cram_file_size").cast("long").as("size"),
      col("cram_file_md5").as("md5"), col("Sodium_GUID_cram").as("doi"),
      col("Sodium_GUID_crai").as("index_doi"))

    val fileDimensions = files.select(
      entityId("Dimension", concat(col("dataset_id"), lit("|md5"))).as("dim_id"),
      col("dataset_id").as("owner_id"),
      lit("MD5").as("name"),
      lit(null).cast("string").as("var_acc"),
      lit("MD5 checksum of the CRAM file").as("description"),
      col("cram_file_md5").as("value"))

    // R3/provenance: DataAcquisition input = the sample's extract material
    val dataAcquisitions = files.select(col("dataset_id"),
      entityId("Material", concat(col("sample_id"), lit("-extract"))).as("input_material_id"))

    // -- top-level skeleton (steps 5-7 of §3.1) --
    val topRow = spark.range(1).select(
      topId.as("dataset_id"), lit(null).cast("string").as("parent_dataset_id"),
      lit(TopDatasetTitle).as("title"),
      lit("Common Fund Genotype-Tissue Expression Project").as("description"),
      lit("v7").as("version"), lit(null).cast("string").as("data_type"),
      lit(null).cast("string").as("study_id"))

    val studyRows = scraped match {
      case Some(s) =>
        s.select(
          entityId("Dataset", col("id")).as("dataset_id"),
          topId.as("parent_dataset_id"),
          lit(TopDatasetTitle + " WGS and RNA-Seq data").as("title"),
          concat(lit("Genotype-Tissue Expression"),
            coalesce(col("descr"), lit(""))).as("description"),
          col("version"),
          lit(null).cast("string").as("data_type"),
          when(col("id") === StudyAccession, studyId).as("study_id"))
      case None =>
        spark.range(1).select(
          studyDatasetId.as("dataset_id"), topId.as("parent_dataset_id"),
          lit(StudyAccession).as("title"),
          lit("GTEx dbGaP study").as("description"),
          lit("v7").as("version"), lit(null).cast("string").as("data_type"),
          studyId.as("study_id"))
    }
    // file datasets hang off the study dataset
    val datasets = topRow.unionByName(studyRows).unionByName(
      fileDatasets.withColumn("parent_dataset_id", studyDatasetId))

    val topIdentifier = spark.range(1).select(
      topId.as("entity_id"), lit("GTEx").as("identifier"), lit("GTEx").as("identifier_source"))
    val identifiers = scraped match {
      case Some(s) => topIdentifier.unionByName(s.select(
        entityId("Dataset", col("id")).as("entity_id"), col("id").as("identifier"),
        lit("dbGaP").as("identifier_source")))
      case None => topIdentifier.unionByName(spark.range(1).select(
        studyDatasetId.as("entity_id"), lit(StudyAccession).as("identifier"),
        lit("dbGaP").as("identifier_source")))
    }

    // scraped subject counts as Dimensions (wgs_datasets.py:130-137)
    val scrapeDimensions = scraped.map(_.select(
      entityId("Dimension", concat(col("id"), lit("|subject_count"))).as("dim_id"),
      entityId("Dataset", col("id")).as("owner_id"),
      lit("Actual Subject Count").as("name"),
      lit(null).cast("string").as("var_acc"),
      lit("The actual number of subjects entered into a clinical trial.").as("description"),
      col("n_participants").cast("string").as("value")))

    val studies = spark.range(1).select(
      studyId.as("study_id"), lit("GTEx v7").as("name"), studyDatasetId.as("dataset_id"))

    // A1/A2: the "all subjects" StudyGroup with back-links
    // (gtex_v7_to_dats.py:337-363; the subject↔group cycle lives only in
    // the serializer)
    val groupId = entityId("StudyGroup", lit("all subjects"))
    val studyGroups = spark.range(1).select(
      groupId.as("group_id"), studyId.as("study_id"), lit("all subjects").as("name"))
    val groupMembers = subjectMaterials.select(
      groupId.as("group_id"), col("material_id"))

    // without a data_dict, the known phenotype variables
    val studyDimensions = dictDimensions.getOrElse(
      Seq(("SEX", "phv00169061"), ("AGE", "phv00169063"), ("DTHHRDY", "phv00169064"))
        .map { case (n, acc) =>
          spark.range(1).select(
            entityId("Dimension", lit(acc)).as("dim_id"),
            studyDatasetId.as("owner_id"), lit(n).as("name"), lit(acc).as("var_acc"),
            concat(lit("dbGaP variable "), lit(n)).as("description"),
            lit(null).cast("string").as("value"))
        }.reduce(_ unionByName _))

    // -- round 3: every entity table materialized once; on return the
    //    intermediate checkpoints they were derived from are released --
    EntityGraph(
      datasets = datasets,
      identifiers = identifiers,
      studies = studies,
      studyGroups = studyGroups,
      groupMembers = groupMembers,
      materials = subjectMaterials.unionByName(sampleMaterials),
      anatomicalParts = anatomicalParts,
      characteristics = characteristics,
      dimensions = scrapeDimensions.fold(studyDimensions)(studyDimensions.unionByName)
        .unionByName(fileDimensions),
      distributions = fileDistributions,
      dataAcquisitions = dataAcquisitions,
      // public portal columns carry no phenotype variables to harmonize;
      // hypertension arrives with the restricted overlay (P9)
      diseases = Harmonize.emptyDiseases(spark)).materialized
  }(_.tables)

  /** §3.1 step 10 — the restricted-access overlay
    * (ccmm/gtex/dna_extracts.py:434-496 + bin/gtex_v7_to_dats.py:399-402):
    * merge restricted Subject ⋈ Subject_Phenotypes (J5, keyed on SUBJID
    * for GTEx), REWRITE the subject characteristics from the restricted
    * columns, and add per-consent StudyGroups (A1).
    *
    * Returns the updated graph: characteristics for overlaid subjects are
    * replaced wholesale (the reference rewrites the subject's
    * characteristics list); non-overlaid subjects keep their public
    * characteristics. The merged subjects and their restricted variables
    * in long form are each checkpointed once and every rewritten table
    * reads them; the four rewritten tables (characteristics, study groups,
    * members, diseases) are materialized as checkpoints, as in [[build]],
    * after which the two intermediates are released. The other eight
    * tables are `graph`'s own.
    */
  def restrictedOverlay(spark: SparkSession, graph: EntityGraph,
                        subjectTsv: String, phenotypesTsv: String,
                        consentMeta: Option[DataFrame] = None,
                        varLookup: Option[DataFrame] = None): EntityGraph = Checkpoints.using { cp =>
    import graft.model.Dats.entityId
    val (subj, _) = graft.sources.Readers.commentTsv(spark, subjectTsv)
    val (pheno, _) = graft.sources.Readers.commentTsv(spark, phenotypesTsv)
    // materialized by the first job that reads it
    val merged = cp.lazily(TopmedEtl.mergeSubjectTables(subj, pheno, "SUBJID"))

    // A1: per-consent StudyGroups over the overlaid subjects. With P18
    // consent metadata the groups take the CONSENT enum's label as name
    // and the declared count is asserted against the actual membership
    // (J9, bin/gtex_v7_to_dats.py:207-221).
    val studyId = entityId("Study", lit(StudyAccession))
    val withConsent = merged.filter(col("CONSENT").isNotNull)
    val groupName = consentMeta match {
      case Some(_) => col("consent_name")
      case None => concat(lit("consent group "), col("CONSENT"))
    }
    val consentBase = consentMeta match {
      case Some(meta) =>
        val counts = withConsent.groupBy(col("CONSENT").cast("string").as("CONSENT"))
          .agg(count(lit(1)).as("n_subjects"))
          .join(broadcast(meta), Seq("CONSENT"), "left")
        val unknown = counts.filter(col("consent_name").isNull)
        require(unknown.isEmpty, "consent code(s) missing from var_report enum: " +
          unknown.select("CONSENT").collect().map(_.getString(0)).mkString(","))
        // null-safe: a var_report enum row with no count attribute must be
        // fatal too (the reference's int(cvc['count']) raises), not
        // filtered out by a null comparison
        val mismatch = counts.filter(
          !(col("declared_count") <=> col("n_subjects")))
        require(mismatch.isEmpty, "subject count mismatch or missing declared count in consent group(s): " +
          mismatch.select("CONSENT").collect().map(_.getString(0)).mkString(","))
        withConsent.join(broadcast(meta), withConsent("CONSENT") === meta("CONSENT"))
      case None => withConsent
    }
    val consentGroups = consentBase.select(
      entityId("StudyGroup", concat(lit("consent-"), withConsent("CONSENT"))).as("group_id"),
      studyId.as("study_id"),
      groupName.as("name")).distinct()
    val consentMembers = withConsent.select(
      entityId("StudyGroup", concat(lit("consent-"), col("CONSENT"))).as("group_id"),
      entityId("Material", col("SUBJID")).as("material_id"))

    // rewrite characteristics: drop public chars of overlaid subjects,
    // add the restricted variables in long form; J11: when a dbGaP
    // variable lookup is given, each restricted column picks up its phv
    // accession by (var_name + consent-suffix) key
    val restrictedVars = merged.columns.toSeq.filterNot(c => c == "SUBJID" || c == "dbGaP_Subject_ID")
    val bareChars = longForm(merged, "SUBJID", restrictedVars.map(_ -> NoAccession))
    val rawChars = cp(varLookup match {
      case Some(lk) =>
        bareChars.drop("var_acc").join(
            broadcast(lk.select(col("lookup_key"),
              regexp_extract(col("var_id"), "^(phv\\d+)", 1).as("var_acc"))),
            col("name") === col("lookup_key"), "left")
          .select(col("material_id"), col("var_acc"), col("name"), col("value"))
      case None => bareChars
    })
    // P9: harmonized dimensions prepend the raw dbGaP variables
    // (dna_extracts.py:93-175; GTEx decodes numeric sex codes) and the
    // hypertension variables become bearerOfDisease rows
    val overlaidChars = rawChars.unionByName(
      Harmonize.harmonizedChars(rawChars, numericSexCodes = true))
    val overlaidDiseases = Harmonize.hypertension(rawChars, Harmonize.GtexHypertensionVars)
    val overlaidIds = merged.select(entityId("Material", col("SUBJID")).as("material_id"))
    val keptChars = graph.characteristics.join(
      graph.materials.filter(col("material_type") === "subject").select("material_id")
        .join(overlaidIds, Seq("material_id"), "left_semi"),
      Seq("material_id"), "left_anti")

    val Seq(characteristics, studyGroups, groupMembers, diseases) = cp.all(Seq(
      keptChars.unionByName(overlaidChars),
      graph.studyGroups.unionByName(consentGroups),
      graph.groupMembers.unionByName(consentMembers),
      graph.diseases.unionByName(overlaidDiseases)))
    graph.copy(characteristics = characteristics, studyGroups = studyGroups,
      groupMembers = groupMembers, diseases = diseases)
  }(_.tables)

  /** J2 — manifest ↔ portal reconciliation tallies
    * (bin/gtex_v7_to_dats.py:42-94): anti-join counts in both directions. */
  def reconcile(samples: DataFrame, manifest: DataFrame,
                sampleCol: String = "SAMPID", manifestCol: String = "sample_id"): DataFrame = {
    val s = samples.select(col(sampleCol).as("id")).distinct()
    val m = manifest.select(col(manifestCol).as("id")).distinct()
    val onlyS = s.join(m, Seq("id"), "left_anti").count()
    val onlyM = m.join(s, Seq("id"), "left_anti").count()
    val both = s.join(m, Seq("id"), "left_semi").count()
    val spark = samples.sparkSession
    import spark.implicits._
    Seq(("in_both", both), ("portal_only", onlyS), ("manifest_only", onlyM))
      .toDF("category", "n")
  }
}
