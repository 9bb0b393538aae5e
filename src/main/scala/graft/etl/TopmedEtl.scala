package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Dats
import graft.operators.Representative
import graft.sources.ValidatedTsv
import graft.sources.ValidatedTsv.{ColumnSpec, Regex}
import graft.sources.Readers

/** The TOPMed ETL path (reference bin/topmed_to_dats.py, SURVEY.md §3.2):
  * N studies, CRAM+VCF manifests, four GUID files merged under a global
  * filename-uniqueness assert (U2), restricted Subject⋈Subject_Phenotypes
  * merges (J5/J6), consent-group StudyGroups (A1/J9), and the
  * synthetic-subject path that picks representative values per variable
  * (A4) when only public metadata is available.
  */
object TopmedEtl {

  /** FIXTURES.md §7 — 12-col sample manifest. */
  val manifestSpec: Seq[ColumnSpec] = Seq(
    ColumnSpec("sample_id", Regex("^NWD\\d+$")),
    ColumnSpec("consent_abbrev", Regex("^(DS-CS-MDS-RD|DS-CS-RD|DS-LD|DS-LD-RD|HMB|HMB-MDS)$")),
    ColumnSpec("sex", Regex("^(male|female)$")),
    ColumnSpec("topmed_abbrev", Regex("^phs\\d+$")),
    ColumnSpec("s3_cram"), ColumnSpec("s3_crai"),
    ColumnSpec("s3_vcf", emptyOk = true), ColumnSpec("s3_csi", emptyOk = true),
    ColumnSpec("gs_cram"), ColumnSpec("gs_crai"),
    ColumnSpec("gs_vcf", emptyOk = true), ColumnSpec("gs_csi", emptyOk = true))

  val guidSpec: Seq[ColumnSpec] = Seq(
    ColumnSpec("File_Name", Regex("^NWD\\d+\\..*(\\.cram(\\.crai)?|\\.vcf\\.gz(\\.csi)?)$")),
    ColumnSpec("Google_URL"), ColumnSpec("AWS_URL"),
    ColumnSpec("Argon_GUID", emptyOk = true), ColumnSpec("Calcium_GUID", emptyOk = true),
    ColumnSpec("Helium_GUID", emptyOk = true), ColumnSpec("Xenon_GUID", emptyOk = true),
    ColumnSpec("DOS_URI", Regex("^dos://.*$")),
    ColumnSpec("md5sum", Regex("^[a-f\\d]{32}$")),
    ColumnSpec("File size"),
    ColumnSpec("Sodium_GUID", emptyOk = true))

  /** P10 — scientific-notation size cast (`1.23e9` → long). The reference
    * function has a missing-return bug (topmed/samples.py:335-339); the
    * declared semantic is implemented (SURVEY.md §7.4.3). */
  def sizeToLong(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c.cast("double").cast("long")

  /** U2 — merge the GUID files; duplicate File_Name across files is fatal
    * (bin/topmed_to_dats.py:326-335). */
  def mergeGuidFiles(spark: SparkSession, paths: Seq[String]): DataFrame = {
    val merged = paths.map(p =>
        ValidatedTsv.readStrict(spark, p, guidSpec, "File_Name"))
      .reduce(_ unionByName _)
      .withColumn("file_size", sizeToLong(col("File size")))
    val dups = merged.groupBy("File_Name").agg(count(lit(1)).as("n")).filter(col("n") > 1)
    require(dups.isEmpty,
      s"duplicate File_Name across GUID files: ${dups.collect().map(_.getString(0)).mkString(",")}")
    merged
  }

  /** J5 — Subject ⋈ Subject_Phenotypes left outer on dbGaP_Subject_ID;
    * conflicting values in shared columns are fatal, missing phenotype
    * rows are kept (ccmm/topmed/subjects.py:186-241). */
  def mergeSubjectTables(subject: DataFrame, phenotypes: DataFrame,
                         key: String = "dbGaP_Subject_ID"): DataFrame = {
    val shared = subject.columns.toSet.intersect(phenotypes.columns.toSet) - key
    val p = shared.foldLeft(phenotypes) { (df, c) => df.withColumnRenamed(c, c + "_ph") }
    val joined = subject.join(p, Seq(key), "left")
    shared.foreach { c =>
      val conflicts = joined.filter(
        col(c).isNotNull && col(c + "_ph").isNotNull && col(c) =!= col(c + "_ph"))
      require(conflicts.isEmpty, s"conflicting values for shared column $c")
    }
    shared.foldLeft(joined) { (df, c) =>
      df.withColumn(c, coalesce(col(c), col(c + "_ph"))).drop(c + "_ph")
    }
  }

  /** A1/J9 — consent-group StudyGroups: group subjects by CONSENT code,
    * join the code metadata (from the var_report enum), assert the
    * subject count against the code's declared count
    * (bin/topmed_to_dats.py:132-161). */
  def consentGroups(subjects: DataFrame, consentMeta: DataFrame): DataFrame = {
    val groups = subjects.groupBy(col("CONSENT"))
      .agg(count(lit(1)).as("n_subjects"),
        sort_array(collect_list(col("SUBJECT_ID"))).as("members"))
    val joined = groups.join(consentMeta, Seq("CONSENT"), "left")
    requireDeclaredCounts(joined)
    joined.orderBy("CONSENT")
  }

  /** J9, one rule for both pipelines (bin/topmed_to_dats.py:132-161,
    * bin/gtex_v7_to_dats.py:207-221): `counts` holds each code's
    * (CONSENT, n_subjects) left-joined to its var_report enum row
    * (consent_name, declared_count). A code missing from the enum is
    * fatal, and so is an enum row with no declared count: the
    * reference's int(cvc['count']) raises, so the comparison is
    * null-safe. */
  private[etl] def requireDeclaredCounts(counts: DataFrame): Unit = {
    def codes(df: DataFrame): String =
      df.select(col("CONSENT").cast("string")).collect().map(_.getString(0)).mkString(",")
    val unknown = counts.filter(col("consent_name").isNull)
    require(unknown.isEmpty, "consent code(s) missing from var_report enum: " + codes(unknown))
    val mismatch = counts.filter(!(col("declared_count") <=> col("n_subjects")))
    require(mismatch.isEmpty,
      "subject count mismatch or missing declared count in consent group(s): " + codes(mismatch))
  }

  /** P8 — BODY_SITE → anatomy (ccmm/topmed/dna_extracts.py:62-95):
    * value containing "blood" → blood/UBERON:0000178, exactly "saliva" →
    * saliva/UBERON:0001836, anything else fatal. Returns the input with
    * `anatomy_name` and `uberon_id` columns added; null BODY_SITE rows
    * pass through with null anatomy. */
  def withBodySiteAnatomy(samples: DataFrame,
                          bodySiteCol: String = "BODY_SITE"): DataFrame = {
    val v = lower(col(bodySiteCol))
    val named = samples
      .withColumn("anatomy_name",
        when(v.contains("blood"), "blood").when(v === "saliva", "saliva"))
      .withColumn("uberon_id",
        when(col("anatomy_name") === "blood", "UBERON:0000178")
          .when(col("anatomy_name") === "saliva", "UBERON:0001836"))
    val unknown = named.filter(col(bodySiteCol).isNotNull &&
      col(bodySiteCol) =!= "" && col("anatomy_name").isNull)
    require(unknown.isEmpty, "BODY_SITE other than Blood/Saliva in TOPMed sample " +
      s"metadata: ${unknown.select(bodySiteCol).distinct().collect().mkString(",")}")
    named
  }

  /** Synthetic-subject path (ccmm/topmed/subjects.py:157-184): with only
    * public metadata, one synthetic subject per study carries the
    * representative value of every variable — A4 pick per var. Input is
    * long-form (var_name, value) rows; SUBJECT_ID/SAMPLE_ID excluded
    * (dna_extracts.py:30-33). */
  def syntheticSubject(longForm: DataFrame): DataFrame =
    Representative.modeWithTiebreak(
      longForm.filter(!col("var_name").isin("SUBJECT_ID", "SAMPLE_ID")),
      Seq("var_name"), "value")
      .orderBy("var_name")

  /** J12 — keep only samples referenced as an input of some file dataset
    * (bin/topmed_to_dats.py:251-266). */
  def referencedSamples(samples: DataFrame, acquisitions: DataFrame,
                        sampleIdCol: String = "sample_id",
                        inputCol: String = "input_material_id"): DataFrame =
    samples.join(acquisitions.select(col(inputCol)),
      col(sampleIdCol) === col(inputCol), "left_semi")

  final case class Inputs(
      manifestPath: String,
      guidPaths: Seq[String],
      subjectTsv: String,
      phenotypesTsv: String,
      /** J6 — restricted Sample / Sample_Attributes tables; when present
        * they are merged (conflict-fatal) and drive sample→subject links,
        * P8 anatomy, and restricted sample characteristics. */
      sampleTsv: Option[String] = None,
      sampleAttributesTsv: Option[String] = None,
      /** S7/J11 — dbGaP data_dict XMLs: variables register as study
        * Dimensions (ccmm/topmed/public_metadata.add_study_vars,
        * bin/topmed_to_dats.py:176). */
      dbgapDataDictPaths: Seq[String] = Nil,
      studyAccession: String = "phs000951.v2.p2",
      studyName: String = "TOPMed study")

  /** The full TOPMed study pipeline (§3.2, bin/topmed_to_dats.py
    * process_study :170-266): restricted subjects merged J5 → consent
    * groups → sample materials from the manifest → CRAM + VCF file
    * datasets joined to the merged GUID table (J3/J4) → J12 semi-join →
    * the same normalized entity graph the GTEx pipeline produces, ready
    * for the K1 writer and Q1-Q7. */
  def build(spark: SparkSession, in: Inputs): GtexEtl.EntityGraph = {
    import graft.model.Dats.entityId

    val (subjRaw, _) = Readers.commentTsv(spark, in.subjectTsv)
    val (phenoRaw, _) = Readers.commentTsv(spark, in.phenotypesTsv)
    val subjects = mergeSubjectTables(subjRaw, phenoRaw).cache()

    val manifest = ValidatedTsv.readStrict(spark, in.manifestPath, manifestSpec, "sample_id")
    val guids = mergeGuidFiles(spark, in.guidPaths)

    // ids
    val topId = entityId("Dataset", lit("TOPMed"))
    val studyDatasetId = entityId("Dataset", lit(in.studyAccession))
    val studyId = entityId("Study", lit(in.studyAccession))

    // subject materials + characteristics (restricted path, J5 done)
    val subjectMaterials = subjects.select(
      entityId("Material", col("SUBJECT_ID")).as("material_id"),
      col("SUBJECT_ID").as("name"),
      lit("subject").as("material_type"), lit("donor").as("role"),
      col("SUBJECT_ID").as("subject_id"),
      concat(lit("TOPMed subject "), col("SUBJECT_ID")).as("description"))
    val rawSubjChars = GtexEtl.longForm(subjects, "SUBJECT_ID", subjects.columns.toSeq
      .filterNot(c => c == "SUBJECT_ID" || c == "dbGaP_Subject_ID").map(_ -> GtexEtl.NoAccession))
    // P9: harmonized phenotype dimensions alongside the raw dbGaP vars
    // (subjects.py:33-120 keeps both); TOPMed gender is plain lower-case
    val subjChars = rawSubjChars.unionByName(
      Harmonize.harmonizedChars(rawSubjChars, numericSexCodes = false), allowMissingColumns = true)
    val diseases = Harmonize.hypertension(rawSubjChars, Harmonize.TopmedHypertensionVars)

    // J6: restricted Sample ⋈ Sample_Attributes merged conflict-fatal
    // (ccmm/topmed/samples.py:189-224 — add_properties is the same
    // fatal-on-conflict merge as J5), then P8 anatomy from BODY_SITE
    val restrictedSamples: Option[DataFrame] = in.sampleTsv.map { sp =>
      val (sampleRaw, _) = Readers.commentTsv(spark, sp)
      val merged = in.sampleAttributesTsv match {
        case Some(ap) =>
          val (attsRaw, _) = Readers.commentTsv(spark, ap)
          mergeSubjectTables(sampleRaw, attsRaw, "dbGaP_Sample_ID")
        case None => sampleRaw
      }
      // duplicate SAMPLE_ID would silently fan out the manifest left join
      // below (duplicating materials, acquisitions, distributions) — make
      // it fatal, same pattern as mergeGuidFiles' File_Name guard
      // a null SAMPLE_ID can never join the manifest — fail with a
      // distinct message instead of reporting the literal string "null"
      // (or passing a single null row through to a silent no-match)
      require(merged.filter(col("SAMPLE_ID").isNull).isEmpty,
        "null SAMPLE_ID in restricted sample tables")
      val dups = merged.groupBy("SAMPLE_ID")
        .agg(count(lit(1)).as("n")).filter(col("n") > 1)
      require(dups.isEmpty,
        s"duplicate SAMPLE_ID in restricted sample tables: ${dups.collect().map(_.getString(0)).mkString(",")}")
      withBodySiteAnatomy(merged).cache()
    }

    // the reference's TOPMed material chain is THREE deep
    // (ccmm/topmed/dna_extracts.py:236-275): subject (donor) → biological
    // sample (specimen, "…specimen collected from subject X") → DNA
    // extract ("DNA from <sample>", role "DNA extract") — and file
    // datasets take the EXTRACT as their acquisition input
    // (samples.py:387,465). Without the restricted tables the manifest
    // carries no subject link or body site, so those columns stay null.
    val enriched = restrictedSamples match {
      case Some(rs) =>
        // rename before joining: the analyzer is case-insensitive, so
        // rs.SAMPLE_ID would collide with manifest.sample_id
        manifest.join(
          rs.select(col("SAMPLE_ID").as("rs_sample_id"),
            col("SUBJECT_ID").as("rs_subject_id"), col("anatomy_name")),
          col("sample_id") === col("rs_sample_id"), "left")
      case None =>
        manifest
          .withColumn("rs_subject_id", lit(null).cast("string"))
          .withColumn("anatomy_name", lit(null).cast("string"))
    }
    // ONE id expression for the extract material, shared by the material
    // rows and the acquisition inputs — divergence would make the J12
    // semi-join silently match nothing
    val extractId = entityId("Material", concat(col("sample_id"), lit("-dna")))
    val anatomyPrefix = // "blood " / "saliva " when known (dna_extracts.py:247-249)
      coalesce(concat(col("anatomy_name"), lit(" ")), lit(""))
    val subjectSuffix = concat(lit("specimen collected from subject "),
      coalesce(col("rs_subject_id"), lit("unknown")))
    val sampleMaterials = enriched.select(
      entityId("Material", col("sample_id")).as("material_id"),
      col("sample_id").as("name"),
      lit("sample").as("material_type"), lit("specimen").as("role"),
      col("rs_subject_id").as("subject_id"),
      when(col("rs_subject_id").isNotNull,
        entityId("Material", col("rs_subject_id"))).as("derives_from"),
      when(col("anatomy_name").isNotNull,
        entityId("AnatomicalPart", col("anatomy_name"))).as("anatomy_id"),
      concat(anatomyPrefix, subjectSuffix).as("description"))
    val extractMaterials = enriched.select(
      extractId.as("material_id"),
      concat(lit("DNA from "), col("sample_id")).as("name"),
      lit("extract").as("material_type"), lit("DNA extract").as("role"),
      col("rs_subject_id").as("subject_id"),
      entityId("Material", col("sample_id")).as("derives_from"),
      when(col("anatomy_name").isNotNull,
        entityId("AnatomicalPart", col("anatomy_name"))).as("anatomy_id"),
      concat(lit("DNA extracted from "), anatomyPrefix, subjectSuffix).as("description"))

    // P8: anatomy dimension table from the distinct mapped body sites
    val anatomicalParts = restrictedSamples.fold(Dats.AnatomicalParts.empty(spark)) { rs =>
      rs.filter(col("anatomy_name").isNotNull)
        .select(col("anatomy_name"), col("uberon_id")).distinct()
        .select(entityId("AnatomicalPart", col("anatomy_name")).as("anatomy_id"),
          col("anatomy_name").as("name"), col("uberon_id"))
    }

    // restricted sample characteristics in long form (samples.py:226-234)
    val sampleChars: Option[DataFrame] = restrictedSamples.map { rs =>
      val idCols = Set("dbGaP_Sample_ID", "dbGaP_Subject_ID", "SAMPLE_ID",
        "SUBJECT_ID", "anatomy_name", "uberon_id")
      GtexEtl.longForm(rs, "SAMPLE_ID",
        rs.columns.toSeq.filterNot(idCols).map(_ -> GtexEtl.NoAccession))
    }

    // CRAM + VCF file datasets (samples.py:241-476): one dataset per
    // (sample, filetype present in the manifest)
    val cram = manifest.select(col("sample_id"),
      col("s3_cram").as("s3_uri"), col("gs_cram").as("gs_uri"), lit("WGS").as("data_type"),
      substring_index(col("s3_cram"), "/", -1).as("file_name"))
    val vcf = manifest.filter(col("s3_vcf").isNotNull).select(col("sample_id"),
      col("s3_vcf").as("s3_uri"), col("gs_vcf").as("gs_uri"), lit("SNP/CNV").as("data_type"),
      substring_index(col("s3_vcf"), "/", -1).as("file_name"))
    val files = cram.unionByName(vcf)
      .join(guids.select(col("File_Name").as("guid_file_name"), col("md5sum"),
        col("file_size"), col("Sodium_GUID")),
        col("file_name") === col("guid_file_name"), "left") // J4
      // index-file DOI: the .crai / .csi companion's GUID row
      .join(guids.select(col("File_Name").as("idx_file_name"),
        col("Sodium_GUID").as("index_doi")),
        concat(col("file_name"),
          when(col("data_type") === "WGS", ".crai").otherwise(".csi"))
          === col("idx_file_name"), "left")
      .withColumn("dataset_id",
        entityId("Dataset", concat(col("sample_id"), lit("|"), col("data_type"))))

    val fileDatasets = files.select(
      col("dataset_id"), studyDatasetId.as("parent_dataset_id"),
      concat(col("data_type"), lit(" of sample "), col("sample_id")).as("title"),
      concat(col("data_type"), lit(" file for "), col("sample_id")).as("description"),
      lit("v2").as("version"), col("data_type"))
    val fileDistributions = files.select(col("dataset_id"),
        col("gs_uri").as("access_url"), col("file_size").as("size"),
        col("md5sum").as("md5"), col("Sodium_GUID").as("doi"), col("index_doi"))
      .unionByName(files.select(col("dataset_id"),
        col("s3_uri").as("access_url"), col("file_size").as("size"),
        col("md5sum").as("md5"), col("Sodium_GUID").as("doi"), col("index_doi")))
    // acquisition input = the DNA extract (samples.py:387,465)
    val dataAcquisitions = files.select(col("dataset_id"),
      extractId.as("input_material_id"))
    // MD5 Dimension per file dataset, exactly like the reference
    // (samples.py:371-379 CRAM, :449-457 VCF) — the tabular dump reads
    // MD5 from dimensions (rdflib_tabular_dump.py:166-179), and the
    // DATS JSON round-trip recovers distribution checksums from it
    val fileDimensions = files.filter(col("md5sum").isNotNull).select(
      entityId("Dimension", concat(col("dataset_id"), lit("|md5"))).as("dim_id"),
      col("dataset_id").as("owner_id"),
      lit("MD5").as("name"),
      lit("MD5 checksum of the data file").as("description"),
      col("md5sum").as("value"))

    // J12: only extracts referenced by a file dataset are emitted, and
    // only samples whose extract survived
    val referencedExtracts = referencedSamples(
      extractMaterials, dataAcquisitions, "material_id")
    val referenced = sampleMaterials.join(
        referencedExtracts.select(col("derives_from").as("ref_sample_id")),
        col("material_id") === col("ref_sample_id"), "left_semi")
      .unionByName(referencedExtracts)

    // A1: consent StudyGroups + the all-subjects group
    val allGroupId = entityId("StudyGroup", lit("all subjects"))
    val consentGroups = subjects.filter(col("CONSENT").isNotNull).select(
      entityId("StudyGroup", concat(lit("consent-"), col("CONSENT"))).as("group_id"),
      studyId.as("study_id"),
      concat(lit("consent group "), col("CONSENT")).as("name")).distinct()
    val studyGroups = spark.range(1).select(
        allGroupId.as("group_id"), studyId.as("study_id"), lit("all subjects").as("name"))
      .unionByName(consentGroups)
    val groupMembers = subjectMaterials.select(allGroupId.as("group_id"), col("material_id"))
      .unionByName(subjects.filter(col("CONSENT").isNotNull).select(
        entityId("StudyGroup", concat(lit("consent-"), col("CONSENT"))).as("group_id"),
        entityId("Material", col("SUBJECT_ID")).as("material_id")))

    val datasets = Seq(
        spark.range(1).select(
          topId.as("dataset_id"),
          lit("Trans-Omics for Precision Medicine (TOPMed)").as("title"),
          lit("NHLBI TOPMed program").as("description"),
          lit("v2").as("version")),
        spark.range(1).select(
          studyDatasetId.as("dataset_id"), topId.as("parent_dataset_id"),
          lit(in.studyAccession).as("title"), lit(in.studyName).as("description"),
          lit("v2").as("version"), studyId.as("study_id")),
        fileDatasets)
      .reduce(_.unionByName(_, allowMissingColumns = true))

    val identifiers = spark.range(1).select(
        topId.as("entity_id"), lit("TOPMed").as("identifier"), lit("TOPMed").as("identifier_source"))
      .unionByName(spark.range(1).select(
        studyDatasetId.as("entity_id"), lit(in.studyAccession).as("identifier"),
        lit("dbGaP").as("identifier_source")))

    GtexEtl.EntityGraph(
      datasets = datasets,
      identifiers = identifiers,
      studies = spark.range(1).select(studyId.as("study_id"),
        lit(in.studyName).as("name"), studyDatasetId.as("dataset_id")),
      studyGroups = studyGroups,
      groupMembers = groupMembers,
      materials = subjectMaterials.unionByName(referenced, allowMissingColumns = true),
      anatomicalParts = anatomicalParts,
      characteristics = sampleChars.fold(subjChars)(subjChars.unionByName),
      // dbGaP variables as study Dimensions, same registration as the
      // GTEx path (topmed/public_metadata.add_study_vars)
      dimensions = (in.dbgapDataDictPaths.map(GtexEtl.dbgapDimensions(spark, _, studyDatasetId))
        :+ fileDimensions).reduce(_.unionByName(_, allowMissingColumns = true)),
      distributions = fileDistributions,
      dataAcquisitions = dataAcquisitions,
      diseases = diseases).conformed
  }
}
