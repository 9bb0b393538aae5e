package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.GtexEtl.EntityGraph

/** The reference's seven canonical queries (SURVEY.md §2.9), re-expressed
  * as DataFrame programs over the normalized entity tables. Each replaces
  * 60-440 lines of rdflib triple navigation with a short join chain —
  * the hand-compiled scan order of the reference's rdflib_list_* scripts
  * is exactly what Catalyst derives from these declarative plans
  * (predicate pushdown on the parameters, broadcast joins on the small
  * dimension tables).
  *
  * Parameterized queries (Q2/Q3 `initBindings`) become function
  * arguments → filters, which Catalyst pushes below the joins.
  */
object DatsQueries {

  /** Q1 — list 2nd-level datasets
    * (sparql/v0.7/sparql_list_2nd_level_datasets.py:34-47): top dataset
    * by title → hasPart children → (identifier, title). */
  def listSecondLevelDatasets(g: EntityGraph, topTitles: Seq[String]): DataFrame = {
    val top = g.datasets.filter(col("title").isin(topTitles: _*))
      .select(col("dataset_id").as("top_id"))
    g.datasets.join(broadcast(top), col("parent_dataset_id") === col("top_id"))
      .join(g.identifiers, col("dataset_id") === col("entity_id"), "left")
      .select(coalesce(col("identifier"), col("title")).as("dataset_acc"), col("title"))
      .orderBy("dataset_acc")
  }

  /** Q2 — list dataset variables
    * (sparql_list_dataset_variables.py:42-58): dataset→identifier,
    * dataset→hasPart Dimension; optional study-accession parameter;
    * 2-key ORDER BY. */
  def listDatasetVariables(g: EntityGraph, studyAcc: Option[String] = None): DataFrame = {
    val dims = g.dimensions.filter(col("var_acc").isNotNull)
    val withIds = dims.join(g.identifiers, col("owner_id") === col("entity_id"))
      .select(col("identifier").as("study_acc"), col("var_acc"),
        col("name").as("var_name"), col("description"))
    studyAcc.map(a => withIds.filter(col("study_acc") === a)).getOrElse(withIds)
      .orderBy("study_acc", "var_acc")
  }

  /** Q3 — list study-group members
    * (sparql_list_study_group_members.py:47-64): dataset→producedBy
    * Study→hasPart StudyGroup (name param)→hasMember Material; 3-key
    * ORDER BY. */
  def listStudyGroupMembers(g: EntityGraph, datasetAcc: String, groupName: String): DataFrame = {
    val ds = g.identifiers.filter(col("identifier") === datasetAcc)
      .select(col("entity_id"))
    g.studies.select(col("study_id"), col("dataset_id"), col("name").as("study_name"))
      .join(broadcast(ds), col("dataset_id") === col("entity_id"))
      .join(g.studyGroups.filter(col("name") === groupName)
        .select(col("group_id"), col("study_id"), col("name").as("group_name")), "study_id")
      .join(g.groupMembers, "group_id")
      // NO role/type filter here: hasMember is untyped in the reference
      // (AGR's groups hold gene materials). Graphs that know their member
      // type pre-restrict the materials view instead (DatsGen.q3).
      .join(g.materials.select(col("material_id"), col("name").as("member_name")), "material_id")
      .select(col("study_name"), col("group_name"), col("member_name"))
      .orderBy("study_name", "group_name", "member_name")
  }

  /** Q4 — list subject samples (sparql_list_subject_samples.py:41-60):
    * DISTINCT extract→derivesFrom sample→derivesFrom subject with role
    * FILTER ∈ {DNA extract, RNA extract}. */
  def listSubjectSamples(g: EntityGraph): DataFrame = {
    // the derivesFrom chain is typed extract→sample→subject in every
    // source pipeline (sparql_list_subject_samples.py:41-60 navigates by
    // type); material_type is a LITERAL per union branch in all graph
    // producers, so these filters constant-fold the irrelevant — and at
    // scale corpus-sized — branches out of each of the three scans.
    // The FK side of the extract→sample hop is the corpus-sized scan
    // (every file's extract); on the bucketed layout it reads the
    // derives_from-bucketed edge face so it arrives already hashed on
    // sample_fk — the alias-preserved scan distribution satisfies the
    // join and EnsureRequirements plans it exchange-free against the
    // material_id-bucketed samples scan. The projection is identical
    // either way, so the answer cannot differ (both faces are the same
    // materials rows; q4's oracle twin covers both forms).
    val extracts = g.bucketedDerives.getOrElse(g.materials)
      .filter(col("material_type") === "extract" &&
        col("role").isin("DNA extract", "RNA extract"))
      .select(col("role").as("extract_role"),
        col("derives_from").as("sample_fk"))
    val samples = g.materials.filter(col("material_type") === "sample").select(
      col("material_id").as("sample_id_"), col("name").as("sample_name"),
      col("derives_from").as("subject_fk"))
    val subjects = g.materials.filter(col("material_type") === "subject").select(
      col("material_id").as("subject_id_"), col("name").as("subject_name"))
    extracts
      .join(samples, col("sample_fk") === col("sample_id_"))
      .join(subjects, col("subject_fk") === col("subject_id_"))
      .select(col("subject_name"), col("sample_name"), col("extract_role"))
      .distinct()
      .orderBy("subject_name", "sample_name", "extract_role")
  }

  /** Q5 — list subject characteristics
    * (sparql_list_subject_characteristics.py:40-57): donor-role
    * materials → characteristics; DISTINCT; ordered. */
  def listSubjectCharacteristics(g: EntityGraph): DataFrame =
    characteristicsOfRole(g, "donor")

  /** Q6 — list sample characteristics (role "specimen",
    * sparql_list_sample_characteristics.py:33-50). */
  def listSampleCharacteristics(g: EntityGraph): DataFrame =
    characteristicsOfRole(g, "specimen")

  /** Donor/specimen roles map 1:1 to the subject/sample material types in
    * every graph producer; the literal type filter folds the other union
    * branches (incl. the corpus-sized extract chain) out of the scan. */
  private val RoleType = Map("donor" -> "subject", "specimen" -> "sample")

  private def characteristicsOfRole(g: EntityGraph, role: String): DataFrame =
    g.materials.filter(col("material_type") === RoleType(role) &&
        col("role") === role)
      .select(col("material_id"), col("name").as("material_name"))
      .join(g.characteristics, "material_id")
      .select(col("material_name"), col("var_acc"), col("name").as("char_name"),
        col("value"))
      .distinct()
      .orderBy("material_name", "char_name", "value")

  /** Q7 — the denormalizing tabular dump
    * (rdflib_tabular_dump.py:12-418, ~410 LoC → one join+pivot program)
    * with the reference's exact column set and order (:335-342):
    * Project, dbGaP_Study, Study_Group, Subject_ID, <sorted dynamic
    * characteristic names — including disease names valued by their
    * status, :146-149>, Anatomical_Part, Anatomical_Part_ID, Datatype,
    * File_Size, MD5_Checksum, AWS_URI, GCP_URI, DOI, INDEX_DOI.
    *
    * Row grain is (study dataset × study group × member subject × file);
    * subjects with no files still emit one padded row (:371-377). Files
    * attach to subjects through the acquisition input material's
    * subject_id key — one hop regardless of how deep the derivesFrom
    * chain is (both GTEx and TOPMed acquisitions key on the extract
    * material, which carries subject_id and anatomy directly).
    *
    * Scale shape: the only driver-side step is collecting the DISTINCT
    * characteristic names for the pivot header (bounded by the number of
    * dbGaP variables, not rows; the reference scans the whole graph for
    * the same set). Everything else is joins keyed on subject/dataset
    * ids; the pivot is a single shuffle on the subject material.
    * `charNames` can be passed explicitly to skip the distinct pass. */
  def tabularDump(g: EntityGraph, charNames: Option[Seq[String]] = None): DataFrame = {
    val subjects = g.materials
      .filter(col("material_type") === "subject" && col("role") === "donor")
      .select(col("material_id").as("subject_mid"), col("name").as("subject_name"))

    // characteristics ∪ disease-status rows feed both the dynamic header
    // and the pivot (rdflib_tabular_dump.py:98-149). The header discovery
    // pass keeps the union (it's bounded and collect-only) …
    val names = charNames.getOrElse(
      g.characteristics.select(col("material_id"), col("name"))
        .unionByName(g.diseases.select(col("material_id"), col("name")))
        .join(subjects, col("material_id") === col("subject_mid"))
        .select("name").distinct().collect().map(_.getString(0)).toSeq).sorted
    // … and the PIVOT's shape follows the layout under it (r18, closing
    // the r17 verdict's q7-direct regression):
    //
    // On the BUCKETED materialized layout the pivot runs per source
    // table, each side left-joined to the scaffold independently: a
    // union destroys the scan partitioning, while the per-source shape
    // lets the layout (characteristics/diseases/materials all bucketed
    // on material_id) plan the subject joins and both pivot aggregates
    // with ZERO exchanges — the pivot's hashpartitioning(subject_mid)
    // shuffle of the corpus-sized characteristics relation was q7-mat's
    // dominant remaining cost at sf10 (39.5 s, r16). NOT merged with a
    // full outer join first: FullOuter coalesces the key, so its output
    // partitioning is unknown and the scaffold join re-shuffles the
    // merged pivot — two left joins from the scaffold are
    // result-identical (each pivot is one row per subject, so no
    // fanout; absent rows null-pad either way) and every hop preserves
    // the subject-key distribution. Each characteristic name lives in
    // exactly one source, so the per-name column merge is a coalesce,
    // not a conflict resolution.
    //
    // On VIEW graphs (and JSON re-reads) there is no scan
    // partitioning to ride, so splitting the pivot only buys a second
    // full aggregation + a second scaffold join — measured as the r17
    // sf0.1 direct regression (4.0 → 6.4 s) — and the union pivot's
    // single shuffle is strictly better; both forms answer identically
    // (same rows pivoted over disjoint name sets, hash-proven against
    // the one oracle).
    //
    // Positional __a<i>/__b<i> names right after each pivot: the
    // analyzer is case-insensitive, so e.g. raw GENDER and harmonized
    // Gender would be unresolvable by name; the final select aliases
    // them back.
    def pivotOver(rows: DataFrame, tag: String): DataFrame =
      rows.join(subjects.select(col("subject_mid")),
          col("material_id") === col("subject_mid"))
        .groupBy(col("subject_mid")).pivot("name", names).agg(first(col("value")))
        .toDF("subject_mid" +: names.indices.map(i => s"__$tag$i"): _*)
    val charRows = g.characteristics
      .select(col("material_id"), col("name"), col("value"))
    val diseaseRows = g.diseases
      .select(col("material_id"), col("name"), col("status").as("value"))
    val (withPivots, pivotCols) =
      if (g.bucketedDerives.nonEmpty) {
        val charsPivot = pivotOver(charRows, "a")
        val diseasePivot = pivotOver(diseaseRows, "b")
        ((df: DataFrame) => df
           .join(charsPivot, Seq("subject_mid"), "left")
           .join(diseasePivot, Seq("subject_mid"), "left"),
         names.indices.map(i =>
           coalesce(col(s"__a$i"), col(s"__b$i")).as(names(i))))
      } else {
        val unionPivot = pivotOver(charRows.unionByName(diseaseRows), "a")
        ((df: DataFrame) => df.join(unionPivot, Seq("subject_mid"), "left"),
         names.indices.map(i => col(s"__a$i").as(names(i))))
      }

    // scaffold: study dataset → project title + dbGaP accession → groups
    // → member subjects (:345-360)
    val studyDatasets = g.studies.select(col("study_id"), col("dataset_id"))
      .join(g.datasets.select(col("dataset_id"), col("parent_dataset_id")), "dataset_id")
      .join(g.identifiers.select(col("entity_id"), col("identifier").as("dbgap_study")),
        col("dataset_id") === col("entity_id"), "left")
      .join(g.datasets.select(col("dataset_id").as("parent_id"), col("title").as("project")),
        col("parent_dataset_id") === col("parent_id"), "left")
      .select(col("study_id"), col("project"), col("dbgap_study"))
    val scaffold = studyDatasets
      .join(g.studyGroups.select(col("group_id"), col("study_id"),
        col("name").as("study_group")), "study_id")
      .join(g.groupMembers, "group_id")
      .join(subjects, col("material_id") === col("subject_mid"))

    // file chain: acquisition input material carries subject_id + anatomy;
    // AWS/GCP distributions split by URI scheme (:276-320)
    // acquisition inputs are extracts — the literal material_type filter
    // folds the subject/sample branches out of this corpus-sized scan
    val inputs = g.materials.filter(col("material_type") === "extract")
      .select(col("material_id").as("input_id"),
        col("subject_id").as("file_subject_key"), col("anatomy_id"))
    val aws = g.distributions.filter(col("access_url").startsWith("s3://"))
      .select(col("dataset_id"), col("access_url").as("aws_uri"),
        col("size").as("file_size"), col("md5"), col("doi"), col("index_doi"))
    val gcp = g.distributions.filter(col("access_url").startsWith("gs://"))
      .select(col("dataset_id"), col("access_url").as("gcp_uri"))
    // join order: the three dataset_id hops first (acquisitions,
    // datasets, both distribution sides — co-located and exchange-free
    // on the bucketed materialized layout), THEN the one key change to
    // the input material. The material hop last means exactly one
    // shuffle of the assembled file relation instead of shuffling it on
    // input_material_id first and re-shuffling everything back onto
    // dataset_id for the next three joins. All hops are 1:1-or-left on
    // non-null keys, so inner/left reordering is result-identical.
    val files = g.dataAcquisitions
      .join(g.datasets.select(col("dataset_id"), col("data_type")), "dataset_id")
      .join(aws, Seq("dataset_id"), "left")
      .join(gcp, Seq("dataset_id"), "left")
      .join(inputs, col("input_material_id") === col("input_id"))
      .join(g.anatomicalParts.select(col("anatomy_id"),
        col("name").as("anatomical_part"),
        col("uberon_id").as("anatomical_part_id")), Seq("anatomy_id"), "left")
      .filter(col("file_subject_key").isNotNull)

    withPivots(scaffold)
      .join(files, col("file_subject_key") === col("subject_name"), "left")
      .select(Seq(col("project").as("Project"),
        col("dbgap_study").as("dbGaP_Study"),
        col("study_group").as("Study_Group"),
        col("subject_name").as("Subject_ID")) ++ pivotCols ++ Seq(
        col("anatomical_part").as("Anatomical_Part"),
        col("anatomical_part_id").as("Anatomical_Part_ID"),
        col("data_type").as("Datatype"),
        col("file_size").as("File_Size"),
        col("md5").as("MD5_Checksum"),
        col("aws_uri").as("AWS_URI"), col("gcp_uri").as("GCP_URI"),
        col("doi").as("DOI"), col("index_doi").as("INDEX_DOI")): _*)
      .orderBy(col("dbGaP_Study"), col("Study_Group"), col("Subject_ID"),
        col("Anatomical_Part").asc_nulls_first,
        col("Datatype").asc_nulls_first, col("AWS_URI").asc_nulls_first)
  }
}
