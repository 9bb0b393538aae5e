package graft.model

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** The DATS entity model, re-architected for Spark (SURVEY.md §1.1).
  *
  * The reference materializes one big in-memory JSON-LD object graph
  * (`DatsObj` trees with a dedup cache and deliberate cycles,
  * ccmm/dats/datsobj.py:76-172). A DataFrame world wants the inverse
  * shape: NORMALIZED ENTITY TABLES with foreign-key columns, queried
  * relationally (the reference's own query half immediately re-derives
  * this shape from the graph — sparql/v0.7 scripts). Cycles (subject ↔
  * study group, dataset ↔ data acquisition) are plain FK pairs here and
  * only become `@id` references at serialization time
  * (graft.io.DatsJsonWriter).
  *
  * The twelve entity tables are defined once, in [[Dats.EntityTables]].
  */
object Dats {

  /** One entity table: its name and its ordered columns, every one a
    * string except those in `longColumns`. */
  final case class Table(name: String, columns: Seq[String], longColumns: Set[String] = Set.empty) {
    val schema: StructType = StructType(columns.map(c =>
      StructField(c, if (longColumns(c)) LongType else StringType)))

    /** `df` fitted to this table: its columns in schema order, and a typed
      * null for each column it lacks. A column the table does not have,
      * or one of another type, fails. */
    def conform(df: DataFrame): DataFrame = {
      val alien = df.schema.fields.filterNot(f =>
        schema.fieldNames.contains(f.name) && schema(f.name).dataType == f.dataType)
      require(alien.isEmpty, s"$name has no column(s) of this name and type: " +
        alien.map(f => s"${f.name}: ${f.dataType.simpleString}").mkString(", "))
      val present = df.columns.toSet
      df.select(schema.fields.map(f =>
        if (present(f.name)) col(f.name) else lit(null).cast(f.dataType).as(f.name)).toSeq: _*)
    }

    /** The table with no rows. */
    def empty(spark: SparkSession): DataFrame =
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
  }

  /** Dataset nodes; the parent FK is hasPart⁻¹. */
  val Datasets: Table = Table("datasets", Seq("dataset_id", "parent_dataset_id", "title",
    "description", "version", "data_type", "study_id"))
  val Identifiers: Table = Table("identifiers", Seq("entity_id", "identifier", "identifier_source"))
  val Studies: Table = Table("studies", Seq("study_id", "name", "dataset_id"))
  val StudyGroups: Table = Table("study_groups", Seq("group_id", "study_id", "name"))
  /** hasMember. */
  val GroupMembers: Table = Table("group_members", Seq("group_id", "material_id"))
  val Materials: Table = Table("materials", Seq("material_id", "name", "material_type", "role",
    "subject_id", "derives_from", "anatomy_id", "description"))
  val AnatomicalParts: Table = Table("anatomical_parts", Seq("anatomy_id", "name", "uberon_id"))
  val Characteristics: Table = Table("characteristics", Seq("material_id", "var_acc", "name", "value"))
  val Dimensions: Table = Table("dimensions", Seq("dim_id", "owner_id", "name", "var_acc",
    "description", "value"))
  val Distributions: Table = Table("distributions", Seq("dataset_id", "access_url", "size", "md5",
    "doi", "index_doi"), longColumns = Set("size"))
  /** producedBy.input. */
  val DataAcquisitions: Table = Table("data_acquisitions", Seq("dataset_id", "input_material_id"))
  /** bearerOfDisease. */
  val Diseases: Table = Table("diseases", Seq("material_id", "name", "disease_id", "status"))

  /** The twelve entity tables, in [[graft.etl.GtexEtl.EntityGraph]]'s field order. */
  val EntityTables: Seq[Table] = Seq(Datasets, Identifiers, Studies, StudyGroups, GroupMembers,
    Materials, AnatomicalParts, Characteristics, Dimensions, Distributions, DataAcquisitions,
    Diseases)

  /** The 37 DATS JSON-LD types of the reference's registry
    * (ccmm/dats/datsobj.py:33-70) — retained for the serializer's
    * `@type`/`@context` derivation. */
  val TypeRegistry: Seq[String] = Seq(
    "AlternateIdentifier", "Annotation", "AnatomicalPart", "Access", "Activity",
    "BiologicalEntity", "CategoryValuesPair", "DataAcquisition", "DataAnalysis",
    "DataRepository", "DataStandard", "DataType", "Dataset", "DatasetDistribution",
    "Date", "Dimension", "Disease", "Identifier", "IdentifierInfo", "License",
    "Material", "MolecularEntity", "Organization", "Person", "PhenotypicFeature",
    "Place", "Publication", "RelatedIdentifier", "Software", "Study", "StudyGroup",
    "Taxonomy", "Treatment", "TaxonomicInformation", "GenomeLocation", "Gene",
    "GenomeBuild")

  /** Schema basenames per DATS type (ccmm/dats/datsobj.py:33-70, the
    * `schema` field minus `_schema.json`) — the context filename is this
    * name + `_sdo_context.jsonld` / `_obo_context.jsonld`. Mostly the
    * CamelCase→snake_case conversion, with the registry's irregulars
    * spelled out. License is the one `has_context: False` type. */
  val SchemaNames: Map[String, String] = {
    def snake(t: String): String =
      t.replaceAll("([a-z\\d])([A-Z])", "$1_$2").toLowerCase
    val irregular = Map(
      "AlternateIdentifier" -> "alternate_identifier_info",
      "Date" -> "date_info",
      "Identifier" -> "identifier_info",
      "RelatedIdentifier" -> "related_identifier_info",
      "TaxonomicInformation" -> "taxonomic_info")
    TypeRegistry.map(t => t -> irregular.getOrElse(t, snake(t))).toMap
  }

  /** Types with `has_context: False` in the registry. */
  val NoContextTypes: Set[String] = Set("License")

  /** Deterministic entity id: stable hash of (type, natural key) —
    * replaces the reference's throwaway uuid4 ids (datsobj.py:109-114)
    * so identical inputs give identical output documents (SURVEY.md §1.4).
    * sha1 keeps collisions out of reach at catalog scale. */
  def entityId(datsType: String, naturalKey: Column): Column =
    concat(lit(datsType.toLowerCase), lit("-"), sha1(concat_ws("|", lit(datsType), naturalKey)))

  /** SEX / DTHHRDY / tissue vocabularies used by the GTEx pipeline
    * (ccmm/gtex/parsers/portal_files.py:16-42). */
  object Vocab {
    val Sex: Map[Int, String] = Map(1 -> "male", 2 -> "female")
    val HardyScale: Map[Int, String] = Map(
      0 -> "Ventilator case", 1 -> "Violent and fast death",
      2 -> "Fast death of natural causes", 3 -> "Intermediate", 4 -> "Slow death")
    val AgeRanges: Seq[String] = Seq("20-29", "30-39", "40-49", "50-59", "60-69", "70-79")
    val SmAtsscr: Map[Int, String] = Map(0 -> "None", 1 -> "Mild", 2 -> "Moderate", 3 -> "Severe")
    val SmAfrze: Seq[String] = Seq("RNASEQ", "WGS", "WES", "OMNI", "EXCLUDE")
  }
}
