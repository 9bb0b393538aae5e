package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** P9 — harmonized-phenotype extraction.
  *
  * The reference standardizes a handful of dbGaP phenotype variables into
  * fixed "harmonized" subject characteristics and a hypertension disease
  * status, dispatching on the UPPER-cased variable name
  * (ccmm/topmed/subjects.py:33-110; ccmm/gtex/dna_extracts.py:60-175):
  *
  *  - GENDER | SEX                  → "Gender" (value lower-cased; the GTEx
  *    restricted path additionally maps the numeric codes "1"→male,
  *    "2"→female, dna_extracts.py:95-101)
  *  - VISIT_AGE | AGE | AGE_ENROLL  → "Age"
  *  - VISIT_YEAR                    → "Visit year"
  *  - SYSBP                         → "Systolic blood pressure"
  *  - DIASBP                        → "Diastolic blood pressure"
  *  - HYPERTENSION | HIGHBLOODPRES | MHHTN → bearerOfDisease entry
  *    "Hypertension" (DOID:10763) with status yes ("yes"/"1"), no (any
  *    other non-blank), else unknown ⇒ no entry
  *    (subjects.py:45-50 + 96-110; dna_extracts.py:84-88 + 139-154).
  *
  * Everything is a single `when`-chain projection over the LONG-FORM
  * characteristics table (material_id, name, value) — one narrow map-side
  * pass, no shuffle except the per-subject status reduction, so the
  * operator costs one scan at any scale.
  */
object Harmonize {

  /** Harmonized dimension name for an upper-cased variable name; null for
    * variables that have no harmonized twin. */
  private def harmonizedName(u: Column): Column =
    when(u.isin("GENDER", "SEX"), "Gender")
      .when(u.isin("VISIT_AGE", "AGE", "AGE_ENROLL"), "Age")
      .when(u === "VISIT_YEAR", "Visit year")
      .when(u === "SYSBP", "Systolic blood pressure")
      .when(u === "DIASBP", "Diastolic blood pressure")

  /** Fixed descriptions the reference attaches to each harmonized
    * Dimension (subjects.py:55-93) — consumed by the JSON writer. */
  val Descriptions: Map[String, String] = Map(
    "Gender" -> "Gender of the subject",
    "Age" -> "Age of the subject",
    "Visit year" -> "Year of visit, to use for longitudinal analysis",
    "Systolic blood pressure" -> "Systolic blood pressure of subject, measured in mmHg",
    "Diastolic blood pressure" -> "Diastolic blood pressure of subject, measured in mmHg")

  /** Harmonized characteristic rows (material_id, name, value) derived
    * from long-form (material_id, name, value) characteristics. `numericSexCodes` selects
    * the GTEx-restricted gender decoding ("1"→male / "2"→female / else
    * null, dna_extracts.py:95-101) over the TOPMed plain lower-casing
    * (subjects.py:36). When several raw variables map to one harmonized
    * name (e.g. both AGE and AGE_ENROLL present) the reference keeps
    * whichever its dict iteration saw last — not reproducible; we keep the
    * MIN value per (subject, name), which is deterministic and equal
    * whenever the sources agree. */
  def harmonizedChars(longChars: DataFrame, numericSexCodes: Boolean): DataFrame = {
    val hname = harmonizedName(upper(col("name")))
    val gender =
      if (numericSexCodes)
        when(col("value") === "2", "female").when(col("value") === "1", "male")
      else lower(col("value"))
    val hvalue = when(hname === "Gender", gender).otherwise(col("value"))
    longChars
      .filter(col("value").isNotNull && col("value") =!= "")
      .select(col("material_id"), hname.as("name"), hvalue.as("value"))
      .filter(col("name").isNotNull)
      .groupBy("material_id", "name").agg(min(col("value")).as("value"))
  }

  /** Variable names that trigger a hypertension row in the TOPMed
    * restricted path (ccmm/topmed/subjects.py:45). */
  val TopmedHypertensionVars: Seq[String] = Seq("HYPERTENSION", "HIGHBLOODPRES")

  /** Variable names that trigger a hypertension row in the GTEx
    * restricted path (ccmm/gtex/dna_extracts.py:83). */
  val GtexHypertensionVars: Seq[String] = Seq("HYPERTENSION", "MHHTN")

  /** Per-subject hypertension disease rows (material_id, name, disease_id,
    * status), status ∈ {yes, no} — unknown subjects emit nothing, exactly
    * the reference's `disease['hypertension'] != "unknown"` gate
    * (subjects.py:96). Multiple hypertension variables reduce by max
    * severity rank (yes > no) so the result is order-independent.
    * `triggerVars` is the pipeline-specific variable-name set — TOPMed and
    * GTEx each recognize a different pair, so e.g. a GTEx HIGHBLOODPRES
    * column must NOT produce a disease row. */
  def hypertension(longChars: DataFrame, triggerVars: Seq[String]): DataFrame = {
    val rank = when(lower(col("value")) === "yes" || col("value") === "1", 2)
      .when(col("value").rlike("\\S"), 1)
      .otherwise(0)
    longChars
      .filter(upper(col("name")).isin(triggerVars: _*))
      .groupBy("material_id").agg(max(rank).as("rk"))
      .filter(col("rk") > 0)
      .select(col("material_id"), lit("Hypertension").as("name"),
        lit("DOID:10763").as("disease_id"),
        when(col("rk") === 2, "yes").otherwise("no").as("status"))
  }

  // ---- oracle-checkable synthetic twins over the TPC-H customer table ----

  private def syntheticLong(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.load(spark, dir, "customer").select(
      col("c_custkey").cast("long").as("material_id"),
      expr("""stack(4,
        'SEX',   CAST(c_custkey % 2 + 1 AS STRING),
        'AGE',   CAST(20 + c_custkey % 60 AS STRING),
        'SYSBP', CAST(90 + c_custkey % 80 AS STRING),
        'MHHTN', CASE CAST(c_custkey % 4 AS INT)
                 WHEN 0 THEN 'Yes' WHEN 1 THEN '1' WHEN 2 THEN 'No' ELSE '' END
        ) AS (name, value)"""))

  /** P9 as a differential query: deterministic phenotype long-form derived
    * from customer keys, run through [[harmonizedChars]] (numeric-sex
    * mode) — DuckDB replays the same when-chain. */
  def harmonizedPhenotypesQuery(spark: SparkSession, dir: String): DataFrame =
    harmonizedChars(syntheticLong(spark, dir), numericSexCodes = true)
      .orderBy("material_id", "name")

  /** Hypertension-status twin of [[hypertension]] for the oracle gate
    * (the synthetic long-form uses MHHTN, so the GTEx trigger set). */
  def hypertensionStatusQuery(spark: SparkSession, dir: String): DataFrame =
    hypertension(syntheticLong(spark, dir), GtexHypertensionVars)
      .orderBy("material_id")
}
