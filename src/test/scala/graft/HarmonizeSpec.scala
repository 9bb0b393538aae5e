package graft

import org.apache.spark.sql.functions._

import graft.etl.Harmonize

/** P9 — harmonized-phenotype extraction
  * (ccmm/topmed/subjects.py:33-110; ccmm/gtex/dna_extracts.py:60-175). */
class HarmonizeSpec extends SparkTestBase {

  private def long(rows: (String, String, String)*) = {
    import spark.implicits._
    rows.toDF("material_id", "name", "value")
  }

  test("var-name dispatch covers every harmonized dimension") {
    val chars = Harmonize.harmonizedChars(long(
      ("s1", "GENDER", "Male"), ("s1", "AGE_ENROLL", "54"),
      ("s1", "VISIT_YEAR", "1999"), ("s1", "SysBP", "120"),
      ("s1", "diasbp", "80"), ("s1", "UNRELATED", "x")),
      numericSexCodes = false)
    val byName = chars.collect().map(r => r.getAs[String]("name") -> r.getAs[String]("value")).toMap
    assert(byName === Map(
      "Gender" -> "male", // TOPMed path lower-cases (subjects.py:36)
      "Age" -> "54", "Visit year" -> "1999",
      "Systolic blood pressure" -> "120", "Diastolic blood pressure" -> "80"))
  }

  test("GTEx numeric sex decode: 1→male, 2→female, other→null value") {
    val chars = Harmonize.harmonizedChars(long(
      ("s1", "GENDER", "1"), ("s2", "SEX", "2"), ("s3", "GENDER", "9")),
      numericSexCodes = true)
    val byId = chars.collect().map(r => r.getString(0) -> r.getAs[String]("value")).toMap
    assert(byId === Map("s1" -> "male", "s2" -> "female", "s3" -> null))
  }

  test("blank values produce no harmonized row; TOPMed keeps digit genders") {
    val chars = Harmonize.harmonizedChars(long(
      ("s1", "AGE", ""), ("s2", "GENDER", "1")), numericSexCodes = false)
    assert(chars.filter(col("material_id") === "s1").count() === 0)
    assert(chars.filter(col("material_id") === "s2").head().getAs[String]("value") === "1")
  }

  test("hypertension status: yes/1 → yes, non-blank → no, blank → absent") {
    val d = Harmonize.hypertension(long(
      ("s1", "HYPERTENSION", "yes"), ("s2", "HIGHBLOODPRES", "1"),
      ("s3", "HYPERTENSION", "No"), ("s4", "HYPERTENSION", ""),
      ("s5", "UNRELATED", "yes")), Harmonize.TopmedHypertensionVars)
    val byId = d.collect().map(r => r.getString(0) -> r.getString(3)).toMap
    assert(byId === Map("s1" -> "yes", "s2" -> "yes", "s3" -> "no"))
    assert(d.head().getString(1) === "Hypertension")
    assert(d.head().getString(2) === "DOID:10763")
  }

  test("conflicting hypertension vars reduce by severity, not input order") {
    val d = Harmonize.hypertension(long(
      ("s1", "HYPERTENSION", "no"), ("s1", "MHHTN", "yes")),
      Harmonize.GtexHypertensionVars)
    assert(d.head().getString(3) === "yes")
  }

  test("trigger sets are pipeline-exact: TOPMed ignores MHHTN, GTEx ignores HIGHBLOODPRES") {
    // subjects.py:45 vs dna_extracts.py:83 — a variable recognized by one
    // pipeline must not leak a disease row into the other.
    val rows = long(("s1", "MHHTN", "yes"), ("s2", "HIGHBLOODPRES", "yes"))
    val topmed = Harmonize.hypertension(rows, Harmonize.TopmedHypertensionVars)
      .collect().map(_.getString(0)).toSet
    val gtex = Harmonize.hypertension(rows, Harmonize.GtexHypertensionVars)
      .collect().map(_.getString(0)).toSet
    assert(topmed === Set("s2"))
    assert(gtex === Set("s1"))
  }

  test("harmonized descriptions match the reference's fixed strings") {
    assert(Harmonize.Descriptions("Visit year") ===
      "Year of visit, to use for longitudinal analysis")
    assert(Harmonize.Descriptions("Systolic blood pressure") ===
      "Systolic blood pressure of subject, measured in mmHg")
  }

  test("case mapping: the session's upper/lower give ICU's bytes on the special cases") {
    // the session maps case through the JVM, not ICU (Tables.session);
    // expected values recorded with spark.sql.icu.caseMappings.enabled=true
    assert(spark.conf.get("spark.sql.icu.caseMappings.enabled") === "false")
    val probes = Seq(
      // input -> (upper, lower)
      "\u00df" -> ("\u0053\u0053", "\u00df"), // ß
      "\ufb01" -> ("\u0046\u0049", "\ufb01"), // ﬁ ligature
      "\u01c6" -> ("\u01c4", "\u01c6"), // ǆ digraph
      "\u017f" -> ("\u0053", "\u017f"), // long s
      "\u0390" -> ("\u0399\u0308\u0301", "\u0390"), // ΐ
      "\u0130" -> ("\u0130", "\u0069\u0307"), // İ
      "\u039f\u0394\u039f\u03a3" -> ("\u039f\u0394\u039f\u03a3", "\u03bf\u03b4\u03bf\u03c2"), // final Σ
      "\u03bf\u03b4\u03bf\u03c2" -> ("\u039f\u0394\u039f\u03a3", "\u03bf\u03b4\u03bf\u03c2"),
      "\u1e9e" -> ("\u1e9e", "\u00df"), // capital sharp s
      "i" -> ("I", "i"))
    import spark.implicits._
    val got = probes.map(_._1).toDF("s")
      .select(col("s"), upper(col("s")), lower(col("s"))).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    probes.foreach { case (in, want) =>
      assert(got(in) === want, s"case mapping of ${in.map(c => f"U+${c.toInt}%04X").mkString(" ")}")
    }
  }
}
