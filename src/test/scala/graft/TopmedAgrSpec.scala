package graft

import org.apache.spark.sql.functions._

import graft.etl.{AgrMgdEtl, TopmedEtl}
import graft.operators.Representative
import graft.sources.{Readers, ValidatedTsv}

class TopmedAgrSpec extends SparkTestBase {

  private def res(name: String): String = getClass.getResource(s"/$name").getPath

  test("S5: TOPMed manifest validates; empty VCF columns allowed") {
    val m = ValidatedTsv.readStrict(spark, res("topmed/manifest.txt"),
      TopmedEtl.manifestSpec, "sample_id")
    assert(m.count() === 3)
    assert(m.filter(col("s3_vcf").isNull).count() === 1) // NWD100002 has no VCF
  }

  test("U2/P10: GUID files merge with uniqueness assert and sci-notation size cast") {
    val merged = TopmedEtl.mergeGuidFiles(spark, Seq(
      res("topmed/topmed-cram.tsv"), res("topmed/topmed-crai.tsv"),
      res("topmed/topmed-vcf.tsv"), res("topmed/topmed-vcfcsi.tsv")))
    assert(merged.count() === 5)
    val sci = merged.filter(col("File_Name") === "NWD100002.b38.irc.v1.cram").head()
    assert(sci.getAs[Long]("file_size") === 12300000000L) // 1.23e10
    // duplicate File_Name across files must be fatal
    intercept[IllegalArgumentException] {
      TopmedEtl.mergeGuidFiles(spark, Seq(
        res("topmed/topmed-cram.tsv"), res("topmed/topmed-cram.tsv"))).count()
    }
  }

  test("J5: subject ⋈ phenotypes left-outer merge keeps all subjects") {
    val (subj, _) = Readers.commentTsv(spark, res("gtex/restricted_subject.txt"))
    val (pheno, _) = Readers.commentTsv(spark, res("topmed/restricted_subject_phenotypes.txt"))
    val merged = TopmedEtl.mergeSubjectTables(subj, pheno)
    assert(merged.count() === 3)
    assert(merged.columns.contains("GENDER") && merged.columns.contains("CONSENT"))
    val su1 = merged.filter(col("SUBJECT_ID") === "SU001").head()
    assert(su1.getAs[String]("HYPERTENSION") === "yes")
  }

  test("A1/J9: consent groups with declared-count assert") {
    val (subj, _) = Readers.commentTsv(spark, res("gtex/restricted_subject.txt"))
    import spark.implicits._
    val meta = Seq(("1", "GRU", 2L), ("2", "HMB", 1L))
      .toDF("CONSENT", "consent_name", "declared_count")
    val groups = TopmedEtl.consentGroups(subj, meta).collect()
    assert(groups.length === 2)
    assert(groups.head.getAs[Long]("n_subjects") === 2)
    val badMeta = Seq(("1", "GRU", 5L)).toDF("CONSENT", "consent_name", "declared_count")
    intercept[IllegalArgumentException] { TopmedEtl.consentGroups(subj, badMeta).count() }
    // a consent code missing from the enum, and an enum row with no
    // declared count, are fatal too
    val missingCode = Seq(("1", "GRU", 2L)).toDF("CONSENT", "consent_name", "declared_count")
    intercept[IllegalArgumentException] { TopmedEtl.consentGroups(subj, missingCode).count() }
    val noCount = Seq(("1", "GRU", Some(2L)), ("2", "HMB", None))
      .toDF("CONSENT", "consent_name", "declared_count")
    intercept[IllegalArgumentException] { TopmedEtl.consentGroups(subj, noCount).count() }
  }

  test("A4: synthetic subject picks mode-with-tiebreak per variable") {
    import spark.implicits._
    val long = Seq(
      ("GENDER", "male"), ("GENDER", "male"), ("GENDER", "female"),
      ("RACE", "B"), ("RACE", "A"), // tie → alphabetical
      ("SUBJECT_ID", "SU001")).toDF("var_name", "value")
    val picked = TopmedEtl.syntheticSubject(long).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(picked === Map("GENDER" -> "male", "RACE" -> "A")) // SUBJECT_ID excluded
  }

  test("J12: referenced-sample semi-join") {
    import spark.implicits._
    val samples = Seq("NWD100001", "NWD100002", "NWD100003").toDF("sample_id")
    val acqs = Seq("NWD100001", "NWD100003").toDF("input_material_id")
    assert(TopmedEtl.referencedSamples(samples, acqs).count() === 2)
  }

  test("S9/P13: AGR BGI genes with SO lookup and taxon filter") {
    val genes = AgrMgdEtl.bgiGenes(spark, res("agr/MGI_BGI.json"))
    assert(genes.count() === 3) // human gene filtered out
    val xkr4 = genes.filter(col("gene_id") === "MGI:1918911").head()
    assert(xkr4.getAs[String]("so_name") === "Protein Coding Gene")
    assert(xkr4.getAs[String]("strand") === "reverse")
  }

  test("J7/A7: gene→disease broadcast join with distinct DOid collapse") {
    val genes = AgrMgdEtl.bgiGenes(spark, res("agr/MGI_BGI.json"))
    val diseases = Readers.agrJson(spark, res("agr/MGI_disease.json"))
    val rows = AgrMgdEtl.geneDiseases(genes, diseases).collect()
    val gd = rows.map(r => r.getString(0) -> r.getSeq[String](2)).toMap
    assert(gd("MGI:1918911") === Seq("DOID:0001", "DOID:0002")) // duplicate DOID collapsed
    assert(gd("MGI:2222222") === Seq.empty)
    // P13: evidence codes mapped to ECO ids (IMP→0000315, IDA→0000314)
    val eco = rows.map(r => r.getString(0) ->
      r.getSeq[String](r.fieldIndex("eco_ids"))).toMap
    assert(eco("MGI:1918911") === Seq("ECO_0000314", "ECO_0000315"))
  }

  test("S10/J7: orthology with preamble skip and human-taxon filter") {
    val genes = AgrMgdEtl.bgiGenes(spark, res("agr/MGI_BGI.json"))
    val go = AgrMgdEtl.geneOrthologs(spark, genes, res("agr/orthology.tsv")).collect()
      .map(r => r.getString(0) -> r.getSeq[String](2)).toMap
    assert(go("MGI:1918911") === Seq("HGNC:100", "HGNC:101")) // 2 human orthologs
    assert(go("MGI:3333333") === Seq.empty) // rat-only ortholog filtered
  }

  test("P14: Dbxref split to (source, id) rows") {
    val feats = Readers.gff3(spark, res("gtex/annot.gff3"))
    val x = AgrMgdEtl.dbxrefs(feats.filter(col("attr")("Dbxref").isNotNull)).collect()
      .map(r => (r.getString(1), r.getString(2))).toSet
    assert(x === Set(("NCBI_Gene", "497097"), ("ENSEMBL", "ENSMUSG00000051951")))
  }

  test("J8/A8: mouse→human homolog two-hop with coverage tallies") {
    val rpt = Readers.homologReport(spark, res("gtex/HOM_MouseHumanSequence.rpt"))
    val hom = AgrMgdEtl.mouseHumanHomologs(rpt)
    val byGene = hom.collect().map(r => r.getString(0) -> r.getSeq[String](2)).toMap
    assert(byGene("MGI:1918911") === Seq("114786", "114787"))
    assert(byGene("MGI:2222222") === Seq.empty)
    val cov = AgrMgdEtl.homologCoverage(hom).head()
    assert(cov.getLong(0) === 2 && cov.getLong(1) === 1 && cov.getLong(2) === 1)
  }

  test("AGR graph: gene dataset assembly with annotation characteristics") {
    val g = AgrMgdEtl.build(spark, AgrMgdEtl.Inputs(
      bgiPath = res("agr/MGI_BGI.json"), diseasePath = res("agr/MGI_disease.json"),
      phenotypePath = res("agr/MGI_phenotype.json"), orthologyPath = res("agr/orthology.tsv")))
    assert(g.materials.count() === 3)
    assert(g.groupMembers.count() === 3)
    val xkr4Chars = g.characteristics
      .join(g.materials.filter(col("name") === "Xkr4").select("material_id"), "material_id")
      .collect().map(r => r.getString(2) -> r.getString(3)).toMap
    assert(xkr4Chars("diseases") === "DOID:0001,DOID:0002")
    assert(xkr4Chars("human_orthologs") === "HGNC:100,HGNC:101")
    assert(xkr4Chars("strand") === "reverse")
    val json = graft.io.DatsJsonWriter.render(g)
    assert(json.contains("all MGI genes"))
  }

  test("A4/A5: representative values and column profile run on star schema") {
    val rep = Representative.representativeValues(spark, sf).collect()
    assert(rep.nonEmpty)
    val prof = Representative.columnProfile(spark, sf).collect()
    prof.foreach { r =>
      assert(r.getLong(r.fieldIndex("nulls")) === 0)
      assert(r.getDouble(r.fieldIndex("sd_q")) > 0)
    }
  }
}
