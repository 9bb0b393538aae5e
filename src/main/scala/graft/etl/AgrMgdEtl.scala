package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Dats
import graft.sources.Readers

/** AGR (gene/disease/phenotype/ortholog) and MGD (reference genome +
  * human homolog) pipelines (reference ccmm/agr/genes.py and
  * ccmm/mgd/ref_genome_dataset.py, SURVEY.md §2.4 J7/J8).
  *
  * The reference's J7 is a nested-loop `search_dict` — a linear scan per
  * gene, O(n·m). Here it is a broadcast hash join + `collect_set`
  * nesting: the single biggest algorithmic upgrade the Spark rebuild
  * delivers (SURVEY.md §2.4 J7). At 100 TB the gene dimension stays
  * broadcast-sized while annotations stream through the join.
  */
object AgrMgdEtl {

  /** P13 — the full SO term code→name lookup (agr/genes.py:16-41, all 24
    * reference entries with names verbatim — including its `rRNAGene`
    * irregular; missing key is fatal). */
  val SoTerms: Map[String, String] = Map(
    "SO:0000336" -> "Pseudogene",
    "SO:0000374" -> "Ribozyme",
    "SO:0000704" -> "Gene",
    "SO:0001217" -> "Protein Coding Gene",
    "SO:0001263" -> "Non-coding RNA Gene",
    "SO:0001265" -> "miRNA Gene",
    "SO:0001266" -> "scRNA Gene",
    "SO:0001267" -> "snoRNA Gene",
    "SO:0001268" -> "snRNA Gene",
    "SO:0001269" -> "SRP RNA Gene",
    "SO:0001272" -> "tRNA Gene",
    "SO:0001500" -> "Phenotypic Marker",
    "SO:0001637" -> "rRNAGene",
    "SO:0001639" -> "RNase P RNA Gene",
    "SO:0001640" -> "RNase MRP RNA Gene",
    "SO:0001641" -> "lincRNA Gene",
    "SO:0001643" -> "Telomerase RNA Gene",
    "SO:0001841" -> "Polymorphic Pseudogene",
    "SO:0001877" -> "Long Non-coding RNA",
    "SO:0001904" -> "Antisense Transcript",
    "SO:0002132" -> "Sense Overlap lncRNA",
    "SO:0002184" -> "Sense Intronic lncRNA gene",
    "SO:0002185" -> "Bidirectional Promoter lncRNA",
    "SO:3000000" -> "Gene Segment")

  /** P13 — evidence code → ECO id (agr/genes.py:43-52; the reference's
    * DOA entry is its own acknowledged placeholder, kept verbatim). */
  val EvidenceCodes: Map[String, String] = Map(
    "TAS" -> "ECO_0000304",
    "DOA" -> "ECO_000000",
    "IAGP" -> "ECO_0005613",
    "IDA" -> "ECO_0000314",
    "IEP" -> "ECO_0000270",
    "IGI" -> "ECO_0000316",
    "IMP" -> "ECO_0000315")

  /** P13 — strand symbol → name (mgd/ref_genome_dataset.py:44-48). */
  val StrandNames: Map[String, String] = Map("+" -> "forward", "-" -> "reverse")

  private def mapCol(m: Map[String, String]) =
    map(m.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)

  /** S9 — AGR BGI genes: project required+optional fields, default "NA",
    * first genomeLocation, SO-term lookup with fatal on unknown code
    * (agr/genes.py:64-124). */
  def bgiGenes(spark: SparkSession, path: String): DataFrame = {
    val raw = Readers.agrJson(spark, path)
    val genes = raw.select(
      col("primaryId").as("gene_id"),
      col("symbol"),
      col("soTermId"),
      coalesce(element_at(mapCol(SoTerms), col("soTermId")), lit(null)).as("so_name"),
      col("taxonId"),
      coalesce(col("geneSynopsis"), lit("NA")).as("synopsis"),
      col("genomeLocations").getItem(0).getField("assembly").as("assembly"),
      col("genomeLocations").getItem(0).getField("chromosome").as("chromosome"),
      col("genomeLocations").getItem(0).getField("startPosition").as("start_pos"),
      col("genomeLocations").getItem(0).getField("endPosition").as("end_pos"),
      coalesce(element_at(mapCol(StrandNames),
        col("genomeLocations").getItem(0).getField("strand")), lit("NA")).as("strand"),
      coalesce(col("crossReferenceIds"), array()).as("cross_refs"))
    val unknownSo = genes.filter(col("so_name").isNull)
    require(unknownSo.isEmpty,
      s"unknown SO terms: ${unknownSo.select("soTermId").distinct().collect().mkString(",")}")
    // taxon whitelist (agr/genes.py:84-90: mouse 10090 / rat 10116)
    genes.filter(col("taxonId").contains("10090") || col("taxonId").contains("10116"))
  }

  /** J7 + A7 — gene → diseases: broadcast join then per-gene distinct
    * DOid collapse (agr/genes.py:61-62, 268-273). */
  def geneDiseases(genes: DataFrame, diseases: DataFrame): DataFrame = {
    val joined = genes.select(col("gene_id"), col("symbol"))
      .join(diseases.select(col("objectId"), col("DOid"),
          col("evidence.evidenceCodes").as("ev_codes")),
        col("gene_id") === col("objectId"), "left")
    // P13: unknown evidence codes are fatal — the reference's EVID[i]
    // lookup raises on a missing key (genes.py:293)
    val unknownEv = joined.select(explode(col("ev_codes")).as("c"))
      .filter(element_at(mapCol(EvidenceCodes), col("c")).isNull).distinct()
    require(unknownEv.isEmpty, "unknown evidence code(s): " +
      unknownEv.collect().map(_.getString(0)).mkString(","))
    joined
      .groupBy("gene_id", "symbol")
      .agg(sort_array(collect_set(col("DOid"))).as("do_ids"),
        // annotation evidence codes mapped to ECO ids (genes.py:43-52,
        // consumed :293)
        sort_array(array_distinct(flatten(collect_list(
          transform(col("ev_codes"),
            c => element_at(mapCol(EvidenceCodes), c)))))).as("eco_ids"))
      .withColumn("n_diseases", size(col("do_ids")))
  }

  /** J7 + A7 — gene → phenotype term ids (agr/genes.py:329-335). */
  def genePhenotypes(genes: DataFrame, phenotypes: DataFrame): DataFrame = {
    val terms = phenotypes.select(col("objectId"),
      explode(col("phenotypeTermIdentifiers")).as("t"))
      .select(col("objectId"), col("t").getField("termId").as("term_id"))
    genes.select(col("gene_id"), col("symbol"))
      .join(terms, col("gene_id") === col("objectId"), "left")
      .groupBy("gene_id", "symbol")
      .agg(sort_array(collect_set(col("term_id"))).as("phenotype_terms"))
  }

  /** S10 + J7 — orthology TSV (positional columns 1,2,3,5,7 after a
    * 14-line preamble; ortho taxon must contain 9606,
    * agr/genes.py:203-223): per MOD gene, the sorted list of human
    * ortholog gene ids. */
  def geneOrthologs(spark: SparkSession, genes: DataFrame, orthoPath: String): DataFrame = {
    val raw = Readers.skipPreambleTsv(spark, orthoPath, 14)
    val cols = raw.columns
    val ortho = raw.select(
        col(cols(0)).as("ortho_gene_id"), col(cols(1)).as("ortho_symbol"),
        col(cols(2)).as("ortho_taxon"), col(cols(4)).as("mod_gene_id"),
        col(cols(6)).as("mod_taxon"))
      .filter(col("ortho_taxon").contains("9606"))
    genes.select(col("gene_id"), col("symbol"))
      .join(ortho, col("gene_id") === col("mod_gene_id"), "left")
      .groupBy("gene_id", "symbol")
      .agg(sort_array(collect_set(col("ortho_gene_id"))).as("human_orthologs"))
      .withColumn("has_ortholog", (size(col("human_orthologs")) > 0).cast("int"))
  }

  /** P14 — Dbxref split: `NCBI_Gene:497097,ENSEMBL:ENSMUSG...` →
    * (source, id) rows (mgd/ref_genome_dataset.py:262-268). */
  def dbxrefs(features: DataFrame): DataFrame =
    features.select(col("feature_id"),
        explode(split(col("attr")("Dbxref"), ",")).as("xref"))
      .select(col("feature_id"),
        substring_index(col("xref"), ":", 1).as("xref_source"),
        substring_index(col("xref"), ":", -1).as("xref_id"))

  /** J8 — mouse gene → HomoloGene cluster → human EntrezGene ids
    * (two chained joins + collect_list; mgd/human_homologs.py:60-88),
    * plus the A8 coverage tallies (ref_genome_dataset.py:296-301). */
  def mouseHumanHomologs(homologReport: DataFrame): DataFrame = {
    val mouse = homologReport.filter(col("species") === "mouse")
      .select(col("HomoloGene ID").as("cluster"), col("Mouse MGI ID").as("mgi_id"),
        col("Symbol").as("mouse_symbol"))
    val human = homologReport.filter(col("species") === "human")
      .select(col("HomoloGene ID").as("h_cluster"), col("EntrezGene ID").as("entrez_id"))
    mouse.join(human, col("cluster") === col("h_cluster"), "left")
      .groupBy("mgi_id", "mouse_symbol")
      .agg(sort_array(collect_set(col("entrez_id"))).as("human_entrez_ids"))
      .withColumn("n_human", size(col("human_entrez_ids")))
  }

  /** A8 — homolog coverage counts. */
  def homologCoverage(homologs: DataFrame): DataFrame =
    homologs.agg(
      count(lit(1)).as("n_mouse_genes"),
      sum(when(col("n_human") > 0, 1L).otherwise(0L)).as("with_human_homolog"),
      sum(when(col("n_human") === 0, 1L).otherwise(0L)).as("without_human_homolog"))

  final case class Inputs(bgiPath: String, diseasePath: String,
                          phenotypePath: String, orthologyPath: String,
                          modName: String = "MGI")

  /** The AGR gene-dataset assembly (reference bin/agr_to_dats.py +
    * ccmm/agr/genes.py:226-430): one top-level Dataset per MOD whose
    * members are gene Materials carrying location/SO characteristics and
    * the joined disease / phenotype / ortholog annotations — in the same
    * entity-graph shape as the GTEx/TOPMed pipelines, so the writer and
    * query half apply unchanged. */
  def build(spark: SparkSession, in: Inputs): GtexEtl.EntityGraph = {
    import graft.model.Dats.entityId

    val genes = bgiGenes(spark, in.bgiPath).cache()
    val diseases = Readers.agrJson(spark, in.diseasePath)
    val phenotypes = Readers.agrJson(spark, in.phenotypePath)
    val gd = geneDiseases(genes, diseases)
    val gp = genePhenotypes(genes, phenotypes)
    val go = geneOrthologs(spark, genes, in.orthologyPath)

    val topId = entityId("Dataset", lit(s"AGR-${in.modName}"))
    val topDataset = spark.range(1).select(
      topId.as("dataset_id"),
      lit(s"Alliance of Genome Resources ${in.modName} gene set").as("title"),
      lit(s"${in.modName} reference genes with disease/phenotype/ortholog annotations").as("description"),
      lit("1.0").as("version"))

    val geneMaterials = genes.select(
      entityId("Material", col("gene_id")).as("material_id"),
      col("symbol").as("name"),
      lit("gene").as("material_type"), lit("gene").as("role"),
      col("synopsis").as("description"))

    // location + SO-term + annotation characteristics in long form
    val locChars = Seq("so_name", "assembly", "chromosome", "strand").map { c =>
      genes.filter(col(c).isNotNull).select(
        entityId("Material", col("gene_id")).as("material_id"),
        lit(c).as("name"), col(c).cast("string").as("value"))
    }.reduce(_ unionByName _)
    val diseaseChars = gd.filter(size(col("do_ids")) > 0).select(
      entityId("Material", col("gene_id")).as("material_id"),
      lit("diseases").as("name"), array_join(col("do_ids"), ",").as("value"))
    val phenoChars = gp.filter(size(col("phenotype_terms")) > 0).select(
      entityId("Material", col("gene_id")).as("material_id"),
      lit("phenotypes").as("name"), array_join(col("phenotype_terms"), ",").as("value"))
    val orthoChars = go.filter(size(col("human_orthologs")) > 0).select(
      entityId("Material", col("gene_id")).as("material_id"),
      lit("human_orthologs").as("name"), array_join(col("human_orthologs"), ",").as("value"))

    // the "all genes" group hangs off a synthetic Study so the writer's
    // Dataset→Study→StudyGroup→members chain applies as-is
    val studyId = entityId("Study", lit(s"AGR-${in.modName}"))
    val groupId = entityId("StudyGroup", lit(s"all ${in.modName} genes"))

    GtexEtl.EntityGraph(
      datasets = topDataset,
      identifiers = spark.range(1).select(topId.as("entity_id"),
        lit(s"AGR-${in.modName}").as("identifier"), lit("AGR").as("identifier_source")),
      studies = spark.range(1).select(studyId.as("study_id"),
        lit(s"${in.modName} reference genome").as("name"), topId.as("dataset_id")),
      studyGroups = spark.range(1).select(groupId.as("group_id"),
        studyId.as("study_id"), lit(s"all ${in.modName} genes").as("name")),
      groupMembers = geneMaterials.select(groupId.as("group_id"), col("material_id")),
      materials = geneMaterials,
      anatomicalParts = Dats.AnatomicalParts.empty(spark),
      characteristics = locChars.unionByName(diseaseChars)
        .unionByName(phenoChars).unionByName(orthoChars),
      dimensions = Dats.Dimensions.empty(spark),
      distributions = Dats.Distributions.empty(spark),
      dataAcquisitions = Dats.DataAcquisitions.empty(spark),
      diseases = Dats.Diseases.empty(spark)).conformed
  }
}
