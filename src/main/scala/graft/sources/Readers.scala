package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The non-S1 source family of the reference (SURVEY.md §2.1), each
  * re-expressed as a Spark reader returning DataFrames.
  */
object Readers {

  /** S6 — comment-aware dbGaP restricted TSV
    * (ccmm/dbgap/restricted_metadata.py:21-53): `# Study accession:` /
    * `# Table accession:` preamble lines carry metadata; first
    * non-comment row is the header.
    *
    * @return (data, accessions) — accessions is a 1-row DataFrame with
    *         study_accession / table_accession extracted from comments.
    */
  def commentTsv(spark: SparkSession, path: String): (DataFrame, DataFrame) = {
    // the header is read on the driver, so no header-inference job runs
    val options = Map("sep" -> "\t", "header" -> "true", "comment" -> "#")
    val data = spark.read.options(options)
      .schema(ValidatedTsv.stringSchema(ValidatedTsv.header(spark, path, options)))
      .csv(path)
    val comments = spark.read.text(path)
      .filter(col("value").startsWith("#"))
      .select(
        regexp_extract(col("value"), "# Study accession: (\\S+)", 1).as("study_accession"),
        regexp_extract(col("value"), "# Table accession: (\\S+)", 1).as("table_accession"))
    val accessions = comments.agg(
      max(when(col("study_accession") =!= "", col("study_accession"))).as("study_accession"),
      max(when(col("table_accession") =!= "", col("table_accession"))).as("table_accession"))
    (data, accessions)
  }

  /** S10 — skip-preamble TSV (the AGR orthology report: 14 comment lines
    * then a header; ccmm/agr/genes.py:203-223). Spark's `comment` option
    * subsumes the line-count skip when preamble lines are marked; for
    * positional skipping we drop by line number. */
  def skipPreambleTsv(spark: SparkSession, path: String, skipLines: Int): DataFrame = {
    import spark.implicits._
    val lines = spark.read.textFile(path).rdd.zipWithIndex()
      .filter(_._2 >= skipLines).map(_._1)
    spark.read.option("sep", "\t").option("header", "true")
      .csv(spark.createDataset(lines))
  }

  /** S11 — GFF3 scan (ccmm/mgd/ref_genome_dataset.py:90-199): 9 fixed
    * fields, `;`/`=`-encoded attribute column 9 → MapType, `source`
    * filter, genome-build assertion from `#` metadata. Gzip handled
    * natively by the text source.
    *
    * The reference's id→feature / parent→children dict maps become plain
    * columns (`attr['ID']`, `attr['Parent']`) + the [[gff3ParentChild]]
    * self-join.
    */
  def gff3(spark: SparkSession, path: String, sourceFilter: Option[String] = Some("MGI"),
           expectedGenomeBuild: Option[String] = None): DataFrame = {
    val lines = spark.read.text(path)

    expectedGenomeBuild.foreach { expected =>
      val build = lines
        .filter(col("value").rlike("^#\\s*Genome build:"))
        .select(regexp_extract(col("value"), "Genome build:\\s*(\\S+)", 1).as("b"))
        .limit(1).collect()
      val actual = build.headOption.map(_.getString(0))
      // ref_genome_dataset.py:194-197 — mismatch is fatal
      require(actual.contains(expected),
        s"genome build mismatch: expected $expected, found $actual")
    }

    val cols = Seq("seqid", "source", "ftype", "start", "end", "score", "strand", "phase")
    val parts = split(col("value"), "\t")
    val df = lines
      .filter(!col("value").startsWith("#") && col("value") =!= "")
      .select(
        cols.zipWithIndex.map { case (n, i) => parts.getItem(i).as(n) } :+
          str_to_map(parts.getItem(8), lit(";"), lit("=")).as("attr"): _*)
      // reference strips the MGI:MGI: double prefix at :225
      .withColumn("feature_id", regexp_replace(col("attr")("ID"), "^MGI:MGI:", "MGI:"))
      .withColumn("parent_id", regexp_replace(col("attr")("Parent"), "^MGI:MGI:", "MGI:"))
    sourceFilter.map(s => df.filter(col("source") === s)).getOrElse(df)
  }

  /** R5 — GFF3 parent/child adjacency as a self-join
    * (ref_genome_dataset.py:170-192). */
  def gff3ParentChild(features: DataFrame): DataFrame =
    features.as("c").join(features.as("p"),
        col("c.parent_id") === col("p.feature_id"))
      .select(col("p.feature_id").as("parent"), col("c.feature_id").as("child"),
        col("p.ftype").as("parent_type"), col("c.ftype").as("child_type"))

  /** S12 — MGI homolog report (ccmm/mgd/human_homologs.py:13-109):
    * header-detected TSV, exact-duplicate-line drop (U4), species
    * normalization (", laboratory" stripped), species whitelist. */
  def homologReport(spark: SparkSession, path: String): DataFrame =
    spark.read.option("sep", "\t").option("header", "true").csv(path)
      .dropDuplicates()
      .withColumn("species",
        regexp_replace(col("Common Organism Name"), ",\\s*laboratory", ""))
      .filter(col("species").isin("mouse", "human"))

  /** S7 — dbGaP XML data_dict / var_report via the Spark 4 native XML
    * source (`rowTag="variable"`). The files are KB-scale so this could
    * also be a driver-side parse (SURVEY.md §7.4.5) — using the data
    * source keeps one code path if they ever grow. */
  def dbgapVariables(spark: SparkSession, path: String): DataFrame =
    spark.read.format("xml")
      .option("rowTag", "variable")
      .load(path)

  /** S7/A5 — the var_report statistics the reference CONSUMES
    * (ccmm/dbgap/public_metadata.py:43-58, 94-127): per-variable n,
    * nulls, mean, median, min, max, sd, distinct_vals from the `<stat>`
    * element, flattened to one row per variable. Computing the same
    * profile FROM data is `operators.Representative.columnProfile`. */
  def dbgapVarReportStats(spark: SparkSession, path: String): DataFrame = {
    val vars = dbgapVariables(spark, path)
    vars.select(
      col("_id").as("var_id"), col("_var_name").as("var_name"),
      col("total.stats.stat._n").as("n"),
      col("total.stats.stat._nulls").as("nulls"),
      col("total.stats.stat._mean").as("mean"),
      col("total.stats.stat._median").as("median"),
      col("total.stats.stat._min").as("min"),
      col("total.stats.stat._max").as("max"),
      col("total.stats.stat._sd").as("sd"),
      col("total.stats.stat._distinct_vals").as("distinct_vals"))
  }

  /** S7/A5 — per-enum-value counts from the var_report `<enum>` elements
    * (code, label, count) — the source of the J9 consent-code metadata. */
  def dbgapVarReportEnums(spark: SparkSession, path: String): DataFrame = {
    val vars = dbgapVariables(spark, path)
    vars.filter(col("total.stats.enum").isNotNull)
      .select(col("_id").as("var_id"), col("_var_name").as("var_name"),
        explode(col("total.stats.enum")).as("e"))
      .select(col("var_id"), col("var_name"),
        col("e._code").as("code"), col("e._VALUE").as("label"),
        col("e._count").as("count"))
  }

  /** S9 — AGR BGI/disease/phenotype JSON (ccmm/agr/genes.py:64-200):
    * multiline JSON with a top-level `data` array; explode to rows,
    * defaulting absent optional fields to "NA" downstream. */
  def agrJson(spark: SparkSession, path: String): DataFrame =
    spark.read.option("multiLine", "true").json(path)
      .select(explode(col("data")).as("rec"))
      .select(col("rec.*"))

  /** S8 — dbGaP metadata-directory scan + filename-grammar parse
    * (ccmm/dbgap/public_metadata.py:234-266): list the XML files, parse
    * each filename into (study_id, data_table_id, participant_set,
    * study_name, table_type, metadata_type) — the reference's 4-level
    * index becomes a DataFrame keyed by those columns. The binaryFile
    * source lists distributedly and column pruning keeps payloads
    * unread. */
  private val DbgapFileRx =
    "(phs\\d+\\.v\\d+)\\.(pht\\d+\\.v\\d+)(\\.p\\d+)?\\.(\\S+?)_(Subject_Phenotypes|Sample_Attributes|Subject_Images|Subject|Sample)\\.(data_dict|var_report|MULTI|DS-CS-RD|DS-LD-RD|DS-LD|GRU|HMB)\\.xml$"

  def dbgapFileIndex(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.xml").load(dir)
      .select(regexp_extract(col("path"), "[^/]+$", 0).as("file_name"))
      .filter(regexp_like(col("file_name"), lit(DbgapFileRx)))
      .select(col("file_name"),
        regexp_extract(col("file_name"), DbgapFileRx, 1).as("study_id"),
        regexp_extract(col("file_name"), DbgapFileRx, 2).as("data_table_id"),
        regexp_extract(col("file_name"), DbgapFileRx, 3).as("participant_set"),
        regexp_extract(col("file_name"), DbgapFileRx, 4).as("study_name"),
        regexp_extract(col("file_name"), DbgapFileRx, 5).as("table_type"),
        regexp_extract(col("file_name"), DbgapFileRx, 6).as("metadata_type"))

  /** S8 — sub-study heuristic (public_metadata.py:269-326): a study with
    * no data_dict files is a sub-study; exactly one main study must
    * remain. The anti-join IS the heuristic. */
  def dbgapMainStudy(index: DataFrame): DataFrame = {
    val withDict = index.filter(col("metadata_type") === "data_dict")
      .select(col("study_id")).distinct()
    val main = index.select(col("study_id")).distinct()
      .join(withDict, Seq("study_id"), "left_semi")
    require(main.count() == 1,
      s"expected exactly 1 main study, found: ${main.collect().map(_.getString(0)).mkString(",")}")
    main
  }

  /** S14 — embedded-literal dbGaP search-results scrape
    * (ccmm/gtex/wgs_datasets.py:65-119; ccmm/topmed/wgs_datasets.py:188-241):
    * a pasted search-results blob parsed by a per-line regex state
    * machine into one row per study. Re-expressed relationally:
    *
    *  1. preprocessing splits glued `...Versions...` lines in two
    *     (wgs_datasets.py:71-78) via a 1-or-2-element explode;
    *  2. each line classifies into exactly one of the five content
    *     regexes — an unclassifiable line is fatal with its line number
    *     (wgs_datasets.py:114-116);
    *  3. the "current study" state variable becomes a running
    *     last-non-null window over the study-id marker lines;
    *  4. per-study assembly is a groupBy with order-preserving
    *     collect_list for the 1-N version lines.
    *
    * The blob is a driver-scale literal (KB), so the single-partition
    * window is the honest plan — there is nothing to distribute.
    *
    * @param descrPrefix description-line prefix (the GTEx variant matches
    *        `^Genotype-Tissue Expression`, TOPMed `^NHLBI TOPMed: `)
    * @param accessions  optional accession whitelist (P17,
    *        topmed/wgs_datasets.py:243-245)
    */
  def scrapeDbgapStudies(spark: SparkSession, path: String, descrPrefix: String,
                         accessions: Option[Seq[String]] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window

    // the scrape blob is a hand-pasted KB-scale literal (S14) — the
    // coalesce(1) and the partition-less line-number windows below are
    // deliberately single-task over that bounded frame (they trip
    // WindowExec's "No Partition Defined" warning; it is benign here)
    val raw = spark.read.text(path).coalesce(1)
      .withColumn("lnum0", monotonically_increasing_id())
    // split-before-Versions preprocessing: a glued line becomes two
    val glued = "^(\\S+.*?)(Versions?.*)$"
    val lines = raw.select(col("lnum0"),
        posexplode(when(regexp_like(col("value"), lit(glued)),
            array(regexp_extract(col("value"), glued, 1),
              regexp_extract(col("value"), glued, 2)))
          .otherwise(array(col("value")))).as(Seq("piece", "line")))
      .withColumn("lnum", row_number().over(Window.orderBy("lnum0", "piece")))
      .filter(!regexp_like(col("line"), lit("^\\s*$")))

    val classified = lines.select(col("lnum"), col("line"),
      when(regexp_like(col("line"), lit("^phs\\S+$")), "id")
        .when(col("line").startsWith(descrPrefix), "descr")
        .when(regexp_like(col("line"), lit("^Version.*$")), "version")
        .when(regexp_like(col("line"), lit("^VDAS\\d+\\S.*Links$")), "vdas")
        .when(regexp_like(col("line"), lit("^HiSeq.*$")), "platform")
        .as("kind"))
    val bad = classified.filter(col("kind").isNull)
    require(bad.isEmpty, "unexpected content at line(s) " +
      bad.select("lnum", "line").collect()
        .map(r => s"${r.getInt(0)}: ${r.getString(1)}").mkString("; "))

    // running "current study" state: last id-marker at or before the line
    val w = Window.orderBy("lnum").rowsBetween(Window.unboundedPreceding, 0)
    val stamped = classified.withColumn("study_acc",
      last(when(col("kind") === "id", col("line")), ignoreNulls = true).over(w))

    val vdasRx = "^VDAS(\\d+)(\\D.*)Links$"
    val out = stamped.filter(col("kind") =!= "id")
      .groupBy(col("study_acc").as("id"))
      .agg(
        max(when(col("kind") === "descr",
          expr(s"substring(line, ${descrPrefix.length + 1})"))).as("descr"),
        array_sort(collect_list(when(col("kind") === "version",
          struct(col("lnum"), col("line"))))).as("vstructs"),
        max(when(col("kind") === "vdas",
          regexp_extract(col("line"), vdasRx, 1).cast("long"))).as("n_participants"),
        max(when(col("kind") === "vdas",
          regexp_extract(col("line"), vdasRx, 2))).as("study_type"),
        max(when(col("kind") === "platform", col("line"))).as("platform"))
      .select(col("id"),
        regexp_extract(col("id"), "^phs\\d+\\.(v\\d+)\\.p\\d+$", 1).as("version"),
        col("descr"),
        transform(col("vstructs"), v => v.getField("line")).as("versions"),
        col("n_participants"), col("study_type"), col("platform"))
    accessions.fold(out)(accs => out.filter(col("id").isin(accs: _*)))
      .orderBy("id")
  }

  /** S13 — DataCite works JSON (ccmm/gtex/rnaseq_datasets.py:160-202):
    * the fetched-payload parse, minus the network fetch (the engine
    * consumes the JSON document; fetching is an environment concern).
    * Builds the dataset-title → DOI map with the reference's two fatal
    * gates: a version other than `expectedVersion` outside the exempt
    * title prefixes, and a duplicate title. Titles get the reference's
    * trailing "." (rnaseq_datasets.py:190). */
  def dataciteTitleToDoi(spark: SparkSession, path: String,
                         expectedVersion: String = "v7",
                         exemptTitlePrefixes: Seq[String] = Seq("DroNc-seq", "Biobank Inventory")): DataFrame = {
    val works = spark.read.option("multiLine", "true").json(path)
      .select(explode(col("data")).as("d"))
      .select(
        col("d.id").as("doi"),
        col("d.attributes.title").as("title"),
        col("d.attributes.url").as("url"),
        col("d.attributes.version").as("version"))

    val exempt = exemptTitlePrefixes
      .map(p => col("title").startsWith(p)).reduce(_ || _)
    val badVersion = works.filter(col("version") =!= expectedVersion && !exempt)
    require(badVersion.isEmpty, "unexpected dataset version(s): " +
      badVersion.select("title", "version").collect()
        .map(r => s"'${r.getString(0)}' (${r.getString(1)})").mkString(", "))

    val dups = works.groupBy("title").count().filter(col("count") > 1)
    require(dups.isEmpty, "duplicate dataset title(s): " +
      dups.collect().map(_.getString(0)).mkString(", "))

    works.select(concat(col("title"), lit(".")).as("title"), col("doi"), col("url"))
      .orderBy("title")
  }
}
