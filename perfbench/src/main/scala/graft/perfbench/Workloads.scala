package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.GtexPipeline
import graft.etl.GtexEtl
import graft.etl.GtexEtl.EntityGraph
import graft.io.{DatsJsonReader, DatsJsonWriter}
import graft.operators.{DedupOps, SimilarityOps}
import graft.query.DatsQueries
import graft.sources.{Readers, ValidatedTsv}

/** One timed call into one layer, including the action that consumes its
  * result. `run` does the timed work and returns the check, which runs
  * after the clock stops: None when the output is right, else the reason.
  * `metric` names the per-layer metric its time is charged to. */
final case class Op(name: String, metric: String, run: () => () => Option[String])

/** Context shared by the workloads: the session, the run's inputs and
  * scratch space, the golden digests, and the per-layer values ops record
  * besides their time (counts, ratios, bytes). */
final class Ctx(val spark: SparkSession, val inputs: String, val work: String,
                val info: Map[String, Long], goldens: Map[String, Digest]) {
  val values = mutable.LinkedHashMap.empty[String, Double]

  /** Compare an answer's digest with the golden of `key`. */
  def check(key: String, columns: Seq[String], rows: Array[Row]): Option[String] = {
    val got = Digest.of(columns, rows)
    goldens.get(key) match {
      case None => Some(s"no golden digest for $key")
      case Some(g) if g == got => None
      case Some(g) => Some(s"$key: digest $got, golden $g")
    }
  }

  /** Collect `df` (timed) and return its check against `key` (untimed). */
  def against(key: String, df: DataFrame): () => Option[String] = {
    val rows = df.collect()
    () => check(key, df.columns.toSeq, rows)
  }

  def expect(what: String, got: Long, want: Long): Option[String] =
    if (got == want) None else Some(s"$what: got $got, expected $want")
}

/** A workload: the ops of one pass, the untimed clean-up after a pass, and
  * the input rows `rows_per_s` divides by. */
trait Workload {
  def rows: Long
  def pass(): Seq[Op]
  def afterPass(): Unit = ()
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "gtex_etl" => new GtexWorkload(ctx)
    case "iter_graph" => new IterWorkload(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  /** Heap in use at its peak since the runner last reset the pools' peaks
    * (after a GC, before the op), in MB: the sum of the heap pools' peaks. */
  private[perfbench] def heapPeakMb(): Double =
    heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  private[perfbench] def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
}

/** Validated flat-file ingest → entity graph → one DATS JSON-LD document →
  * parse it back → Q1–Q7 over the parsed graph. Each answer is checked
  * against the same query over the graph as built. */
final class GtexWorkload(ctx: Ctx) extends Workload {
  import ctx.spark
  private val clean = s"${ctx.inputs}/clean"
  private val dirty = s"${ctx.inputs}/dirty"
  private val json = s"${ctx.work}/gtex_dats.json"
  val rows: Long = ctx.info("rows")

  private var built: EntityGraph = _
  private var readBack: EntityGraph = _
  private val builtDigests = mutable.HashMap.empty[Int, Digest]

  /** Query `n` over the graph as built, before the JSON round trip. Every
    * pass builds from the same inputs, so the first pass's answer serves
    * the run. */
  private def builtDigest(n: Int): Digest = builtDigests.getOrElseUpdate(n, {
    val b = query(n, built)
    Digest.of(b.columns.toSeq, b.collect())
  })

  private def tables(g: EntityGraph): Seq[DataFrame] = Seq(g.datasets, g.identifiers,
    g.studies, g.studyGroups, g.groupMembers, g.materials, g.anatomicalParts,
    g.characteristics, g.dimensions, g.distributions, g.dataAcquisitions, g.diseases)

  private def query(n: Int, g: EntityGraph): DataFrame = n match {
    case 1 => DatsQueries.listSecondLevelDatasets(g, Seq(GtexEtl.TopDatasetTitle))
    case 2 => DatsQueries.listDatasetVariables(g, Some(GtexEtl.StudyAccession))
    case 3 => DatsQueries.listStudyGroupMembers(g, GtexEtl.StudyAccession, "all subjects")
    case 4 => DatsQueries.listSubjectSamples(g)
    case 5 => DatsQueries.listSubjectCharacteristics(g)
    case 6 => DatsQueries.listSampleCharacteristics(g)
    case 7 => DatsQueries.tabularDump(g)
  }

  def pass(): Seq[Op] = Seq(
    Op("sources_read", "sources.read_s", () => {
      val counts = Seq(
        ("subjects.txt", GtexEtl.subjectSpec, "SUBJID"),
        ("samples.txt", GtexEtl.sampleSpec, "SAMPID")).map { case (f, spec, pk) =>
        val r = ValidatedTsv.read(spark, s"$dirty/$f", spec, pk)
        (r.data.count(), r.violations.select("pk").distinct().count())
      }
      val (read, rejected) = (counts.map(_._1).sum, counts.map(_._2).sum)
      ctx.values("sources.rows") = read.toDouble
      ctx.values("sources.reject_ratio") = rejected.toDouble / read
      () => ctx.expect("dirty rows read", read, ctx.info("dirty_rows"))
        .orElse(ctx.expect("rows rejected", rejected, ctx.info("rejected_rows")))
    }),
    Op("etl_build", "etl.build_s", () => {
      val in = GtexPipeline.inputs(clean)
      val g = GtexEtl.restrictedOverlay(spark, GtexEtl.build(spark, in),
        s"$clean/restricted_gtex_subject.txt",
        s"$clean/restricted_gtex_subject_phenotypes.txt",
        varLookup = in.dbgapDataDictPath.map(p => GtexEtl.dbgapVarLookup(
          Readers.dbgapVariables(spark, p), "Subject")))
      // eager checkpoints: the graph is built once per pass, here, and
      // survives the cache clearing between ops
      val t = tables(g).map(_.localCheckpoint())
      built = EntityGraph(t(0), t(1), t(2), t(3), t(4), t(5), t(6), t(7), t(8), t(9),
        t(10), t(11))
      val counts = t.map(_.count())
      ctx.values("etl.entity_rows") = counts.sum.toDouble
      () => ctx.expect("materials", counts(5), ctx.info("materials"))
        .orElse(ctx.expect("distributions", counts(9), ctx.info("distributions")))
        .orElse(ctx.expect("data acquisitions", counts(10), ctx.info("file_datasets")))
    }),
    Op("json_write", "io.json_write_s", () => {
      DatsJsonWriter.write(built, json)
      ctx.values("io.json_heap_peak_mb") = Workload.heapPeakMb()
      val bytes = Files.size(Paths.get(json))
      ctx.values("io.json_bytes") = bytes.toDouble
      () => if (bytes > 0) None else Some("empty DATS document")
    }),
    Op("json_read", "io.json_read_s", () => {
      readBack = DatsJsonReader.read(spark, json)
      val n = readBack.materials.count()
      ctx.values("io.json_heap_peak_mb") =
        math.max(ctx.values("io.json_heap_peak_mb"), Workload.heapPeakMb())
      () => ctx.expect("materials read back", n, ctx.info("materials"))
    })) ++
    (1 to 7).map(n => Op(s"gtex_q$n", s"query.q${n}_s", () => {
      val df = query(n, readBack)
      val rows = df.collect()
      () => {
        val got = Digest.of(df.columns.toSeq, rows)
        val want = builtDigest(n)
        if (got == want) None else Some(s"Q$n read back $got, built graph $want")
      }
    }))

  override def afterPass(): Unit = {
    Option(built).foreach(tables(_).foreach(DedupOps.unpersistCheckpoint))
    built = null
    readBack = null
    Files.deleteIfExists(Paths.get(json))
  }
}

/** The refined k-NN graph build (the descent fixpoint), its recall gate and
  * PageRank over it, then the other fixpoint operators: label propagation,
  * star contraction, the power iteration and k-means. */
final class IterWorkload(ctx: Ctx) extends Workload {
  import ctx.spark
  private val dir = ctx.inputs
  val rows: Long = ctx.info("rows")
  private var graph: DataFrame = _

  def pass(): Seq[Op] = Seq(
    Op("knn_build", "operators.knn_build_s", () => {
      graph = SimilarityOps.knnGraphRefinedEdges(spark, dir).localCheckpoint()
      ctx.against("sim_knn_graph_refined", graph)
    }),
    Op("knn_recall", "operators.knn_recall_s", () => {
      val df = SimilarityOps.knnRecallOf(spark, dir, graph)
      val rows = df.collect()
      () => {
        ctx.values("operators.knn_recall") =
          rows.map(_.getAs[Long]("hits")).sum.toDouble / rows.map(_.getAs[Long]("n_true")).sum
        ctx.check("sim_knn_recall_refined", df.columns.toSeq, rows)
      }
    }),
    Op("pagerank", "operators.pagerank_s",
      () => ctx.against("sim_pagerank", SimilarityOps.pageRankOverGraph(spark, dir, graph))),
    Op("dedup_clusters", "operators.dedup_clusters_s",
      () => ctx.against("dedup_clusters", DedupOps.nearDupClusters(spark, dir))),
    Op("dedup_star", "operators.dedup_star_s",
      () => ctx.against("dedup_clusters_star", DedupOps.nearDupClustersStar(spark, dir))),
    Op("top_component", "operators.top_component_s",
      () => ctx.against("sim_top_component", SimilarityOps.topComponent(spark, dir))),
    Op("kmeans_auto", "operators.kmeans_auto_s",
      () => ctx.against("dedup_embedding_auto", DedupOps.embeddingNearDupAuto(spark, dir))))

  override def afterPass(): Unit = {
    Option(graph).foreach(DedupOps.unpersistCheckpoint)
    graph = null
  }
}
