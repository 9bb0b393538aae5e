package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}

import graft.functions.VectorFunctions

/** Deterministic fixed-iteration Lloyd's k-means over integer-quantized
  * embedding vectors (`qv: Array[Long]`) — the production coarse
  * quantizer feeding the IVF family ([[SimilarityOps.ivfTopK]],
  * [[DedupOps.embeddingNearDupAuto]]), replacing raw seed-vector
  * blocking with learned centroids.
  *
  * Everything is exact integer math until the final cosine, so training
  * is bit-deterministic across engines and partition orders, and the
  * DuckDB oracle replays it as unrolled CTEs:
  *  - init: the vectors with vec_id `firstSeed until firstSeed+nlist`
  *    (content-addressed, no RNG seed to agree on);
  *  - assign: max-cosine centroid, ties to the smaller centroid id;
  *  - update: component-wise truncated integer MEAN (`sum div count` —
  *    Spark `div` and DuckDB `//` both truncate toward zero). Means stay
  *    bounded by the quantization scale, so centroid norms can never
  *    overflow 64-bit — raw integer SUMS would blow past Long at
  *    |list| ≈ 1e5 on real data;
  *  - a list that empties, or whose mean truncates to the zero vector,
  *    drops out of the centroid table (deterministic on both sides).
  *
  * Fixed iteration count, no convergence test — the oracle can only
  * replay a known number of rounds. Per round the corpus is scanned
  * twice (one broadcast-assign pass, one co-shuffled update aggregate);
  * centroids are nlist rows and always broadcast. Dot products run in
  * the native codegen'd [[graft.functions.LongArrayDot]] loop; only the
  * update's per-dimension sums project scalar components (a hash
  * aggregate needs scalar aggregation buffers), and they re-assemble
  * into the centroid's `cv` array immediately after the aggregate.
  */
object KMeans {

  /** Lloyd's for `iters` rounds; returns (assignment, centroids) =
    * ((vec_id, cl), (cl, cv, cnrm)) with the centroids being the integer
    * means OF that final assignment. The rounds run under [[Fixpoint]]:
    * on the driver when the vectors fit its tail (both frames then hold
    * driver-built rows), else as Spark rounds whose assignment is a
    * materialized local checkpoint — a lineage cut, which consumers (who
    * all use it at least twice) also get to reuse as materialized blocks;
    * see the in-loop comment for why a cache alone is not enough.
    *
    * The `nlist` default (10) exists for unit specs; production callers
    * pass [[autoNlist]] so list count — and with it per-list size and the
    * block-local pair space of every consumer — scales as √n. */
  def fit(q: DataFrame, iters: Int = 2, nlist: Int = 10,
          firstSeed: Int = 10): (DataFrame, DataFrame) =
    fitSized(q, q.count(), iters, nlist, firstSeed)

  /** [[fit]] for a caller that already knows `q`'s row count `rows` —
    * every production caller counts the table for [[autoNlist]]. */
  private[graft] def fitSized(q: DataFrame, rows: Long, iters: Int = 2, nlist: Int = 10,
                              firstSeed: Int = 10): (DataFrame, DataFrame) =
    Fixpoint.using("kmeans", q.sparkSession) { fp =>
      // state: the vectors themselves, (vec_id, qv[Dim], nrm) per row
      val local =
        if (!fp.fitsDriver(rows * (DedupOps.Dim + 2) * Fixpoint.FieldBytes)) None
        else Fixpoint.Vectors(q.select(col("vec_id"), col("qv"), col("nrm")).collect())
      local match {
        case Some(v) => fitOnDriver(fp, v, iters, nlist, firstSeed)
        case None => fitOnSpark(fp, q, iters, nlist, firstSeed)
      }
    } { case (asg, cents) => Seq(asg, cents) }

  private def fitOnSpark(fp: Fixpoint, q: DataFrame, iters: Int, nlist: Int,
                         firstSeed: Int): (DataFrame, DataFrame) = {
    val cents0 = q
      .filter(col("vec_id") >= firstSeed && col("vec_id") < firstSeed + nlist)
      .select(col("vec_id").as("cl"), col("qv").as("cv"), col("nrm").as("cnrm"))
    val asg0: DataFrame = q.select(col("vec_id"), col("vec_id").as("cl"))
    fp.onSpark((asg0, cents0), iters, converging = false)(s => Seq(s._1, s._2)) {
      case ((_, cents), _) =>
        // cut lineage at every half-round: a round's plan otherwise embeds
        // several copies of `q` through the previous round's centroids
        // and assignment, and the analyzer's self-join deduplication blows
        // up on the nested tree (measured: an un-checkpointed round 2
        // OOMs the driver before executing anything). Cost: centroids are
        // nlist rows; the assignment is 2 narrow columns per vector —
        // the same storage class as caching it, which consumers need
        // anyway.
        val (asg, rows) = fp.cut(assign(q, cents))
        // the zero-centroid filter must sit ABOVE the checkpoint: below it,
        // the predicate inlines into the aggregate's aliased arithmetic and
        // Catalyst's constraint propagation explodes the driver heap; on
        // the leaf, cnrm is a plain attribute and the constraint is tiny
        Fixpoint.Step((asg, fp.cut(update(q, asg))._1.filter(col("cnrm") > 0)), rows)
    }
  }

  /** Lloyd's rounds on the driver with the Spark rounds' arithmetic: the
    * 64-bit dot product, cosine as `dot.toDouble / sqrt(nrm) / sqrt(cnrm)`,
    * argmax by (scos DESC, cl ASC) — what `max(struct(scos, -cl))`
    * orders — and means as `sum div count`, truncated toward zero, with
    * zero-norm means dropped. */
  private def fitOnDriver(fp: Fixpoint, v: Fixpoint.Vectors, iters: Int, nlist: Int,
                          firstSeed: Int): (DataFrame, DataFrame) = {
    final case class Cent(cl: Long, cv: Array[Long], cnrm: Long)
    val n = v.ids.length
    val cents0 = (0 until n)
      .filter(i => v.ids(i) >= firstSeed && v.ids(i) < firstSeed + nlist)
      .map(i => Cent(v.ids(i), v.qv(i), v.nrm(i)))
    // the assignment as (vector row → centroid id); None for a vector
    // with no centroid to join (an empty centroid table)
    val (asg, cents) = fp.onDriver((v.ids.map(Option(_)), cents0), iters) { case ((_, cents), _) =>
      val sqrtC = cents.map(c => math.sqrt(c.cnrm.toDouble))
      val cl = Array.tabulate(n) { i =>
        val sq = math.sqrt(v.nrm(i).toDouble)
        var best: Option[Long] = None
        var bestCos = 0.0
        for (j <- cents.indices) {
          val c = cents(j)
          val cos = Fixpoint.Vectors.dot(v.qv(i), c.cv).toDouble / sq / sqrtC(j)
          if (best.forall(b => cos > bestCos || (cos == bestCos && c.cl < b))) {
            best = Some(c.cl); bestCos = cos
          }
        }
        best
      }
      val members = (0 until n).filter(cl(_).nonEmpty).groupBy(cl(_).get)
      val next = members.toIndexedSeq.sortBy(_._1).map { case (c, is) =>
        val cv = Array.tabulate(DedupOps.Dim) { d =>
          is.foldLeft(0L)((s, i) => Math.addExact(s, v.qv(i)(d))) / is.length
        }
        Cent(c, cv, Fixpoint.Vectors.dot(cv, cv))
      }.filter(_.cnrm > 0)
      Fixpoint.Step((cl, next), cl.count(_.nonEmpty).toLong)
    }
    val spark = fp.session
    val asgRows = (0 until n).filter(asg(_).nonEmpty).sortBy(v.ids(_))
      .map(i => Row(v.ids(i), asg(i).get))
    (Fixpoint.frame(spark, StructType(Seq(StructField("vec_id", LongType),
        StructField("cl", LongType))), asgRows),
      Fixpoint.frame(spark, StructType(Seq(StructField("cl", LongType),
          StructField("cv", ArrayType(LongType)), StructField("cnrm", LongType))),
        cents.sortBy(_.cl).map(c => Row(c.cl, c.cv.toSeq, c.cnrm))))
  }

  /** The scale rule for the list count: nlist = ⌊√n⌋ (min 1). With ~√n
    * lists of ~√n vectors, a consumer's block-local pair space is
    * nlist·(n/nlist)² = n^1.5 instead of the n²/nlist of a FIXED list
    * count, and the per-round assign cost n·nlist stays n^1.5 too — the
    * standard IVF sizing. Mirrors the oracle's
    * `CAST(floor(sqrt(count(*))) AS BIGINT)` exactly: both compute
    * IEEE-double sqrt of an exact integer, then truncate. */
  def autoNlist(n: Long): Int =
    math.max(1, math.floor(math.sqrt(n.toDouble)).toInt)

  /** Vector-vs-centroid cosine over the joined (qv, nrm, cv, cnrm) row. */
  private def centCos =
    VectorFunctions.dotLong(col("qv"), col("cv"))
      .cast("double") / sqrt(col("nrm").cast("double")) / sqrt(col("cnrm").cast("double"))

  /** (vec_id, cl): each vector's max-cosine centroid (ties: smaller cl).
    * Argmax as `max(struct(scos, -cl))` — a hash aggregate with map-side
    * partial combine (each task reduces its n·nlist candidate rows to one
    * per local vector before the exchange), where the equivalent
    * row_number window would sort-shuffle ALL n·nlist rows. Struct
    * ordering is lexicographic, so max scos wins and ties go to the
    * smaller cl via the negated id — identical semantics to the oracle's
    * `ORDER BY scos DESC, cl ASC ... rn = 1`. */
  private def assign(q: DataFrame, cents: DataFrame): DataFrame =
    q.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cl"), centCos.as("scos"))
      .groupBy("vec_id")
      .agg(max(struct(col("scos"), (-col("cl")).as("ncl"))).as("m"))
      .select(col("vec_id"), (-col("m.ncl")).as("cl"))

  /** Top-2 probe assignment against a centroid table, in ONE
    * map-side-combining pass (r21): the bounded
    * [[graft.functions.TopKEdgesAgg]] keeps each vector's two best
    * centroids under (scos DESC, cl ASC) — the same ordering as
    * [[assign]]'s argmax and the oracle's `rn <= 2` window — so the
    * corpus is scored against the broadcast centroids ONCE where the
    * previous two-pass form (argmax, then argmax-over-remaining with
    * probe 1 re-attached) paid n·nlist dot products twice plus an n-row
    * co-shuffled join. Output rows identical: {argmax, argmax of the
    * rest}, and a vector emits a second probe only when ≥ 2 centroids
    * survive training (the buffer simply holds one entry otherwise).
    * The buffer's duplicate collapse is a no-op (cl values are distinct
    * per vector), and an all-NaN cosine vector degrades to the same
    * smallest-two-cl pick as the struct-max form (both orderings treat
    * NaN as greatest and tie to the smaller cl). */
  def assignTop2(q: DataFrame, cents: DataFrame): DataFrame =
    q.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cl"), centCos.as("scos"))
      .groupBy("vec_id")
      .agg(VectorFunctions.topEdges(col("cl"), col("scos"), 2).as("tk"))
      .select(col("vec_id"), explode(col("tk")).as("e"))
      .select(col("vec_id"), col("e.dst").as("cl"))

  /** (cl, cv, cnrm): truncated integer means per list. The assignment
    * attach is an explicit co-shuffle — it is corpus-length, so letting
    * Catalyst broadcast it would OOM at real scale. */
  private def update(q: DataFrame, asg: DataFrame): DataFrame = {
    val dim = DedupOps.Dim
    val aggs = count(lit(1)).as("cnt") +:
      (0 until dim).map(i => sum(element_at(col("qv"), i + 1)).as(s"s$i"))
    q.join(asg.hint("shuffle_hash"), "vec_id")
      .groupBy("cl").agg(aggs.head, aggs.tail: _*)
      .select(col("cl"), array((0 until dim).map(i => expr(s"s$i div cnt")): _*).as("cv"))
      .withColumn("cnrm", VectorFunctions.dotLong(col("cv"), col("cv")))
  }
}
