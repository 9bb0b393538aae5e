package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** Similarity search over the `embeddings` table (north-star extension —
  * ANN over an `Array[Float]` column).
  *
  * Two paths with one contract (query_id, neighbor, cosine, rnk):
  *  - [[bruteForceTopK]]: exact — broadcast the (small) query set against
  *    every vector. The scan side stays partition-parallel; no shuffle at
  *    all until the final per-query top-k, which moves only k·|queries|
  *    rows. This is the correct plan at 100 TB when |queries| is small.
  *  - [[lshTopK]]: approximate — deterministic random-hyperplane LSH
  *    bucketing; only same-bucket candidates are scored. The bucket id is
  *    computed per-row (no shuffle), candidates co-shuffle on bucket.
  *
  * All arithmetic is integer-quantized over the vectors' natural
  * `Array[Long]` columns; dot products run in the native codegen'd
  * [[graft.functions.LongArrayDot]] loop (measured 2.2-2.7× faster than
  * the 64-flat-column workaround it replaced, see ARCHITECTURE.md), and
  * results are bit-deterministic and oracle-comparable.
  */
object SimilarityOps {

  private val K = 5
  private val NQueries = 10
  private val NPlanes = 4
  private val NTables = 4

  /** Eval-set size for the mutual-graph recall gates ([[knnRecall]] /
    * [[knnRecall2]] / [[knnRecallBits]] / [[knnRecallRefined]]): 100
    * queries, not the 10 the top-k demos use — 10 queries carry only
    * 14-23 true mutual edges, so the gate resolved recall in ~7-point
    * increments (an r11 verdict finding; the sf10 zeros were partly
    * instrument, not only graph). Decoupled from [[NQueries]] because
    * that constant doubles as the k-means seed-window offset
    * ([[ivfTopK]]'s firstSeed) — moving it would retrain every learned
    * quantizer in the suite. The gates stay O(|eval|·n): 100 broadcast
    * rows against the corpus, linear at any scale. */
  private val EvalQueries = 100

  /** Exact top-k cosine neighbors for each query vector (vec_id < 10). */
  def bruteForceTopK(spark: SparkSession, dir: String): DataFrame =
    bruteForceTopKFrom(graft.Caches.cached(DedupOps.quantized(spark, dir)))

  private def bruteForceTopKFrom(q: DataFrame): DataFrame = {
    val queries = q.filter(col("vec_id") < NQueries)
    val pairs = broadcast(queries).as("a").join(q.as("b"),
        col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("neighbor"),
        DedupOps.dotCosine("a", "b").as("cosine"))
    rank(pairs)
  }

  /** Deterministic hyperplane weight for (table t, plane h, 1-based dim
    * d): a fixed integer pattern in [-3, 3] — pseudo-random enough to
    * split buckets, and expressible identically in any SQL engine (no
    * RNG seed to agree on). Single source of truth: [[bucketIds]]
    * derives its reduced 7-class weights by calling this. */
  private def planeWeight(t: Int, h: Int, d: Int): Int =
    ((d * 131 + h * 37 + t * 59) % 7) - 3

  /** The weight vector of (t, h) depends only on this residue class:
    * planeWeight ≡ ((5d + 2h + 3t) % 7) - 3, so c = (2h + 3t) % 7
    * indexes the 7 distinct hyperplanes shared by the 16 (t, h) pairs. */
  private def planeClass(t: Int, h: Int): Int = (2 * h + 3 * t) % 7

  /** (vec_id, t, bucket) per hash table — multi-table random-hyperplane
    * LSH (single-table recall was measured at ~8% on this corpus by
    * [[lshRecall]]; independent tables union their candidates, the
    * standard recall lever). Ids only: the quantized vectors are NOT
    * carried through the explode, so the candidate join below moves
    * 3-column rows.
    *
    * Codegen-size note: `planeWeight(t,h,d) = ((5d + 2h + 3t) % 7) - 3`,
    * so the weight vector depends only on `c = (2h + 3t) % 7` — the 16
    * (table, plane) pairs share just 7 distinct hyperplanes. Computing
    * the 7 dot products once per row and assembling the 16 sign bits
    * from them is algebraically identical to the naive 16-dot form at
    * 7/16 the arithmetic; each hyperplane product is one native
    * [[graft.functions.LongArrayDot]] loop against a constant weight
    * array (rounds 1-6 unrolled 448 multiply-add terms here to stay
    * inside codegen method-size limits — the loop form doesn't need
    * the workaround). */
  private[operators] def bucketIds(q: DataFrame): DataFrame = {
    val dots = (0 until 7).map { c =>
      // representative (t, h) for class c: t = 0, h = 4c mod 7
      // (4 = 2⁻¹ mod 7), so the weights come from planeWeight itself
      val w = (0 until DedupOps.Dim).map(i => planeWeight(0, (4 * c) % 7, i + 1).toLong)
      graft.functions.VectorFunctions.dotLong(col("qv"), typedlit(w)).as(s"dot$c")
    }
    val tables = (0 until NTables).map { t =>
      val bucketCol = (0 until NPlanes).map { h =>
        when(col(s"dot${planeClass(t, h)}") >= 0, lit(1L << h)).otherwise(lit(0L))
      }.reduce(_ + _)
      struct(lit(t).as("t"), bucketCol.as("bucket"))
    }
    q.select(col("vec_id") +: dots: _*)
      .withColumn("tb", explode(array(tables: _*)))
      .select(col("vec_id"), col("tb.t").as("t"), col("tb.bucket").as("bucket"))
  }

  /** Approximate top-k: candidates = vectors sharing the query's bucket
    * in ANY hash table, deduped to distinct (query, neighbor) pairs
    * BEFORE any cosine is computed — each surviving pair pays exactly one
    * 64-term dot product (a pair colliding in all 4 tables would
    * otherwise be scored 4×). The distinct shuffles only id pairs.
    *
    * Scoring-join shape: with NPlanes=4 the candidate set is a constant
    * fraction of the CORPUS (≈|queries|·(1-(15/16)^NTables) of it per
    * query), so it must NOT be broadcast — only the |queries|-row vector
    * frame is. The candidate ids pick up their query vector from that
    * broadcast, then shuffle-join the corpus on neighbor id: one co-shuffle
    * of (pairs, corpus) on vec_id, both sides bounded, no O(corpus)
    * driver collect. Same output schema as brute force. */
  def lshTopK(spark: SparkSession, dir: String): DataFrame =
    lshTopKFrom(graft.Caches.cached(DedupOps.quantized(spark, dir)))

  private def lshTopKFrom(q: DataFrame): DataFrame = {
    val b = bucketIds(q)
    val qb = b.filter(col("vec_id") < NQueries)
    val cand = broadcast(qb).as("a").join(b.as("b"),
        col("a.t") === col("b.t") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("neighbor"))
      .distinct()
    val queries = q.filter(col("vec_id") < NQueries)
    val pairs = cand
      .join(broadcast(queries.as("a")), col("query_id") === col("a.vec_id"))
      .join(q.as("b"), col("neighbor") === col("b.vec_id"))
      .select(col("query_id"), col("neighbor"),
        DedupOps.dotCosine("a", "b").as("cosine"))
    rank(pairs)
  }

  /** nprobe = ⌈√nlist⌉ (floor 3): probing a fixed NUMBER of ever-smaller
    * lists would send recall to zero as the corpus grows; probing a fixed
    * FRACTION would pin per-query cost at that fraction of brute force
    * forever. The square-root rule sits between: searched rows per query
    * = n·nprobe/nlist ≈ n/√nlist = n^0.75 — sublinear in the corpus —
    * while measured recall@5 holds at the fixed-parameter operating
    * point (0.42 at sf0.01 with nlist=22/np=5, 0.44 at sf0.1 with
    * nlist=44/np=7, vs 0.44/0.58 for the old hardcoded nlist=10/np=3
    * that probed 30% of the corpus; swept in round 7). */
  private[operators] def autoNprobe(nlist: Int): Int =
    math.max(3, math.ceil(math.sqrt(nlist.toDouble)).toInt)

  /** IVF-style approximate top-k — the other standard ANN scale path
    * beside LSH. Three phases, all deterministic and oracle-replicable:
    *
    *  1. coarse quantizer: [[KMeans.fit]] with nlist = ⌊√n⌋
    *     ([[KMeans.autoNlist]]; deterministic init from vectors
    *     10..10+nlist) yields the inverted-list assignment and its
    *     truncated-integer-mean centroids;
    *  2. probe: each query scores the [[autoNprobe]] max-cosine
    *     centroids;
    *  3. search: exact cosine only inside the probed lists.
    *
    * Scale shape: centroids are broadcast (nlist = √n rows of 64 longs —
    * a 100 TB corpus of 1e9 vectors puts ~3e4 centroid rows ≈ 16 MB on
    * the wire, still broadcast-sized); each quantizer round is one
    * broadcast-assign pass plus one co-shuffled update aggregate over
    * the corpus; the candidate join prunes the corpus to ~nprobe/nlist
    * of its rows, co-shuffled on the list id — the inverted-list read
    * pattern. Truncated-mean centroids keep every dot-product term at
    * ~1e6 × ~1e6 regardless of list size, so the arithmetic can never
    * overflow 64-bit on a real corpus (raw sums would at |list| ≈ 1e5).
    * Recall vs brute force is the oracle-backed [[ivfRecall]] query
    * (sim_ivf_recall); see ARCHITECTURE.md. The corpus count driving
    * nlist is a parquet metadata read, not a scan. */
  def ivfTopK(spark: SparkSession, dir: String): DataFrame = {
    val q = graft.Caches.cached(DedupOps.quantized(spark, dir))
    ivfTopKFrom(q, graft.Tables.load(spark, dir, "embeddings").count())
  }

  /** IVF pipe over an already-cached quantized frame — shared by
    * [[ivfTopK]] and [[ivfRecall]] (the recall arm must search the SAME
    * index it scores). `corpusN` drives nlist; callers pass the table
    * count from parquet metadata rather than re-counting the frame. */
  private def ivfTopKFrom(q: DataFrame, corpusN: Long): DataFrame = {
    val nlist = KMeans.autoNlist(corpusN)
    val (asg, cents) = KMeans.fitSized(q, corpusN, nlist = nlist, firstSeed = NQueries)
    // corpus-length assignment: co-shuffle, never broadcast
    val lists = q.join(asg.hint("shuffle_hash"), "vec_id")
    val queries = q.filter(col("vec_id") < NQueries)
    val probeCos = graft.functions.VectorFunctions.dotLong(col("a.qv"), col("c.cv"))
      .cast("double") / sqrt(col("nrm").cast("double")) / sqrt(col("cnrm").cast("double"))
    val probes = broadcast(queries).as("a").crossJoin(broadcast(cents).as("c"))
      .select(col("a.vec_id").as("query_id"), col("c.cl").as("probe_cl"),
        probeCos.as("pcos"))
      .withColumn("prnk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("pcos").desc, col("probe_cl").asc)))
      .filter(col("prnk") <= autoNprobe(nlist))
      .select("query_id", "probe_cl")
    val pairs = broadcast(probes.join(queries.as("a"), col("query_id") === col("a.vec_id")))
      .join(lists.as("b"),
        col("probe_cl") === col("b.cl") && col("query_id") =!= col("b.vec_id"))
      .select(col("query_id"), col("b.vec_id").as("neighbor"),
        DedupOps.dotCosine("a", "b").as("cosine"))
    rank(pairs)
  }

  /** ANN quality evaluation: per-query recall of the LSH path against
    * the exact brute-force top-k — the metric that tunes plane count /
    * bucket granularity before a production rollout. */
  def lshRecall(spark: SparkSession, dir: String): DataFrame = {
    // one cached quantized projection shared by both arms — the brute
    // and LSH paths otherwise each materialize their own copy
    val q = graft.Caches.cached(DedupOps.quantized(spark, dir))
    val brute = bruteForceTopKFrom(q).select(col("query_id"), col("neighbor"))
    val lsh = lshTopKFrom(q)
      .select(col("query_id").as("q2"), col("neighbor").as("n2"))
    recallOf(brute, lsh)
  }

  /** ANN quality evaluation for the IVF path: per-query recall against
    * the exact brute-force top-k. Rounds 6-7 measured this by hand
    * (ARCHITECTURE.md's 0.42/0.44 at the two scale points); as a query
    * with a DuckDB twin the number is re-derived and cross-checked
    * every round instead of trusted to prose. */
  def ivfRecall(spark: SparkSession, dir: String): DataFrame = {
    val q = graft.Caches.cached(DedupOps.quantized(spark, dir))
    val brute = bruteForceTopKFrom(q).select(col("query_id"), col("neighbor"))
    val ivf = ivfTopKFrom(q, graft.Tables.load(spark, dir, "embeddings").count())
      .select(col("query_id").as("q2"), col("neighbor").as("n2"))
    recallOf(brute, ivf)
  }

  /** Shared recall scoring: left = ground-truth (query_id, neighbor),
    * right = the approximate arm renamed (q2, n2). */
  private def recallOf(brute: DataFrame, approx: DataFrame): DataFrame = {
    brute.join(approx,
        col("query_id") === col("q2") && col("neighbor") === col("n2"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("k"),
        sum(when(col("n2").isNotNull, 1L).otherwise(0L)).as("hits"))
      .select(col("query_id"), col("k"), col("hits"),
        (col("hits").cast("double") / col("k")).as("recall"))
      .orderBy("query_id")
  }

  private val KGraph = 3

  /** Mutual k-NN graph over the WHOLE corpus (k = 3) — the
    * neighborhood-graph construction that seeds clustering /
    * visualization / graph-based dedup pipelines. Candidate edges are
    * SAME-VORONOI-LIST pairs under the learned ⌊√n⌋-list quantizer (the
    * [[graft.operators.KMeans]] blocking `dedup_embedding_auto` already
    * proves out) — ~√n lists of ~√n vectors bound the pair space at
    * n^1.5. The first cut of this operator blocked on the FIXED
    * 16-bucket hyperplane LSH instead: bucket population grows linearly
    * with the corpus there, so the pair space grows QUADRATICALLY —
    * measured 2.9 s at sf0.1 but 13+ min at sf1, the exact blowup the
    * √n rule exists to prevent. Cross-list neighbors are missed
    * (nprobe=1 — the standard recall/cost trade, identical to the
    * blocked dedup family; the oracle replays the same training so the
    * gate is exact). Each endpoint ranks its candidates by exact cosine
    * and an edge survives only if BOTH endpoints rank it top-k — the
    * mutuality filter that prunes hub vertices.
    *
    * Scale shape: quantizer training is two broadcast-assign +
    * co-shuffled-update rounds; the corpus-length assignment attach and
    * the salted block self-join co-shuffle (hinted shuffle_hash —
    * PlanAudit asserts no broadcast in the final plan); the mutuality
    * filter self-joins the ≤ k·n-row top-k relation on the reversed pair
    * key. Undirected pairs are scored ONCE (ida < idb) via
    * [[DedupOps.saltedBlockCosines]] and mirrored, so each candidate
    * edge pays exactly one 64-term native dot product. */
  def knnGraph(spark: SparkSession, dir: String): DataFrame =
    knnGraphEdges(spark, dir).orderBy("ida", "idb")

  /** [[knnGraph]] without the presentation sort — the composition seam
    * (r21): consumers that aggregate or join the edge set (components,
    * pagerank, exemplars, recall gates) were paying a global sort of the
    * corpus-sized edge relation inside their caches/checkpoints for an
    * ordering nothing downstream reads (guide §2.4, "an orderBy used
    * only to make output deterministic"). Same rows. */
  private[graft] def knnGraphEdges(spark: SparkSession, dir: String): DataFrame = {
    val q = graft.Caches.cached(DedupOps.quantized(spark, dir))
    val n = graft.Tables.load(spark, dir, "embeddings").count()
    val nlist = KMeans.autoNlist(n)
    val (asg, _) = KMeans.fitSized(q, n, nlist = nlist)
    val blocked = q.join(asg.hint("shuffle_hash"), "vec_id")
    val scored = DedupOps.saltedBlockCosines(
        capSplit(blocked, voronoiCap(n, nlist), narrow = asg), "blk")
      .select(col("vec_a").as("ida"), col("vec_b").as("idb"), col("cosine"))
    mutualizeCore(scored)
  }

  /** The Voronoi family's split threshold: [[CapFactor]]× the BALANCED
    * list size ⌈n/nlist⌉ — balanced lists (the common case) never split. */
  private def voronoiCap(n: Long, nlist: Int): Long =
    CapFactor * ((n + nlist - 1) / nlist)

  /** Skew guard for the Voronoi pair space: a list whose population m
    * exceeds cap = [[CapFactor]]·⌈n/nlist⌉ (CapFactor× the BALANCED list
    * size) is split deterministically into ⌈m/cap⌉ sub-blocks keyed by
    * `vec_id mod nsplit`, and candidate pairs form only within a
    * sub-block. Per-list pair work is then ≤ m·cap instead of m², so the
    * candidate space is O(n·cap) no matter how skewed training left the
    * cells — the quadratic tail of one hot list can no longer dominate a
    * decade (r9/r10 measured ×15.0-18.7 per sf1→sf10 decade for the
    * graphs; everything else in the family holds ×6-9). Neighbors split
    * across sub-blocks of an OVERSIZED list are missed — the same
    * recall-for-cost currency as the nprobe=1 blocking itself, priced by
    * the same [[knnRecall]]/[[knnRecall2]] gates (balanced lists, the
    * common case, have nsplit = 1 and lose nothing). Everything here is
    * exact integer arithmetic (`DIV`, `pmod`) mirrored verbatim by the
    * oracle pipes. The per-list sizes are an nlist-row aggregate —
    * broadcast back as a planning table for the Voronoi family (nlist
    * rows) but CO-SHUFFLED for the bit-signature family, whose block-key
    * cardinality is ~n/[[BitsTargetList]] — corpus-order, an OOM the
    * first time the corpus outgrows the driver if broadcast.
    *
    * `narrow` is the (vec_id, cl) assignment BEHIND `blocked` — already
    * checkpointed by every caller — and feeds the size count so the
    * counting branch never re-derives the expensive blocking lineage
    * (signature dots / probe scoring) a third time. The packed block
    * key reserves 20 bits for the sub-block index; a list that would
    * need ≥ 2²⁰ sub-blocks (≳ 2.7e8 rows in ONE cell at the constant
    * bits cap) fails loudly via raise_error instead of silently
    * colliding with the next cl's key space. */
  private def capSplit(blocked: DataFrame, cap: Long, narrow: DataFrame,
                       broadcastSizes: Boolean = true): DataFrame = {
    val sizes = narrow.groupBy("cl").agg(count(lit(1)).as("m"))
      .select(col("cl"), expr(
        s"""CASE WHEN (m + ${cap - 1}) DIV $cap >= ${1L << 20}
           | THEN CAST(raise_error('capSplit: nsplit >= 2^20 overflows the packed block key') AS BIGINT)
           | ELSE (m + ${cap - 1}) DIV $cap END""".stripMargin).as("nsplit"))
    val attached =
      if (broadcastSizes) blocked.join(broadcast(sizes), "cl")
      else blocked.join(sizes.hint("shuffle_hash"), "cl")
    attached.withColumn("blk",
      col("cl") * lit(1L << 20) + pmod(col("vec_id"), col("nsplit")))
  }

  private val CapFactor = 4L

  /** 2-probe mutual k-NN graph: every vector joins its TWO max-cosine
    * Voronoi lists under the final trained centroids
    * ([[KMeans.assignTop2]]), so candidate pairs need only share either
    * endpoint's first- OR second-best list — the standard nprobe recall
    * lever over [[knnGraph]]'s nprobe=1 blocking, bought with a bounded
    * constant: block populations double, so the salted self-join's pair
    * space is ≤ 4× the 1-probe n^1.5, and a pair sharing both lists is
    * deduplicated BEFORE ranking (identical cosine rows — one
    * `distinct`). [[knnRecall2]] prices the recall side of the trade;
    * the sf-pair cost curve prices this side. */
  def knnGraph2(spark: SparkSession, dir: String): DataFrame =
    knnGraph2Edges(spark, dir).orderBy("ida", "idb")

  /** [[knnGraph2]] without the presentation sort (see [[knnGraphEdges]]). */
  private[graft] def knnGraph2Edges(spark: SparkSession, dir: String): DataFrame = {
    val q = graft.Caches.cached(DedupOps.quantized(spark, dir))
    val n = graft.Tables.load(spark, dir, "embeddings").count()
    val nlist = KMeans.autoNlist(n)
    val (_, cents) = KMeans.fitSized(q, n, nlist = nlist)
    // checkpoint the 2-probe assignment: it is a NARROW (vec_id, cl)
    // frame whose lineage holds two corpus-wide centroid-scoring
    // aggregates, and un-barriered it would re-evaluate three times
    // (the size count + the salted join's probe and build sides)
    val probes = KMeans.assignTop2(q, cents).localCheckpoint()
    val blocked = q.join(probes.hint("shuffle_hash"), "vec_id")
    // list populations here are probe-EXPANDED (≤ 2n rows), which is the
    // actual pair-space driver, so the cap sees the doubled occupancy
    // no pair DISTINCT (r21): a pair sharing both probed lists repeats
    // with the same cosine and mutualize's TopKEdgesAgg collapses it in
    // its bounded buffer — the full candidate-relation dedup exchange
    // was pure overhead (output unchanged, oracle-proven)
    val scored = DedupOps.saltedBlockCosines(
        capSplit(blocked, voronoiCap(n, nlist), narrow = probes), "blk")
      .select(col("vec_a").as("ida"), col("vec_b").as("idb"), col("cosine"))
    mutualizeCore(scored)
  }

  /** Bucket-size target for the bit-signature graph: the plane count
    * grows with the corpus so EXPECTED bucket population stays in
    * (32, 64] — the constant that makes the pair space linear. */
  private val BitsTargetList = 64L
  private val BitsTables = 4

  /** Plane count for [[knnGraphBits]]: the smallest b ≥ 1 with
    * 2^b ≥ ⌈n/targetList⌉ (targetList = [[BitsTargetList]] for the
    * shipped operators) — pure integer arithmetic, mirrored by the
    * oracle as an argmin over `range(1, 41)` (no floating log2 to
    * agree on). */
  private[graft] def autoPlanes(n: Long, targetList: Long = BitsTargetList): Int = {
    val buckets = math.max(1L, (n + targetList - 1) / targetList)
    var b = 1
    while ((1L << b) < buckets && b < 40) b += 1
    b
  }

  /** Deterministic weight of signature plane hh (= table·64 + plane) in
    * dimension d (1-based): a two-stage-mod pattern in [-3, 3]. The d·hh
    * and d²·hh CROSS terms make the weight vector genuinely
    * two-dimensional in (d, hh) — a formula of the shape (a·d + c(hh))
    * mod p collapses to the scalar c and measured 22 duplicate planes
    * out of 160 after the mod-7 projection; with the cross terms the
    * spec asserts all 160 usable planes distinct, none constant, worst
    * per-plane mean weight 0.78. All terms non-negative, so Spark's `%`
    * and DuckDB's `%` agree. */
  private[graft] def bitPlaneWeight(hh: Int, d: Int): Int =
    ((d * 131 + hh * 37 + d * hh * 59 + d * d * hh * 17) % 1009) % 7 - 3

  /** Linear-cost mutual k-NN graph — the 100 TB path of the graph
    * family. The Voronoi graphs ([[knnGraph]]/[[knnGraph2]]) pay the
    * standard IVF n^1.5: ⌊√n⌋ lists of ~√n vectors cost n·√n in both
    * quantizer assignment and same-list pairs (measured ×15.0/×18.7 per
    * sf1→sf10 decade, r9). Here the block key is a b-bit HYPERPLANE
    * SIGNATURE with b = ⌈log₂(n/64)⌉ ([[autoPlanes]]): bucket population
    * stays ~constant (≤ [[BitsTargetList]]) as the corpus grows, so
    * signature assignment is n·b·[[BitsTables]] = O(n log n) dot
    * products and the same-bucket pair space is O(n) — each decade costs
    * ~×10, where the Voronoi path costs ~×30. The price is recall decay
    * with scale (a near pair must agree on ALL b sign bits of some
    * table, probability p^b for per-plane agreement p), which
    * [[BitsTables]] independent plane sets buy back a constant factor
    * of — and [[knnRecallBits]] prices every round, the same discipline
    * as the rest of the ANN family. Candidates sharing several tables'
    * buckets are deduplicated BEFORE ranking (one `distinct` on scored
    * id pairs, identical cosine rows). [[capSplit]] (cap = CapFactor ·
    * BitsTargetList, a CONSTANT) guards signature skew — correlated
    * planes or clustered data can still pile one bucket — with the
    * per-bucket sizes CO-SHUFFLED, not broadcast: the (table, bucket)
    * key space is ~n/64 rows, corpus-order, unlike the Voronoi family's
    * nlist-row planning table. */
  def knnGraphBits(spark: SparkSession, dir: String): DataFrame =
    knnGraphBitsEdges(spark, dir).orderBy("ida", "idb")

  /** [[knnGraphBits]] without the presentation sort (see [[knnGraphEdges]]). */
  private[graft] def knnGraphBitsEdges(spark: SparkSession, dir: String): DataFrame = {
    val q = graft.Caches.cached(DedupOps.quantized(spark, dir))
    val n = graft.Tables.load(spark, dir, "embeddings").count()
    // dedup = false (r21): multi-table collisions repeat with the same
    // cosine and mutualize's TopKEdgesAgg collapses them in its buffer —
    // the full-relation distinct exchange is redundant (output unchanged)
    mutualizeCore(bitsScored(q, n, dedup = false))
  }

  /** The bit-signature candidate relation behind [[knnGraphBits]] —
    * distinct scored same-bucket pairs (ida < idb, exact cosine).
    * Factored out because [[knnGraphRefined]] seeds its descent from
    * exactly these candidates. `tables`/`targetList` default to the
    * shipped constants; the tuned overloads exist ONLY for the recall
    * sweep harness ([[graft.RecallGate]]) that prices the dials.
    * `checkpoint` makes the eager signature checkpoint below — the
    * descent passes its [[Fixpoint]]'s, which releases it. */
  private def bitsScored(q: DataFrame, n: Long,
                         tables: Int = BitsTables,
                         targetList: Long = BitsTargetList,
                         dedup: Boolean = true,
                         checkpoint: DataFrame => DataFrame = _.localCheckpoint()): DataFrame = {
    // checkpoint the NARROW (vec_id, cl) signature assignment: the
    // b·tables plane dot products per row run exactly ONCE here,
    // instead of once per consumer branch (size count + salted probe +
    // salted build = 3×); the pair join re-attaches qv/nrm from the
    // cached quantized frame
    val narrow = checkpoint(bitAssign(q, n, tables, targetList))
    val blocked = q.join(narrow.hint("shuffle_hash"), "vec_id")
    val scored = DedupOps.saltedBlockCosines(
        capSplit(blocked, CapFactor * targetList, narrow = narrow,
          broadcastSizes = false), "blk")
      .select(col("vec_a").as("ida"), col("vec_b").as("idb"), col("cosine"))
    // dedup = false everywhere TopKEdgesAgg consumes the pairs (the
    // descent seed AND, as of r21, the bits graph via mutualize): a pair
    // colliding in several tables repeats with the same cosine and the
    // bounded buffer collapses it — the full-relation dedup exchange is
    // pure overhead there. The flag stays for consumers that need true
    // set semantics (none in the suite today).
    if (dedup) scored.distinct() else scored
  }

  /** Internal neighbor-list width and round count for
    * [[knnGraphRefined]]'s descent. k' bounds every per-node
    * neighborhood (out-edges AND the top-k' in-edges) at 2k', so a
    * round generates ≤ min(C(2k',2)·n, C(n,2)) candidate pairs — the
    * LINEAR per-round budget (at gate/bench corpus sizes the distinct
    * cap C(n,2) binds instead, so small-scale cost does not grow with
    * k'). k' is THE recall dial and it has a threshold: measured
    * eval recall at sf1 (20k vectors, 100-query gate, 5 rounds) is
    * 0.25 at k'=16, 0.68 at k'=24, 0.905 at k'=32 — the last matching
    * the n^1.5 2-probe Voronoi graph (0.925) at linear cost. Rounds
    * help monotonically (k'=16: 0.25 @3 → 0.35 @5) but width is the
    * binding constraint below the threshold — classic NN-Descent
    * behavior on high-intrinsic-dimension data. The r13 sf10 sweep
    * (200k vectors, RECALL_r13.json) moved the shipped point: k' stays
    * primary at scale (0.31 → 0.60 for k' 32 → 48 on the narrow seed)
    * but flattens short of 0.9 alone; over the widened 8×256 seed the
    * ladder reads 0.48 (k'=32) / 0.76 (k'=48) / 0.895 (k'=64, 5
    * rounds), and extending rounds 5 → 8 adds ~+0.04 (measured at
    * k'=48: 0.762 → 0.797) — the shipped k'=64 × 8-round point is the
    * measured ≥0.9 configuration at 200k vectors. Budget: ≤
    * C(2k',2)·rounds ≈ 65k exact dots per vector, independent of n —
    * the constant is ~6× the r12 point, still the linear class (the
    * incremental FoF cut collapses converged rounds, so the realized
    * per-round volume falls sharply after round ~3). (Oracle twin
    * unrolls the same k'/rounds — keep the two in sync via these
    * [[graft]]-visible constants.) */
  private[graft] val DescentK = 64
  private[graft] val DescentRounds = 8

  /** Staged-width schedule (r17 verdict #3, candidate (a)): rounds
    * 1..[[DescentEarlyRounds]] run the descent's EXPLORATION narrow —
    * the neighborhood relation that generates friend-of-friend pairs
    * (out-rank AND in-rank ≤ [[DescentEarlyKd]]) — while the round's
    * CONTRACTION stays at the full k'. Candidate volume is quadratic in
    * neighborhood width, so an early width of k'/2 cuts round-1
    * generation ~4× — aimed exactly at the measured cost floor (rounds
    * 1-3 are ~85% of the build) — and because every round's candidates
    * retain the previous graph's full edge set and the contraction
    * never narrows, the graph's MEMORY is lossless: the staged build's
    * edge set can only differ from the unstaged one by pairs the narrow
    * rounds didn't explore. The first variant of this dial narrowed the
    * contraction too; sf10 priced it at recall 0.9231 → 0.9021
    * (erounds=2) → 0.8182 (erounds=3) — a narrow contraction discards
    * the seed's tail edges PERMANENTLY (retention only carries the
    * previous round forward), and FoF rediscovery does not recover
    * them. Exploration-only narrowing is the fix: the SEED's full
    * k'-wide edge set survives every contraction by monotonicity of
    * the per-node top-k' cosine.
    *
    * SHIPPED DEFAULT: EarlyKd = 32, EarlyRounds = 2 — priced at sf10
    * (200k vectors) by two same-JVM adjacent A/Bs in opposite orders:
    * unstaged-first 1428.5 vs 1150.3 s (ratio 0.805), staged-first
    * 1112.0 vs 1207.3 s (ratio 0.921); order-cancelled geomean 0.861
    * ≈ 613 s at the r16-median machine state against the 600 s
    * target, at recall 0.9231 → **0.9441** (hits 135/143, bit-stable
    * across four runs in very different machine states). Recall RISES
    * because the staged
    * new/old cut defers the tail entries' activation: pairs the
    * unstaged build marks old-old after round 1 are explored fresh by
    * the wide rounds over a better graph. At EarlyKd ≥ k' the schedule
    * is a NO-OP and both the build and the oracle twin reduce
    * byte-identically to the unstaged r16 formulation; the twin
    * ([[graft.Oracles]]) interpolates these constants and unrolls the
    * identical staged filters when active. SPARK_GRAFT_DESCENT_EKD /
    * _EROUNDS (harness-only env, never set by the driver) move build +
    * twin in lockstep for equivalence sweeps (tools/ekd_twin_check.sh),
    * because the twin interpolates these constants when Verify dumps
    * oracle_sql.json at runtime. The full pricing
    * ladder — including the REJECTED contraction-narrowing variant
    * (recall 0.9021/0.8182) — lives in RECALL_r17.json /
    * ARCHITECTURE.md. */
  private[graft] val DescentEarlyKd: Int =
    sys.env.get("SPARK_GRAFT_DESCENT_EKD").map(_.toInt).getOrElse(DescentK / 2)
  private[graft] val DescentEarlyRounds: Int =
    sys.env.get("SPARK_GRAFT_DESCENT_EROUNDS").map(_.toInt).getOrElse(2)

  /** The refined graph's OWN seed dials — decoupled from the bits
    * graph's [[BitsTables]]/[[BitsTargetList]] because the sf10 sweep
    * showed the descent's at-scale recall is SEED-bound (kd=32 → 0.31,
    * kd=48 → 0.60 over the narrow 4×64 seed at 200k vectors; the k'
    * ladder alone flattens out well short of 0.9), while the bits
    * graph's dials are its own cost/recall trade. The shipped 8×256
    * seed lifts every measured k' cell ~+0.16 at sf10 at near-flat
    * seed cost (assignment is O(n·b·tables) and b shrinks as the
    * target grows; the same-bucket pair space stays n·target·tables/2
    * — linear in n). The oracle's KNNR pipe interpolates these same
    * constants. */
  private[graft] val DescentSeedTables = 8
  private[graft] val DescentSeedTarget: Long = 256L

  /** Corpus-size ceiling for broadcasting the quantized vector frame
    * into the descent's scoring joins. At 500k vectors the (vec_id, qv,
    * nrm) projection is ~350 MB unsafe-row — comfortably a broadcast on
    * the harness and any real executor — and broadcasting keeps the
    * k'²·n-sized candidate relation from being re-shuffled twice per
    * round (the measured sf10 disk killer). Beyond the ceiling the
    * frame is corpus-sized and the joins co-shuffle instead; the
    * output is identical either way, so this dial is invisible to the
    * oracle. */
  private[graft] val DescentBroadcastVecs = 500000L

  /** Graph-refined mutual k-NN — the demonstrated-recall-at-scale path.
    * The blocked builds ([[knnGraph]]/[[knnGraph2]]/[[knnGraphBits]])
    * all lose recall as the corpus grows: a true neighbor pair must
    * collide under the partition (same Voronoi cell, same b-bit
    * signature), and collision probability decays with cell count /
    * plane count. This operator REFINES instead of partitioning better:
    * NN-Descent's observation (Dong, Moses, Li — WWW 2011) that a
    * neighbor of a neighbor is likely a neighbor, made deterministic
    * and oracle-replayable:
    *
    *  1. seed: each node's top-k' ([[DescentK]]) candidates from the
    *     linear bit-signature blocking ([[bitsScored]]);
    *  2. round: each node's neighborhood = its k' out-edges plus its
    *     top-k' in-edges (the bounded reverse sample — full NN-Descent
    *     samples reverse neighbors; ranking by cosine with id
    *     tie-break makes the bound deterministic). Every pair of nodes
    *     sharing a neighborhood member becomes a candidate, is scored
    *     by exact cosine, and each node keeps its new top-k' —
    *     [[DescentRounds]] fixed rounds, no convergence test (the
    *     oracle replays a known round count);
    *  3. the standard mutual-top-[[KGraph]] tail over the final
    *     candidate set.
    *
    * Scale shape: every round is node-local arithmetic on ≤ 2k'-sized
    * neighborhoods — candidates ≤ n·C(2k',2), cosine scoring re-attaches
    * vectors from the cached quantized frame by co-shuffled join, and
    * the directed relation is a narrow (src, dst, cosine)
    * localCheckpoint per round. Total cost is O(n) per round with a
    * k'²-sized constant — the SAME linear class as the bits seed, but
    * the descent recovers the cross-bucket edges blocking loses (the
    * gate measures the recovery every round; the bits seed alone
    * measured 0.00 eval recall at sf10, r11). The rounds run under
    * [[Fixpoint]]: at the shipped dials, a graph and vector set that fit
    * its driver tail finish on the driver, output-identical. */
  def knnGraphRefined(spark: SparkSession, dir: String): DataFrame =
    knnGraphRefinedTuned(spark, dir).orderBy("ida", "idb")

  /** [[knnGraphRefined]] without the presentation sort (see
    * [[knnGraphEdges]]) — the edge supplier the refined consumers and
    * Bench's shared-build attribution compose over. */
  private[graft] def knnGraphRefinedEdges(spark: SparkSession, dir: String): DataFrame =
    knnGraphRefinedTuned(spark, dir)

  /** [[knnGraphRefined]] with every dial exposed — the sweep surface the
    * at-scale recall measurements run on ([[graft.RecallGate]]). The
    * shipped operator is the defaults; the oracle twin interpolates the
    * same [[DescentK]]/[[DescentRounds]] constants, so only the default
    * configuration is oracle-checked. */
  private[graft] def knnGraphRefinedTuned(spark: SparkSession, dir: String,
      kd: Int = DescentK, rounds: Int = DescentRounds,
      seedTables: Int = DescentSeedTables,
      seedTargetList: Long = DescentSeedTarget,
      earlyKd: Int = DescentEarlyKd,
      earlyRounds: Int = DescentEarlyRounds,
      broadcastVecs: Long = DescentBroadcastVecs): DataFrame =
    Fixpoint.run("knn_descent", spark) { fp =>
      // staged width schedule ([[DescentEarlyKd]]): EXPLORATION width per
      // round — the neighborhood that generates FoF pairs; the contraction
      // always runs at the full k'
      def kdOf(t: Int): Int = if (t >= 1 && t <= earlyRounds && earlyKd < kd) earlyKd else kd
      // the settled exit below is valid only once the exploration width has
      // reached its final k'
      def widthFinal(t: Int): Boolean = t > earlyRounds || earlyKd >= kd
      val q = graft.Caches.cached(DedupOps.quantized(spark, dir))
      val n = graft.Tables.load(spark, dir, "embeddings").count()
      // Shuffle width stays at the session default DELIBERATELY: a
      // volume-derived raising scope (rows/8M ≈ 400 partitions for the
      // round-1 k'²·n candidate space at sf10) was built and A/B'd on an
      // idle machine — 1308 s vs 932 s for the identical 0.9231-recall
      // edge set (tools/recall_r13_{wideshuffle,defaultwidth}.jsonl).
      // Fat partitions streaming through single-pass spill beat skinny
      // partitions' per-task overhead here; on a real cluster the width
      // is the deployment's dial (spark.sql.shuffle.partitions / AQE
      // initialPartitionNum), not something this operator should scope.
      val (seed, seedRows) = fp.cut(directedTopFrom(
        bitsScored(q, n, seedTables, seedTargetList, dedup = false, checkpoint = fp.cut(_)._1),
        kd))
      // the driver tail replays the shipped operator only: any other dial
      // (a sweep's k', rounds, seed or staged widths, a forced scoring
      // dispatch) keeps the Spark rounds that define it. Its state is the
      // directed graph (src, dst, cosine) plus the vectors it is scored
      // from, (vec_id, qv[Dim], nrm).
      val shipped = kd == DescentK && rounds == DescentRounds &&
        seedTables == DescentSeedTables && seedTargetList == DescentSeedTarget &&
        earlyKd == DescentEarlyKd &&
        earlyRounds == DescentEarlyRounds && broadcastVecs == DescentBroadcastVecs
      val local =
        if (!shipped || !fp.fitsDriver(3 * seedRows * Fixpoint.FieldBytes +
            n * (DedupOps.Dim + 2) * Fixpoint.FieldBytes)) None
        else descentOnDriver(fp, q, seed, kd, rounds, kdOf, widthFinal)

      def descentOnSpark(): DataFrame = {
        // state: (graph, its rows, the "used" relation for the incremental
        // FoF cut below — None before round 1: everything is new). The used
        // relation is the previous round's full neighborhood relation. The
        // runner releases each superseded graph and used relation
        // once the round's new ones are materialized: without that the build
        // pins 2·rounds graph-sized block sets (several GB at sf10) for the
        // session — storage pressure during exactly the stages whose spill is
        // the build's cost center.
        val (sd, _, _) = fp.onSpark[(DataFrame, Long, Option[DataFrame])](
            (seed, seedRows, None), rounds, converging = false)(s => s._1 +: s._3.toSeq) {
          case ((sd, sdRows, prevUsed), round) =>
            // bounded neighborhood: out-edges + top-k' in-edges per node.
            // Exploration width follows the staged schedule: on a narrow
            // round the out side of the (always full-k'-wide) graph needs an
            // explicit re-rank.
            // FUSED (r22, guide §2.2): the out re-rank, the in re-rank and the
            // (out ∪ in) DISTINCT — previously up to three exchanges of the
            // n·k'-row relation per round — run as ONE aggregation over the
            // mirrored edge relation: TopKEdgesAgg skips null inputs, so the
            // out and in sides feed separate bounded buffers of the same
            // groupBy, and the per-center array_distinct of the two k-lists
            // replaces the global pair DISTINCT. Out-side k = kdt is exact on
            // wide rounds too: each src holds ≤ k' out-edges, so top-k'
            // returns all of them — identical to the unaggregated projection
            // the unfused form used there. Same tie-break (cosine DESC, id
            // ASC) as the pre-r21 windows; sd is a set, so the buffers'
            // duplicate collapse is a no-op — byte-identical und set.
            val kdt = kdOf(round)
            val mirrored = sd.select(explode(array(
                struct(col("src").as("center"), col("dst").as("nbr"),
                  col("cosine"), lit(true).as("is_out")),
                struct(col("dst").as("center"), col("src").as("nbr"),
                  col("cosine"), lit(false).as("is_out")))).as("e"))
              .select(col("e.center"), col("e.nbr"), col("e.cosine"), col("e.is_out"))
            val fusedNbrs = mirrored.groupBy("center")
              .agg(
                graft.functions.VectorFunctions.topEdges(
                  when(col("is_out"), col("nbr")), col("cosine"), kdt).as("otk"),
                graft.functions.VectorFunctions.topEdges(
                  when(!col("is_out"), col("nbr")), col("cosine"), kdt).as("itk"))
              .select(col("center"), explode(array_distinct(concat(
                transform(col("otk"), e => e("dst")),
                transform(col("itk"), e => e("dst"))))).as("nbr"))
            val (und, _) = fp.cut(fusedNbrs)
            // Incremental FoF (NN-Descent's "new/old" cut — Dong, Moses, Li,
            // WWW 2011 §2.3): only pairs with at least one NEW neighborhood
            // entry are generated. An old-old pair through center c was
            // generated in the round both entries were active there and
            // scored; since every node's candidate set always contains its
            // current top-k' (the retained current edges below), a per-node
            // k'-th-best cosine is monotone non-decreasing across rounds — a
            // pair that failed the cut once can never pass it later. The cut
            // is OUTPUT-EXACT and the oracle twin deliberately unrolls the
            // FULL FoF rounds without it, so every refined-family correctness
            // row doubles as an equivalence proof. Generated pair volume
            // collapses as the graph converges (ARCHITECTURE.md has the
            // measured per-round volumes).
            // flagged re-evaluates per reference (twoHop's two sides + the
            // early-exit probe) DELIBERATELY: checkpointing it per round was
            // A/B'd flat (1.01x, tools/ab_r22d.jsonl) — the join of two
            // checkpointed narrow relations costs about what the checkpoint
            // materialization does, so the dedup buys nothing.
            val flagged = prevUsed match {
              case None => und.withColumn("is_new", lit(true))
              case Some(p) => und.join(
                  p.withColumn("seen", lit(true)).hint("shuffle_hash"),
                  Seq("center", "nbr"), "left")
                .select(col("center"), col("nbr"), col("seen").isNull.as("is_new"))
            }
            // EARLY EXIT (r22, output-exact): if this round generated ZERO new
            // neighborhood entries, every remaining round is the identity and
            // the build can stop. Proof: with no new entries every `flagged`
            // row has is_new = false, so twoHop is empty and cand is exactly
            // sd's own undirected edge set; the re-contraction of that set
            // returns sd itself, because for every node u the candidate set
            // out(u) ∪ in(u) CONTAINS out(u) — and out(u) is u's top-k' of the
            // PREVIOUS round's full mirrored candidate relation, a superset of
            // out(u) ∪ in(u) (directedTopFrom mirrors every scored pair, so
            // in-edges were already candidates) — hence top-k' of the subset =
            // top-k' of the superset = out(u) under the same total order
            // (cosine DESC, id ASC; cosines are bit-deterministic per pair).
            // sd unchanged and kdt constant past the staged window imply und
            // and flagged repeat verbatim: zero new entries again, by
            // induction to round `rounds`. Valid only once the exploration
            // width has reached its final k' (inside the staged window the
            // NEXT round widens the neighborhood and genuinely new entries
            // appear). The DuckDB twin keeps unrolling the full `rounds` CTEs
            // — the oracle rows remain an end-to-end proof that the skipped
            // rounds are no-ops. Cost of the check: one limit-1 probe of the
            // join of two checkpointed narrow relations; measured payoff at
            // sf0.1: rounds 6-8 (~1.0 s each) were exactly this identity.
            if (widthFinal(round) && prevUsed.nonEmpty && flagged.filter(col("is_new")).isEmpty)
              Fixpoint.Step((sd, sdRows, Some(und)), sdRows, done = true)
            else {
              // FoF pair generation stays the co-shuffled self-join (r22
              // NEGATIVE RESULT): a per-center bounded combination explode
              // (groupBy center → sort_array(collect_list(nbr, is_new)) →
              // slice-after-self transform/filter HOFs) generates the identical
              // pair multiset with ONE evaluation + ONE exchange of `flagged`
              // where the join evaluates and co-shuffles it once per side — but
              // the balanced A/B (identical build, only this expression
              // flipped; tools/ab_r22c.jsonl) measured the explode form 1.32×
              // SLOWER on the full build: the ObjectHashAggregate list buffers
              // and the non-codegen HOF lambdas cost more per candidate than
              // the whole-stage-codegen'd join saves in exchanges (guide §4 —
              // prefer codegen'd operators in the hot path).
              val twoHop = flagged.as("x").join(flagged.as("y").hint("shuffle_hash"),
                  col("x.center") === col("y.center") && col("x.nbr") < col("y.nbr") &&
                    (col("x.is_new") || col("y.is_new")))
                .select(col("x.nbr").as("ida"), col("y.nbr").as("idb"))
              // plus the current edges themselves (so a found neighbor is never
              // lost to a round that happens not to re-generate it — also the
              // retention the exactness argument above stands on).
              // No DISTINCT on the broadcast path: a pair generated through
              // several shared centers is scored once per copy (map-side
              // arithmetic, no shuffle) and the top-k aggregate collapses the
              // copies in its buffer — cheaper than a full corpus-scale dedup
              // exchange of the candidate relation every round. On the
              // co-shuffle path (corpus above the broadcast ceiling) the joins
              // move cand twice, so there the dedup pays for itself.
              val candRaw = twoHop.unionByName(
                  sd.select(least(col("src"), col("dst")).as("ida"),
                    greatest(col("src"), col("dst")).as("idb")))
              val cand = if (n <= broadcastVecs) candRaw else candRaw.distinct()
              // Re-attaching vectors to the candidate relation is the round's
              // volume cliff: cand is k'²·n-sized (≈1.6e9 pairs in round 1 at
              // 200k vectors) while the quantized frame is only n rows. A
              // shuffle_hash join here re-shuffles the GIANT side twice (once
              // by ida, once by idb) — at sf10 that tripled the round's spill
              // and exhausted the harness disk. Below [[DescentBroadcastVecs]]
              // the vector frame broadcasts (both joins reuse one exchange) and
              // cand never moves; above it, co-shuffled joins — a corpus-sized
              // broadcast would not fit executors (same dispatch rationale as
              // DedupOps.embeddingBlocked's assignment join).
              val qn = q.select(col("vec_id"), col("qv"), col("nrm"))
              val (qa, qb) =
                if (n <= broadcastVecs)
                  (broadcast(qn).as("a"), broadcast(qn).as("b"))
                else (qn.as("a").hint("shuffle_hash"), qn.as("b").hint("shuffle_hash"))
              // The retention pairs DO re-score through the vector attach (r22
              // NEGATIVE RESULT): carrying sd's already-computed cosines into
              // the contraction as a separate union leg — saving n·k'
              // bit-identical dot products per round — measured 1.05× SLOWER on
              // the full build (balanced A/B, tools/ab_r22d2.jsonl): on the
              // broadcast path the re-scoring is map-side-free while the union
              // leg splits the contraction's input into two partial-aggregation
              // pipelines. The analytical at-scale saving (the dots are not
              // free at 10⁹ vectors) cannot be measured on this harness's data
              // sizes, so the measured form ships.
              val scored = cand
                .join(qa, col("ida") === col("a.vec_id"))
                .join(qb, col("idb") === col("b.vec_id"))
                .select(col("ida"), col("idb"), DedupOps.dotCosine("a", "b").as("cosine"))
              // contraction ALWAYS at the full k' — narrowing here was priced at
              // sf10 and rejected (it permanently discards the seed's tail edges;
              // recall 0.9231 → 0.9021/0.8182). The exploration narrowing above
              // is where the candidate-volume savings live.
              val (next, rows) = fp.cut(directedTopFrom(scored, kd))
              // this round's neighborhood is the next round's used set
              Fixpoint.Step((next, rows, Some(und)), rows)
            }
        }
        sd
      }

      // no distinct (r21): a mutual pair appears in sd in both directions
      // with the same cosine; mutualize's TopKEdgesAgg collapses the copies
      // in its buffer, so the dedup exchange of the n·k'-row final edge
      // relation is redundant (output unchanged, oracle-proven)
      val sd = local.getOrElse(descentOnSpark())
      mutualizeCore(sd.select(least(col("src"), col("dst")).as("ida"),
          greatest(col("src"), col("dst")).as("idb"), col("cosine")))
    }

  /** The descent rounds on the driver, at the shipped dials: the same
    * staged neighborhoods (out top-k'ₜ ∪ in top-k'ₜ per center, ranked
    * by [[graft.functions.TopKEdgesAgg.Buf]]), the same new/old cut and
    * settled exit, the same candidates (FoF pairs through a shared
    * center with a new side, plus the retained edges), each scored
    * `dot.toDouble / sqrt(nrm_a) / sqrt(nrm_b)` with a the smaller id,
    * and the same top-k' contraction. Candidates are
    * gathered per node rather than per pair — the contraction keeps each
    * node's top-k' of its candidate SET, whatever order it arrives in —
    * so the nodes score in parallel on the driver's cores. None when a
    * vector or seed row falls outside what these rounds replicate (see
    * [[Fixpoint.Vectors]]). */
  private def descentOnDriver(fp: Fixpoint, q: DataFrame, seed: DataFrame, kd: Int,
                              rounds: Int, kdOf: Int => Int,
                              widthFinal: Int => Boolean): Option[DataFrame] = {
    import graft.functions.TopKEdgesAgg.Buf
    for {
      v <- Fixpoint.Vectors(q.select(col("vec_id"), col("qv"), col("nrm")).collect())
      seedRows = seed.collect()
      ix = seedRows.map(r => (v.index(r.getLong(0)), v.index(r.getLong(1))))
      if ix.forall { case (a, b) => a >= 0 && b >= 0 }
    } yield {
      val nv = v.ids.length
      val sq = v.nrm.map(x => math.sqrt(x.toDouble))
      def cosine(a: Int, b: Int): Double =
        Fixpoint.Vectors.dot(v.qv(a), v.qv(b)).toDouble / sq(a) / sq(b)
      // a node's out-edges, in the buffer's (cosine DESC, dst ASC) order
      final case class Edges(dst: Array[Int], cos: Array[Double])
      def edges(b: Buf): Edges =
        Edges(Array.tabulate(b.size)(i => b.dsts(i).toInt), java.util.Arrays.copyOf(b.coss, b.size))
      val noEdges = Edges(Array.emptyIntArray, Array.emptyDoubleArray)
      val seedBufs = Array.fill(nv)(new Buf(kd))
      for (i <- seedRows.indices)
        seedBufs(ix(i)._1).insert(ix(i)._2.toLong, seedRows(i).getDouble(2))
      val sd0 = seedBufs.map(b => if (b.size == 0) noEdges else edges(b))
      // used (previous round's neighborhood) per center, sorted; null =
      // not a center then
      val (sd, _) = fp.onDriver[(Array[Edges], Array[Array[Int]])]((sd0, null), rounds) {
          case ((sd, prevUsed), round) =>
        val kdt = kdOf(round)
        val inBuf = new Array[Buf](nv)
        val rev = Array.fill(nv)(Array.newBuilder[Int])
        for (x <- 0 until nv; i <- sd(x).dst.indices) {
          val y = sd(x).dst(i)
          if (inBuf(y) == null) inBuf(y) = new Buf(kdt)
          inBuf(y).insert(x.toLong, sd(x).cos(i))
          rev(y) += x
        }
        val und = Array.tabulate(nv) { c =>
          if (sd(c).dst.isEmpty && inBuf(c) == null) null
          else {
            val out = sd(c).dst.take(kdt)
            val in = if (inBuf(c) == null) Array.emptyIntArray
              else Array.tabulate(inBuf(c).size)(i => inBuf(c).dsts(i).toInt)
            (out ++ in).distinct.sorted
          }
        }
        val isNew = Array.tabulate(nv) { c =>
          if (und(c) == null) null
          else und(c).map(y => prevUsed == null || prevUsed(c) == null ||
            java.util.Arrays.binarySearch(prevUsed(c), y) < 0)
        }
        if (widthFinal(round) && prevUsed != null &&
            !isNew.exists(f => f != null && f.contains(true)))
          Fixpoint.Step((sd, und), sd.map(_.dst.length.toLong).sum, done = true)
        else {
          // the (center, position) entries each node holds
          val memb = Array.fill(nv)(Array.newBuilder[Long])
          for (c <- 0 until nv if und(c) != null; k <- und(c).indices)
            memb(und(c)(k)) += (c.toLong << 32) | k
          val membs = memb.map(_.result())
          val revs = rev.map(_.result())
          // per-thread candidate marks, fresh each round: seen(y) == x
          // while node x gathers its candidates
          val scratch = ThreadLocal.withInitial[Array[Int]](() => Array.fill(nv)(-1))
          val next = new Array[Edges](nv)
          java.util.stream.IntStream.range(0, nv).parallel().forEach { x =>
            val seen = scratch.get()
            val buf = new Buf(kd)
            def offer(y: Int): Unit = if (y != x && seen(y) != x) {
              seen(y) = x
              buf.insert(y.toLong, if (x < y) cosine(x, y) else cosine(y, x))
            }
            for (m <- membs(x)) {
              val c = (m >>> 32).toInt
              val newX = isNew(c)(m.toInt)
              val nbrs = und(c)
              for (j <- nbrs.indices) if (newX || isNew(c)(j)) offer(nbrs(j))
            }
            sd(x).dst.foreach(offer)
            revs(x).foreach(offer)
            next(x) = if (buf.size == 0) noEdges else edges(buf)
          }
          Fixpoint.Step((next, und), next.map(_.dst.length.toLong).sum)
        }
      }
      Fixpoint.frame(fp.session, StructType(Seq(StructField("src", LongType),
          StructField("dst", LongType), StructField("cosine", DoubleType))),
        for (x <- 0 until nv; i <- sd(x).dst.indices)
          yield Row(v.ids(x), v.ids(sd(x).dst(i)), sd(x).cos(i)))
    }
  }

  /** Plan probe for the audit harness: the descent's seed contraction
    * (bits candidates → [[directedTopFrom]]) exactly as the build runs
    * it. PlanAudit asserts it plans as a hash-regime ObjectHashAggregate
    * over graft_top_edges — a SortAggregate here means the
    * fallback-threshold session conf regressed and every descent round
    * re-sorts its corpus-scale input. */
  private[graft] def seedContractionProbe(spark: SparkSession, dir: String): DataFrame = {
    val q = graft.Caches.cached(DedupOps.quantized(spark, dir))
    val n = graft.Tables.load(spark, dir, "embeddings").count()
    directedTopFrom(
      bitsScored(q, n, DescentSeedTables, DescentSeedTarget, dedup = false), DescentK)
  }

  /** Directed top-k per endpoint from a scored pair relation — the
    * descent's per-round contraction. Duplicate (ida, idb) rows are
    * WELCOME: the native [[graft.functions.TopKEdgesAgg]] collapses
    * them inside its bounded buffer, so callers skip the pair DISTINCT
    * (one full corpus-scale shuffle per round) and the rank window's
    * second full shuffle + sort — the aggregate map-side-combines each
    * task's billion-pair input down to ≤ |src|·k buffer entries before
    * anything moves. Output is byte-identical to the DISTINCT +
    * row_number(cosine DESC, dst ASC) ≤ k formulation the DuckDB twin
    * keeps (measured at sf10: round 1 357 → ~130 s, full build
    * 1011 → ~712 s median at unchanged recall — ARCHITECTURE.md's
    * descent cost anatomy). */
  private def directedTopFrom(scored: DataFrame, k: Int): DataFrame = {
    val directed = scored.select(explode(array(
        struct(col("ida").as("src"), col("idb").as("dst"), col("cosine")),
        struct(col("idb").as("src"), col("ida").as("dst"), col("cosine")))).as("e"))
      .select(col("e.src"), col("e.dst"), col("e.cosine"))
    directed.groupBy("src")
      .agg(graft.functions.VectorFunctions.topEdges(col("dst"), col("cosine"), k).as("tk"))
      .select(col("src"), explode(col("tk")).as("e"))
      .select(col("src"), col("e.dst").as("dst"), col("e.cosine").as("cosine"))
  }

  /** (vec_id, cl) with cl = table · 2^b + signature bucket, one row per
    * (vector, table). The b·[[BitsTables]] plane dot products run once
    * per row in the native codegen'd loop; sign bits assemble the
    * bucket id per table. Ids only — consumers re-attach vectors from
    * the cached quantized frame, so the checkpoint stores 2 columns. */
  private def bitAssign(q: DataFrame, n: Long,
                        tables: Int = BitsTables,
                        targetList: Long = BitsTargetList): DataFrame = {
    val b = autoPlanes(n, targetList)
    val dots = (0 until tables).flatMap { t =>
      (0 until b).map { h =>
        val hh = t * 64 + h
        val w = (1 to DedupOps.Dim).map(d => bitPlaneWeight(hh, d).toLong)
        graft.functions.VectorFunctions.dotLong(col("qv"), typedlit(w))
          .as(s"dot_${t}_$h")
      }
    }
    val withDots = q.select(col("vec_id") +: dots: _*)
    val tableCls = (0 until tables).map { t =>
      val bucket = (0 until b).map { h =>
        when(col(s"dot_${t}_$h") >= 0, lit(1L << h)).otherwise(lit(0L))
      }.reduce(_ + _)
      (lit(t.toLong) * lit(1L << b) + bucket).as(s"cl_$t")
    }
    withDots
      .withColumn("cl", explode(array(tableCls: _*)))
      .select(col("vec_id"), col("cl"))
  }

  /** Shared mutual-top-k tail: mirror the undirected scored pairs, rank
    * per endpoint, keep edges BOTH endpoints rank top-k.
    *
    * Two recompute guards (r11 — sim_pagerank measured 51.6 s at sf0.1
    * because every consumer materialization re-derived the WHOLE
    * candidate-scoring pipeline several times over):
    *  - the mirror is one `explode` of each scored row into its two
    *    directions, not a self-union — a union's branches each rescan
    *    (and here re-SCORE) the child, and the swapped join keys defeat
    *    exchange reuse;
    *  - the ranked top-k relation (≤ [[KGraph]] rows per endpoint —
    *    k·2n rows total, tiny next to the pair space) is cached before
    *    the mutuality self-join, so the forward/reverse sides share one
    *    materialization instead of each rebuilding
    *    quantize→train→block→score. */
  private def mutualizeCore(scored: DataFrame): DataFrame = {
    val directed = scored.select(explode(array(
        struct(col("ida").as("src"), col("idb").as("dst"), col("cosine")),
        struct(col("idb").as("src"), col("ida").as("dst"), col("cosine")))).as("e"))
      .select(col("e.src"), col("e.dst"), col("e.cosine"))
    // per-endpoint top-k via the bounded TopKEdgesAgg (r21): the window
    // form sort-shuffled the ENTIRE mirrored scored relation (2× the
    // candidate pair space — the corpus-scale frame of every graph
    // build); the aggregate map-side-combines each task down to ≤ k
    // buffer entries per endpoint before the exchange, and its in-buffer
    // duplicate collapse makes the callers' pair DISTINCT (one more full
    // shuffle of the candidate relation) redundant — both removed.
    // Output byte-identical to DISTINCT + row_number (the DuckDB twins
    // keep that formulation; same argument as [[directedTopFrom]]).
    val topk = graft.Caches.cached(
      directed.groupBy("src")
        .agg(graft.functions.VectorFunctions.topEdges(
          col("dst"), col("cosine"), KGraph).as("tk"))
        .select(col("src"), posexplode(col("tk")).as(Seq("p", "e")))
        .select(col("src"), col("e.dst").as("dst"), col("e.cosine").as("cosine"),
          (col("p") + 1).cast("long").as("rnk")))
    topk.as("f").join(topk.as("r").hint("shuffle_hash"),
        col("f.src") === col("r.dst") && col("f.dst") === col("r.src"))
      .filter(col("f.src") < col("f.dst"))
      .select(col("f.src").as("ida"), col("f.dst").as("idb"),
        col("f.cosine").as("cosine"),
        col("f.rnk").as("rnk_a"), col("r.rnk").as("rnk_b"))
  }

  /** Recall of the Voronoi-blocked mutual k-NN graph ([[knnGraph]],
    * nprobe=1) against the EXACT mutual k-NN ground truth, restricted to
    * edges incident to the eval query set (vec_id < [[EvalQueries]]) — the
    * number that prices the blocking's cross-list misses, measured by
    * the gate every round instead of trusted to prose (the same
    * discipline as [[lshRecall]] / [[ivfRecall]]).
    *
    * Ground truth WITHOUT an all-pairs scan: the mutual-edge test for a
    * query q needs only (1) q's exact global top-k — |queries|·n dot
    * products with the query frame broadcast — and (2) the exact global
    * top-k of q's ≤ k·|queries| candidate neighbors, another linear
    * broadcast pass. Both arms are O(|eval set|·n): the eval harness
    * stays linear in the corpus at any scale, where a full-graph ground
    * truth would be the O(n²) blowup the blocked operator exists to
    * avoid. Per query: its true mutual neighbors, how many survive in
    * the blocked graph, and the recall ratio (vacuously 1.0 for a query
    * with no true mutual neighbor). */
  def knnRecall(spark: SparkSession, dir: String): DataFrame =
    knnRecallOf(spark, dir, knnGraphEdges(spark, dir))

  /** [[knnRecall]] for the 2-probe graph — the number that shows what
    * the second probe buys (measured: 1-probe ≈ 0.10 on the synthetic
    * corpus at sf0.01; the gate re-derives both every round). */
  def knnRecall2(spark: SparkSession, dir: String): DataFrame =
    knnRecallOf(spark, dir, knnGraph2Edges(spark, dir))

  /** [[knnRecall]] for the bit-signature graph — the number that prices
    * [[knnGraphBits]]' linear-cost trade: signature recall DECAYS as the
    * plane count grows with the corpus, and this gate re-derives the
    * decay point every round instead of trusting the theory. */
  def knnRecallBits(spark: SparkSession, dir: String): DataFrame =
    knnRecallOf(spark, dir, knnGraphBitsEdges(spark, dir))

  /** [[knnRecall]] for the descent-refined graph — the gate that has to
    * show the refinement actually recovering the cross-bucket edges the
    * bits seed loses (same eval set, same ground truth, directly
    * comparable to [[knnRecallBits]] row by row). */
  def knnRecallRefined(spark: SparkSession, dir: String): DataFrame =
    knnRecallOf(spark, dir, knnGraphRefinedEdges(spark, dir))

  /** The gate body behind every knnRecall* query — graph-agnostic, so
    * the sweep harness ([[graft.RecallGate]]) and Bench's shared-build
    * attribution can score an already-built (ida, idb) edge relation. */
  private[graft] def knnRecallOf(spark: SparkSession, dir: String,
                                 graph: DataFrame): DataFrame = {
    val q = graft.Caches.cached(DedupOps.quantized(spark, dir))
    def directedTopK(src: DataFrame): DataFrame = {
      val pairs = broadcast(src).as("a").join(q.as("b"),
          col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"),
          DedupOps.dotCosine("a", "b").as("cosine"))
      // bounded top-k aggregate, not a row_number window (r21): the
      // |eval|·n scored relation map-side-combines to ≤ k rows per query
      // before the exchange instead of sort-shuffling whole (pairs are
      // unique, so the buffer's dedup is a no-op; identical output)
      pairs.groupBy("src")
        .agg(graft.functions.VectorFunctions.topEdges(
          col("dst"), col("cosine"), KGraph).as("tk"))
        .select(col("src"), posexplode(col("tk")).as(Seq("p", "e")))
        .select(col("src"), col("e.dst").as("dst"), col("e.cosine").as("cosine"),
          (col("p") + 1).cast("long").as("rnk"))
    }
    val qset = q.filter(col("vec_id") < EvalQueries)
    val fwd = graft.Caches.cached(directedTopK(qset))
    val nbrs = q.join(broadcast(fwd.select(col("dst").as("vec_id")).distinct()), "vec_id")
    val rev = directedTopK(nbrs)
    // true mutual edge q→n: q ranks n top-k AND n ranks q top-k (global
    // ranks both ways — rev re-ranks each candidate against the corpus)
    val truth = fwd.as("f").join(rev.as("r"),
        col("f.src") === col("r.dst") && col("f.dst") === col("r.src"))
      .select(col("f.src").as("query_id"), col("f.dst").as("nbr"))
    val found = graph.select(col("ida"), col("idb"))
    val hits = truth.join(found,
        least(col("query_id"), col("nbr")) === col("ida") &&
          greatest(col("query_id"), col("nbr")) === col("idb"), "left")
      .select(col("query_id"), col("nbr"), col("ida").isNotNull.as("hit"))
    qset.select(col("vec_id").as("query_id"))
      .join(hits, Seq("query_id"), "left")
      .groupBy("query_id")
      .agg(count(col("nbr")).as("n_true"),
        coalesce(sum(when(col("hit"), 1L).otherwise(0L)), lit(0L)).as("hits"))
      .select(col("query_id"), col("n_true"), col("hits"),
        when(col("n_true") === 0, lit(1.0))
          .otherwise(col("hits").cast("double") / col("n_true")).as("recall"))
      .orderBy("query_id")
  }

  /** Connected components over the mutual-kNN edge relation — semantic
    * clusters without any pre-existing label: [[knnGraph2]]'s edges fed
    * to the same Kiveris star-contraction fixpoint the near-dup cluster
    * family runs ([[DedupOps.starComponents]] — O(log n) rounds, exact
    * convergence, driver reads only aggregates). Composition, not new
    * machinery: the graph op and the component op are both corpus-scale
    * proven on their own. The consumers run on the 2-PROBE graph — the
    * second probe roughly doubles measured mutual-edge recall for a
    * bounded ≤ 4× candidate constant, and clusters built on the
    * higher-recall graph are what a curation pipeline actually wants
    * (r9/r10 verdicts flagged consuming the 1-probe graph while the
    * better one sat one call away). */
  def knnComponents(spark: SparkSession, dir: String): DataFrame =
    knnComponentsFrom(knnGraph2Edges(spark, dir))

  /** Connected components over the DESCENT-REFINED graph — the
    * linear-build composition: at ≥ 10⁸ vectors the 2-probe Voronoi
    * build's n^1.5 pair space is unpayable and [[knnGraphRefined]] is
    * the high-recall graph that still exists (measured 0.90+ recall at
    * the largest gate scale, RECALL artifact); the component fixpoint
    * itself is scale-indifferent — it sees only (ida, idb). */
  def knnComponentsRefined(spark: SparkSession, dir: String): DataFrame =
    knnComponentsFrom(knnGraphRefinedEdges(spark, dir))

  /** The fixpoint over an explicit edge relation — shared by the
    * 2-probe and refined compositions and by Bench's shared-build
    * attribution (which scores a pre-checkpointed graph). */
  private[graft] def knnComponentsFrom(graph: DataFrame): DataFrame =
    DedupOps.starComponentsCore(
      graph.select(col("ida").as("doc_a"), col("idb").as("doc_b")))
      .select(col("doc_id").as("vec_id"), col("cluster_id"))
      .orderBy("vec_id")

  /** Shared per-query top-K tail (r21): the bounded dedup-ing
    * [[graft.functions.TopKEdgesAgg]] instead of a row_number window —
    * map-side combinable, so each task reduces its candidate rows to
    * ≤ K per query before the exchange, where the window form
    * sort-shuffled the WHOLE scored pair relation (|queries|·candidates
    * rows; guide §2.3 "aggregate before you shuffle"). Output is
    * byte-identical: same (cosine DESC, neighbor ASC) order, rnk =
    * 1-based buffer position, duplicate collapse a no-op on the unique
    * pair inputs every caller feeds (same equivalence argument as the
    * descent contraction, [[directedTopFrom]]).
    *
    * PRECONDITION (r21 advice): callers must feed UNIQUE (query_id,
    * neighbor) pairs — true of all three today (brute cross-join, LSH
    * with candidate distinct, single-assignment IVF). A caller feeding
    * duplicates would see them collapsed to ONE rnk slot with the next
    * neighbor pulled up, where the old row_number window ranked both
    * copies; duplicates are only harmless when they carry identical
    * cosine (the graph builds' invariant, not asserted here). */
  private def rank(pairs: DataFrame): DataFrame =
    pairs.groupBy("query_id")
      .agg(graft.functions.VectorFunctions.topEdges(
        col("neighbor"), col("cosine"), K).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("p", "e")))
      .select(col("query_id"), col("e.dst").as("neighbor"),
        col("e.cosine").as("cosine"), (col("p") + 1).cast("long").as("rnk"))
      .orderBy("query_id", "rnk")

  /** Integer PageRank over the mutual k-NN graph — semantic authority
    * scoring: vectors many vectors agree are their nearest neighbors
    * rank high, the label-free "representative member" signal for a
    * semantic cluster (the companion of [[knnComponents]] on the same
    * edge-list seam). Simplified PageRank, defined EXACTLY: rank in ppm,
    * r₀ = 10⁶, rₜ₊₁(v) = 150000 + (850000 · Σ_{u→v} (rₜ(u) div
    * deg(u))) div 10⁶, a FIXED 10 iterations — every operation integer
    * (both engines floor identically on non-negatives), no dangling
    * redistribution (the mutual graph has no sinks among connected
    * nodes; isolated vectors hold the base rank 150000+850000·0).
    * Fixed iterations → deterministic, oracle-replayable (the DuckDB
    * twin unrolls the same 10 rounds), and no convergence test —
    * unlike the cluster fixpoints there is nothing to test. At 100 TB:
    * one (src, dst, deg) relation checkpointed; each round is a
    * rank⋈edges co-shuffle + a dst-keyed sum (deg ≤ k = 3, so
    * contribution fan-out is bounded), and the rounds chain lazily into
    * one checkpoint. An edge list that fits the [[Fixpoint]] driver tail
    * runs its rounds on the driver. */
  def pageRank(spark: SparkSession, dir: String, iters: Int = 10): DataFrame =
    pageRankOverGraph(spark, dir, knnGraph2Edges(spark, dir), iters)

  /** PageRank over the DESCENT-REFINED graph — same recurrence, linear
    * graph build (the 100 TB composition; see [[knnComponentsRefined]]). */
  def pageRankRefined(spark: SparkSession, dir: String): DataFrame =
    pageRankOverGraph(spark, dir, knnGraphRefinedEdges(spark, dir))

  private[graft] def pageRankOverGraph(spark: SparkSession, dir: String,
                                       graph: DataFrame, iters: Int = 10): DataFrame = {
    // cache the edge list: pageRankFrom's out-degree relation AND the
    // final deg re-attach both read it — uncached, the second consumer
    // rebuilt the whole graph (quantize→train→block→score→mutualize)
    val g = graft.Caches.cached(graph.select(col("ida"), col("idb")))
    val nodes = DedupOps.quantized(spark, dir).select(col("vec_id"))
    pageRankFrom(nodes, g, iters,
      nodeCount = Some(graft.Tables.load(spark, dir, "embeddings").count()))
  }

  /** The ppm recurrence over an explicit (nodes, undirected edges) pair —
    * shared by [[pageRank]] and [[clusterExemplars]] so the composed
    * operator builds the graph ONCE.
    *
    * Iterative-tail parallelism: the per-round frames are NODE-sized
    * (≤ n rank rows, ≤ k·2n edge rows), so when `nodeCount` is known the
    * loop runs under a shuffle-partition count derived from the DATA
    * (~100k rows per partition, capped at the session default) instead
    * of the corpus-wide setting. At sf0.1 the default 32 partitions made
    * each of the 10 rounds ~10 32-task stages — ~1.6 s of pure task
    * latency per round, 16 of sim_pagerank's 21.7 s (r11 measurement);
    * at cluster scale the cap keeps the configured parallelism. The conf
    * is restored before returning — the final assembled plan (and every
    * other query) still plans under the session default. */
  private[operators] def pageRankFrom(nodes: DataFrame, g: DataFrame,
                                      iters: Int = 10,
                                      nodeCount: Option[Long] = None): DataFrame =
    pageRankUnsorted(nodes, g, iters, nodeCount).orderBy("vec_id")

  /** [[pageRankFrom]] without the presentation sort — for consumers that
    * join the rank relation onward (exemplars), where the global sort of
    * the node-sized frame buys nothing (guide §2.4).
    *
    * PRECONDITION (r21 advice): every endpoint of `g` must appear in
    * `nodes`. The active-nodes loop iterates over edge endpoints and only
    * restricts to `nodes` at the final left join — a ghost endpoint
    * outside `nodes` would feed rank into real nodes, where the pre-r21
    * form (which re-joined `nodes` every round) excluded it. Every
    * caller passes nodes = the full vector id set ⊇ all graph endpoints,
    * so the two forms are output-identical today; a future caller with
    * nodes ⊂ endpoints would not be. */
  private[graft] def pageRankUnsorted(nodes: DataFrame, g: DataFrame,
                                      iters: Int = 10,
                                      nodeCount: Option[Long] = None): DataFrame =
    Fixpoint.run("pagerank", nodes.sparkSession) { fp =>
      val edges = g.unionByName(g.select(col("idb").as("ida"), col("ida").as("idb")))
        .toDF("src", "dst")
      val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      // LEAN materialization barrier, not a plan-carrying cache: the loop
      // references the edge relation `iters` times, so it becomes a
      // shallow local checkpoint — (src, dst, deg) is ≤ k·2n short rows.
      // Reading an InMemoryRelation whose lineage is a join over the
      // cached ARRAY-bearing quantized frame instead cost ~0.7 s per round
      // in deserialization and cache-scan stages (r11 measurement: the 10
      // rounds fell from ~10-15 s to 0.2-0.5 s with lean checkpoints +
      // lazy chaining). The checkpoint is materialized here, so the graph
      // build it absorbs runs at FULL session parallelism, before the
      // reduced loop scope below; its row count sizes the driver tail.
      val (out, outRows) = fp.cut(edges.join(deg.hint("shuffle_hash"), "src"))
      // ACTIVE nodes only in the loop (r21): an isolated node (no edges)
      // never receives a contribution, so its rank is exactly 150000 +
      // (850000·0) div 10⁶ = 150000 from round 1 on — re-joining the full
      // node-id frame every round only re-derived that constant. The loop
      // now iterates over edge-endpoint nodes (every active node receives
      // ≥ 1 contribution per round because the mutual graph is symmetric,
      // so the contribution aggregate itself enumerates all of them — the
      // per-round left join back onto the node frame is gone: 10 joins +
      // 10 node-frame exchanges removed, guide §2.4), and isolated nodes
      // re-attach ONCE at the end via coalesce on the final left join.
      // Output identical for any iters ≥ 1 (the suite always runs 10).
      require(iters >= 1, "pageRankFrom: iters must be >= 1")
      fp.collectPairs(out.select(col("src"), col("dst")), outRows,
          3 * Fixpoint.FieldBytes) match {
        case Some(e) => pageRankOnDriver(fp, nodes, e, iters)
        case None =>
          // the rounds chain LAZILY — each is referenced exactly once by
          // the next, so nothing re-evaluates — and the single checkpoint
          // at the end materializes the whole chain INSIDE the
          // reduced-parallelism scope (laziness would otherwise defer
          // planning past the restore); the chain logs one record.
          // AQE stays on in the scope (r22 negative result): although every
          // join here is shuffle_hash-hinted, the balanced same-JVM A/B
          // (tools/ab_r22_aqe.jsonl) measured AQE-off as 1.16× SLOWER on this
          // loop — AQE's coalescing of the hinted exchanges is worth more
          // than the per-exchange stage-job overhead. See IterLoop's note.
          val ranks = IterLoop.withLoopPartitions(nodes.sparkSession, nodeCount) {
            val t0 = System.nanoTime()
            var r = out.select(col("src").as("vec_id")).distinct()
              .withColumn("rank_ppm", lit(1000000L))
            (1 to iters).foreach { _ =>
              r = r.join(out.hint("shuffle_hash"), col("vec_id") === col("src"))
                .select(col("dst"), expr("rank_ppm DIV deg").as("c"))
                .groupBy("dst").agg(sum(col("c")).as("s"))
                .select(col("dst").as("vec_id"),
                  expr("150000L + (850000L * s) DIV 1000000L").as("rank_ppm"))
            }
            val (ranks, rows) = fp.cut(r)
            fp.record(iters, "spark", rows, t0)
            ranks
          }
          nodes.select(col("vec_id"))
            .join(ranks.hint("shuffle_hash"), Seq("vec_id"), "left")
            .join(deg.hint("shuffle_hash"), col("vec_id") === col("src"), "left")
            .select(col("vec_id"), coalesce(col("deg"), lit(0L)).as("deg"),
              coalesce(col("rank_ppm"), lit(150000L)).as("rank_ppm"))
      }
    }

  /** The ppm rounds over the collected directed edge list (src → dst),
    * each operation the Spark rounds' own: integer `DIV` on non-negatives
    * and overflow-checked sums. Degrees and ranks return as one frame for
    * the final attach onto the node frame, so the driver path re-derives
    * no degree in Spark. */
  private def pageRankOnDriver(fp: Fixpoint, nodes: DataFrame, e: Fixpoint.Indexed,
                               iters: Int): DataFrame = {
    val deg = new Array[Long](e.n)
    e.a.foreach(u => deg(u) += 1)
    // -1 = no rank row (a node that received no contribution leaves the
    // frame, exactly as it leaves the Spark round's aggregate)
    val r0 = Array.tabulate(e.n)(u => if (deg(u) > 0) 1000000L else -1L)
    val ranks = fp.onDriver(r0, iters) { (r, _) =>
      val s = new Array[Long](e.n)
      val got = new Array[Boolean](e.n)
      for (i <- e.a.indices) if (r(e.a(i)) >= 0) {
        s(e.b(i)) = Math.addExact(s(e.b(i)), r(e.a(i)) / deg(e.a(i)))
        got(e.b(i)) = true
      }
      val next = Array.tabulate(e.n)(v =>
        if (got(v)) 150000L + Math.multiplyExact(850000L, s(v)) / 1000000L else -1L)
      Fixpoint.Step(next, next.count(_ >= 0).toLong)
    }
    val local = Fixpoint.frame(fp.session, StructType(Seq(
        StructField("vec_id", LongType), StructField("deg", LongType),
        StructField("rank_ppm", LongType))),
      (0 until e.n).filter(deg(_) > 0).map(v =>
        Row(e.ids(v), deg(v), if (ranks(v) >= 0) ranks(v) else null)))
    nodes.select(col("vec_id"))
      .join(local.hint("shuffle_hash"), Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("deg"), lit(0L)).as("deg"),
        coalesce(col("rank_ppm"), lit(150000L)).as("rank_ppm"))
  }

  /** Cluster exemplars — the composed read-side of the whole similarity
    * family: for every semantic cluster ([[knnComponents]]' star
    * contraction), its most AUTHORITATIVE member ([[pageRankFrom]]'s top
    * rank, ties to the smaller id) plus the member count — the "show me
    * one representative document per topic" query a curation pipeline
    * runs. The mutual k-NN graph is built ONCE and feeds both the
    * component fixpoint and the rank recurrence; the final exemplar pick
    * is a per-cluster window (bounded by cluster size), never a global
    * sort. */
  def clusterExemplars(spark: SparkSession, dir: String): DataFrame =
    clusterExemplarsFrom(spark, dir,
      knnGraph2Edges(spark, dir).select(col("ida"), col("idb")))

  /** [[clusterExemplars]] over the LINEAR bit-signature graph — the
    * consumer composition for corpora where the Voronoi build's n^1.5
    * pair space is unpayable (at 10⁹ vectors: ~3×10¹³ candidate dots vs
    * the bit graph's ~2.6×10¹¹). Same fixpoint, same rank recurrence,
    * same output contract; only the edge supplier changes — the whole
    * point of the shared (ida, idb) edge-list seam. */
  def clusterExemplarsBits(spark: SparkSession, dir: String): DataFrame =
    clusterExemplarsFrom(spark, dir,
      knnGraphBitsEdges(spark, dir).select(col("ida"), col("idb")))

  /** [[clusterExemplars]] over the DESCENT-REFINED graph — the linear
    * composition that also carries at-scale RECALL: the bits graph's
    * measured 0.02 sf10 recall means [[clusterExemplarsBits]]' clusters
    * degenerate to hash-collision groups at 100×, while the refined
    * graph holds high recall at its measured operating point (RECALL
    * artifact) at the same O(n) cost class. This is the variant a
    * large-corpus curation pipeline should run. */
  def clusterExemplarsRefined(spark: SparkSession, dir: String): DataFrame =
    clusterExemplarsFrom(spark, dir,
      knnGraphRefinedEdges(spark, dir).select(col("ida"), col("idb")))

  private[graft] def clusterExemplarsFrom(spark: SparkSession, dir: String,
                                          graph: DataFrame): DataFrame = {
    val g = graft.Caches.cached(graph)
    val comp = DedupOps.starComponentsCore(
        g.select(col("ida").as("doc_a"), col("idb").as("doc_b")))
      .select(col("doc_id").as("vec_id"), col("cluster_id"))
    val nodes = DedupOps.quantized(spark, dir).select(col("vec_id"))
    val pr = pageRankUnsorted(nodes, g,
        nodeCount = Some(graft.Tables.load(spark, dir, "embeddings").count()))
      .select(col("vec_id"), col("rank_ppm"))
    val w = Window.partitionBy("cluster_id")
    comp.join(pr.hint("shuffle_hash"), "vec_id")
      .withColumn("rn", row_number().over(
        w.orderBy(col("rank_ppm").desc, col("vec_id").asc)))
      .withColumn("n_members", count(lit(1)).over(w))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("vec_id").as("exemplar_id"),
        col("rank_ppm").as("exemplar_rank_ppm"), col("n_members"))
      .orderBy("cluster_id")
  }

  /** Exact covariance matrix of the embedding corpus — the
    * whitening/PCA front-end. ONE aggregate pass through the data via
    * the native [[graft.functions.VectorMomentsAgg]] imperative
    * aggregate (count + Σqᵢ + upper-triangular Σqᵢqⱼ in exact integer /
    * BigInteger arithmetic); everything after it — the pair explode, the
    * covariance division — operates on a SINGLE dim²-sized row. The
    * DataFrame alternative (explode dim·(dim+1)/2 products per row, then
    * groupBy) multiplies the corpus ×2080 before the shuffle; here only
    * O(dim²) numbers leave each partition, the map-side-combine shape
    * that survives 100 TB. Output: one row per (i ≤ j) with the exact
    * moments as digit strings and the covariance of the ORIGINAL float vectors
    * (de-quantized: cov = (n·Σqᵢqⱼ − Σqᵢ·Σqⱼ) / (n²·10¹²)) as the single
    * final float op, division order fixed for oracle hash-stability. */
  def embeddingCovariance(spark: SparkSession, dir: String): DataFrame = {
    val dim = DedupOps.Dim
    val q = DedupOps.quantized(spark, dir).select(col("qv"))
    val m = q.agg(graft.functions.VectorFunctions.vectorMoments(col("qv"), dim).as("m"))
      .select(col("m.n").as("n"), col("m.s1").as("s1"), col("m.s2").as("s2"))
    m.select(col("n"), col("s1"), col("s2"),
        explode(sequence(lit(0), lit(dim - 1))).as("i"))
      .select(col("n"), col("s1"), col("s2"), col("i"),
        explode(sequence(col("i"), lit(dim - 1))).as("j"))
      .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
        col("n").as("n_vectors"),
        element_at(col("s1"), col("i") + 1).as("s_i_d"),
        element_at(col("s1"), col("j") + 1).as("s_j_d"),
        element_at(col("s2"),
          expr(s"CAST($dim * i - (i * (i - 1)) DIV 2 + (j - i) + 1 AS INT)")).as("s_ij_d"))
      .withColumn("cov",
        (col("n_vectors") * col("s_ij_d") - col("s_i_d") * col("s_j_d")).cast("double") /
          (col("n_vectors").cast("double") * col("n_vectors").cast("double") * 1e12))
      // Contract: the exact moments travel as digit STRINGS, not
      // DECIMAL(38,0) — these are the only unbounded-precision columns
      // in the suite and downstream hashers canonicalize big decimals
      // inconsistently across engines; a digit string has exactly one
      // representation everywhere. The double `cov` stays numeric.
      .select(col("i"), col("j"), col("n_vectors"),
        col("s_i_d").cast("string").as("s_i"),
        col("s_j_d").cast("string").as("s_j"),
        col("s_ij_d").cast("string").as("s_ij"),
        col("cov"))
      .orderBy("i", "j")
  }

  /** Top principal component of the embedding cloud — the read-side of
    * the whitening/PCA story [[embeddingCovariance]] opens: 10 rounds of
    * deterministic INTEGER power iteration on the exact scaled
    * covariance, plus a Rayleigh-quotient eigenvalue. Output: one row
    * per dimension (i, component_ppm, eigenvalue), component scaled so
    * max |component| = 10⁶.
    *
    * 100 TB shape: the ONE corpus-scale stage is the same single-pass
    * native moments aggregate the covariance op uses (O(dim²) numbers
    * leave each partition); everything after is DIMENSION-sized — a
    * 64²-entry matrix and 64-entry vectors — so the iteration runs
    * lazily over dim-sized frames under a single shuffle partition
    * (dim² is a CONSTANT of the schema, not the corpus — unlike the
    * pageRank loop there is nothing here that grows, at any corpus).
    *
    * Determinism: the scaled covariance C'ᵢⱼ = sign·(|n·sᵢⱼ − sᵢ·sⱼ|
    * div cscale) with cscale = max(1, max|c| div 10¹²) bounds every
    * later product inside DECIMAL(38,0)/HUGEINT at ANY corpus size
    * (raw c reaches ~10³⁰ at 10⁹ vectors; scaled matvec terms stay
    * ≤ ~10²⁶); each round rescales vᵢ = sign·(|xᵢ|·10⁶ div max|x|).
    * Every division is arranged on non-negative operands, where Spark's
    * `div` and DuckDB's `//` agree; the oracle unrolls the same 10
    * rounds as chained CTEs (same discipline as the PageRank twin).
    * Power iteration from the all-ones vector has no sign/tie ambiguity
    * to agree on — the start vector and round count pin the result. */
  def topComponent(spark: SparkSession, dir: String): DataFrame =
    topComponentFrom(momentsOf(spark, dir))

  /** The one corpus-scale stage, CACHED so [[topComponent]] and
    * [[componentScores]] composed in one query share the single pass:
    * one row of (n, s1[dim], s2[dim·(dim+1)/2]) exact moments. */
  private[graft] def momentsOf(spark: SparkSession, dir: String): DataFrame = {
    val dim = DedupOps.Dim
    val q = DedupOps.quantized(spark, dir).select(col("qv"))
    graft.Caches.cached(
      q.agg(graft.functions.VectorFunctions.vectorMoments(col("qv"), dim).as("m"))
        .select(col("m.n").as("n"), col("m.s1").as("s1"), col("m.s2").as("s2")))
  }

  /** Driver-side power iteration (r21): the moments row is O(dim²)
    * numbers — a constant of the SCHEMA, not the corpus — so everything
    * after the one distributed moments pass is dimension-sized integer
    * arithmetic. The previous DataFrame form ran it as 10 chained
    * matvec+rescale rounds with a 64-row localCheckpoint each: ~20
    * driver-synchronous Spark jobs per query for work a single thread
    * finishes in microseconds (guide §5: the driver should do no DATA
    * work — a 64×64 matrix is not data; same bounded-collect class as
    * Q7's pivot-name discovery). Arithmetic is replicated operation for
    * operation in BigInt (`div` = truncate-toward-zero on the explicit
    * non-negative operands, the same sign-split CASE shape), and the
    * final double conversions use BigDecimal/long paths identical to
    * Spark's Decimal.toDouble — byte-identical output, proven by
    * TopComponentParitySpec against [[topComponentFromDistributed]] and
    * end-to-end by the sim_top_component / sim_component_scores oracle
    * rows. */
  private def topComponentFrom(m: DataFrame): DataFrame = {
    val dim = DedupOps.Dim
    val spark = m.sparkSession
    val row = m.select(col("n"), col("s1"), col("s2")).head()
    val n = BigInt(row.getLong(0))
    val s1 = row.getSeq[java.math.BigDecimal](1).map(d => BigInt(d.toBigInteger)).toArray
    val s2 = row.getSeq[java.math.BigDecimal](2).map(d => BigInt(d.toBigInteger)).toArray
    // raw c_ij = n·s2_ij − s1_i·s1_j, mirrored — same as the tri/full frames
    def pi(i: Int, j: Int): Int = dim * i - i * (i - 1) / 2 + (j - i)
    val c = Array.ofDim[BigInt](dim, dim)
    for (i <- 0 until dim; j <- i until dim) {
      val v = n * s2(pi(i, j)) - s1(i) * s1(j)
      c(i)(j) = v; c(j)(i) = v
    }
    // cscale = greatest(max(abs(c)) div 1e12, 1): `div` truncates toward
    // zero; abs(c) is non-negative so that is floor, as in the SQL form
    val one = BigInt(1)
    val cscale = (c.flatten.map(_.abs).max / BigInt(1000000000000L)) max one
    // scaled = CASE WHEN c < 0 THEN -((-c) div cscale) ELSE c div cscale
    val sc = c.map(_.map(x => if (x < 0) -((-x) / cscale) else x / cscale))
    def matvec(v: Array[BigInt]): Array[BigInt] =
      Array.tabulate(dim)(i => (0 until dim).map(j => sc(i)(j) * v(j)).sum)
    val M = BigInt(1000000L)
    var v = Array.fill(dim)(M)
    for (_ <- 1 to 10) {
      val x = matvec(v)
      val mx = x.map(_.abs).max max one
      v = x.map(xi => if (xi < 0) -((-xi) * M / mx) else xi * M / mx)
    }
    val xf = matvec(v)
    val vtcv = (0 until dim).map(i => xf(i) * v(i)).sum
    val vtv = (0 until dim).map(i => v(i) * v(i)).sum
    // Decimal(38,0).cast(double) == BigDecimal.doubleValue — replicate
    // the exact operation order of the Column expression:
    // ((vtcv / vtv) * cscale) / ((n · n) · 1e12)
    def d(x: BigInt): Double = new java.math.BigDecimal(x.bigInteger).doubleValue
    val eig = d(vtcv) / d(vtv) * d(cscale) / (d(n) * d(n) * 1e12)
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      (0 until dim).map(i => org.apache.spark.sql.Row(i.toLong, v(i).toLong, eig)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("i",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("component_ppm",
          org.apache.spark.sql.types.LongType, nullable = true),
        org.apache.spark.sql.types.StructField("eigenvalue",
          org.apache.spark.sql.types.DoubleType, nullable = true))))
      .orderBy("i")
  }

  /** The pre-r21 DataFrame-iterated form, kept as the parity witness for
    * the spec (TopComponentParitySpec asserts byte-identical output to
    * the driver-side [[topComponentFrom]] on the test corpus). */
  private[graft] def topComponentFromDistributed(m: DataFrame): DataFrame = {
    val dim = DedupOps.Dim
    val spark = m.sparkSession
    val tri = m.select(col("n"), col("s1"), col("s2"),
        explode(sequence(lit(0), lit(dim - 1))).as("i"))
      .select(col("n"), col("s1"), col("s2"), col("i"),
        explode(sequence(col("i"), lit(dim - 1))).as("j"))
      .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
        col("n"),
        (col("n") * element_at(col("s2"),
          expr(s"CAST($dim * i - (i * (i - 1)) DIV 2 + (j - i) + 1 AS INT)")) -
          element_at(col("s1"), col("i") + 1) *
            element_at(col("s1"), col("j") + 1)).as("c"))
    // mirror the upper triangle in ONE pass (the union form would run
    // the distributed moments aggregate once per branch)
    val full = tri.select(col("n"), explode(when(col("i") === col("j"),
          array(struct(col("i").as("i"), col("j").as("j"), col("c").as("c"))))
        .otherwise(array(
          struct(col("i").as("i"), col("j").as("j"), col("c").as("c")),
          struct(col("j").as("i"), col("i").as("j"), col("c").as("c"))))).as("e"))
      .select(col("n"), col("e.i").as("i"), col("e.j").as("j"), col("e.c").as("c"))
      .localCheckpoint()
    val cs = full.agg(
      expr("greatest(max(abs(c)) div 1000000000000L, 1L)").as("cscale"),
      max(col("n")).as("n"))
    val scaled = full.crossJoin(broadcast(cs))
      .select(col("i"), col("j"),
        expr("CASE WHEN c < 0 THEN -((-c) div cscale) ELSE c div cscale END").as("c"))
      .localCheckpoint()
    val result = IterLoop.withLoopPartitions(spark, Some(dim.toLong)) {
      var v = spark.range(dim).select(col("id").as("vi"), lit(1000000L).as("v"))
      def matvec(vt: DataFrame): DataFrame =
        scaled.join(vt, col("j") === col("vi"))
          .groupBy(col("i"))
          .agg(sum(col("c").cast("decimal(38,0)") * col("v")).as("x"))
      (1 to 10).foreach { _ =>
        // x appears in BOTH the max aggregate and the rescale, and the
        // max crossJoins back onto x — left lazy, each round DOUBLES the
        // plan tree (2¹⁰ copies of the moments subtree by round 10; the
        // analyzer never returns). The checkpoint is 64 rows.
        val x = matvec(v).localCheckpoint()
        val mx = x.agg(expr("greatest(max(abs(x)), CAST(1 AS DECIMAL(38,0)))").as("mx"))
        v = x.crossJoin(broadcast(mx))
          .select(col("i").as("vi"),
            expr("CASE WHEN x < 0 THEN -(((-x) * 1000000L) div mx) " +
              "ELSE (x * 1000000L) div mx END").as("v"))
      }
      val xf = matvec(v)
      val lam = xf.join(v, col("i") === col("vi"))
        .agg(sum(col("x") * col("v")).as("vtcv"),
          sum(col("v").cast("decimal(38,0)") * col("v")).as("vtv"))
      v = v.crossJoin(broadcast(lam)).crossJoin(broadcast(cs))
        .select(col("vi").as("i"), col("v").as("component_ppm"),
          (col("vtcv").cast("double") / col("vtv").cast("double") *
            col("cscale").cast("double") /
            (col("n").cast("double") * col("n").cast("double") * lit(1e12)))
            .as("eigenvalue"))
        .localCheckpoint()
      v
    }
    result.orderBy("i")
  }

  /** Projection of EVERY vector onto the top principal component — the
    * whitening transform in use: score(x) = (x − μ)·w in original
    * embedding units, where w is [[topComponent]]'s unit-scaled
    * direction and μ the exact mean. Kept integer to the last step:
    * score·(n·10¹²) = n·(qv·v) − Σᵢs1ᵢ·vᵢ exactly (qv = x·10⁶,
    * v = w·10⁶, the s1·v term is the ×n centering constant), one
    * DECIMAL(38,0) number per vector, divided once into a double.
    *
    * Scale shape: the moments pass is SHARED with the component (cached
    * one-row frame), the component + constants are dimension-sized and
    * broadcast via a 1-row crossJoin, and the score scan is one
    * stateless map over the corpus — no shuffle until the presentation
    * sort. */
  def componentScores(spark: SparkSession, dir: String): DataFrame = {
    val m = momentsOf(spark, dir)
    val tc = topComponentFrom(m)
    val varr = tc.agg(expr(
      "transform(sort_array(collect_list(struct(i, component_ppm))), x -> x.component_ppm)")
      .as("v"))
    val consts = varr.crossJoin(m.select(col("n"), col("s1")))
      .select(col("v"), col("n"),
        expr("aggregate(zip_with(s1, v, (a, b) -> a * b), " +
          "CAST(0 AS DECIMAL(38,0)), (acc, x) -> acc + x)").as("sv"))
    val q = DedupOps.quantized(spark, dir).select(col("vec_id"), col("qv"))
    q.crossJoin(broadcast(consts))
      .select(col("vec_id"),
        ((col("n") * graft.functions.VectorFunctions.dotLong(col("qv"), col("v"))
            .cast("decimal(38,0)") - col("sv")).cast("double") /
          (col("n").cast("double") * lit(1e12))).as("score"))
      .orderBy("vec_id")
  }
}
