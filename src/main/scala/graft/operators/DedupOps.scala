package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.{Caches, Tables}

/** Deduplication operator family over the `documents` table (north-star
  * extension ops — the dedup stack of an LLM training-data pipeline).
  *
  * Four detectors, one contract: emit the duplicate pairs (doc_a < doc_b)
  * with their similarity evidence. Exact dedup groups on a content hash;
  * the near-dup detectors differ in how they prune the O(n²) pair space:
  *
  *  - n-gram Jaccard: df-capped inverted index on shingles (pairs must
  *    share a sub-boilerplate shingle; hot shingles anti-joined away)
  *  - MinHash+LSH: banded signatures (pairs must collide in one band)
  *  - SimHash: 15-bit chunk blocking over a 60-bit sketch
  *  - embedding cosine: coarse-cluster (label) blocking, integer-quantized
  *
  * All pruning is recall-safe for the target thresholds and turns the
  * all-pairs quadratic into shuffle-sized candidate sets — the property
  * that matters at 100 TB, where a cross join is not an option.
  */
object DedupOps {
  import Texty._

  private val P = 2147483647L // 2^31 - 1, Mersenne prime for minhash perms

  // Always None; read by no production code, only by perfbench's start-of-run guard
  private[graft] val starSeedDistinctOverride: Option[Boolean] = None

  /** Drop the storage behind an eagerly-localCheckpointed frame once the
    * iterative loops below have advanced past it. (Dataset.unpersist
    * only clears CacheManager entries — checkpoint blocks belong to the
    * underlying RDD.) */
  private[graft] def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
      case _ => ()
    }

  /** doc_id → 60-bit hashes of the distinct word-3-shingles, the unit
    * all near-dup text ops share.
    *
    * Implementation note: the naive `transform(sequence(...), i =>
    * element_at(tokens(text), i))` form re-evaluates the tokenizer
    * expression per element after projection collapse — O(tokens²)
    * splits per document (measured 11 s at sf0.1). The cache barrier
    * materializes the token array first, so each element_at is an O(1)
    * lookup and shingle assembly is linear WITH NO SHUFFLE (the round-1
    * posexplode+lead-window form was also linear but paid a 1.5M-row
    * shuffle + sort per query). `shingles` applies array_distinct within
    * the doc, so no distinct shuffle is needed either, and hashing to
    * 8-byte longs happens before the explode leaves the scan stage. */
  private[graft] def shingleTable(spark: SparkSession, dir: String): DataFrame = {
    // spread the scan BEFORE tokenization: the cache materialization is
    // where the tokenizer runs, and a single-split toy-scale scan would
    // run it on one core (Tables.spread — no-op at real scale)
    val docs = Tables.spread(Tables.load(spark, dir, "documents"))
    val toks = Caches.cached(docs.select(col("doc_id"), tokens(col("text")).as("toks")))
    toks.select(col("doc_id"),
      explode(transform(shingles(col("toks"), 3), s => baseHash60(s))).as("h"))
  }

  /** Exact dedup via content hash (north-star; reference analogue: the
    * duplicate-line drop U4, ccmm/mgd/human_homologs.py:39-42). Every doc
    * maps to the smallest doc_id sharing its normalized-text md5. */
  def exact(spark: SparkSession, dir: String): DataFrame = {
    // spread before the per-row md5/tokenize work (no-op at real scale)
    val docs = Tables.spread(Tables.load(spark, dir, "documents"))
    val norm = concat_ws(" ", tokens(col("text")))
    docs.select(col("doc_id"), md5(norm).as("fp"))
      .withColumn("canonical_id", min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))))
      .select(col("doc_id"), col("fp").as("fp_md5"), col("canonical_id"),
        when(col("doc_id") === col("canonical_id"), 1L).otherwise(0L).as("is_canonical"))
      .orderBy("doc_id")
  }

  /** N-gram Jaccard near-dup pairs (jaccard >= 0.5) via a df-capped
    * inverted index: only pairs sharing at least one NON-HOT shingle are
    * scored. Shingles with document frequency > `maxDf` are excluded
    * from the index AND from the per-doc set sizes (the same truncated-
    * universe semantics as [[Texty.crossSourceOverlapFrom]], and the
    * oracle mirrors the cap), so the similarity is Jaccard over the
    * sub-boilerplate shingle universe. Without the cap one hot trigram
    * ("terms of service") with df = m emits O(m²) join rows — at 100 TB
    * that is a single-key quadratic; with it, per-key pair space is
    * bounded at maxDf² and total join output at O(#shingles · maxDf).
    * True near-dups lose hot shingles from numerator and denominator
    * alike, so their Jaccard is essentially unchanged; what the
    * truncation drops are pairs related ONLY through boilerplate, which
    * is precisely the relation a dedup pipeline does not want. The hot
    * list is corpus-dependent and unbounded, so it is anti-joined away
    * co-shuffled on the shingle hash (hinted shuffle_hash, never a
    * broadcast build side). */
  def ngramJaccard(spark: SparkSession, dir: String, maxDf: Int = 64): DataFrame =
    ngramJaccardPairs(spark, dir, maxDf).orderBy("doc_a", "doc_b")

  /** Plan probe for the audit harness (and [[ngramJaccardPairs]]'s index
    * builder): the df-capped inverted index exactly as the pair pipeline
    * builds it, BEFORE the checkpoint that hides it from the final plan
    * — PlanAudit asserts the hot-list exclusion stays a co-shuffled
    * LeftAnti with no broadcast build side here. */
  private[graft] def ngramIndexProbe(spark: SparkSession, dir: String,
                                     maxDf: Int = 64): DataFrame = {
    val raw = Caches.cached(shingleTable(spark, dir))
    // document frequency via groupBy (map-side combine absorbs hot keys;
    // a window over h would buffer a hot posting list in one task)
    val hot = raw.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select("h")
    raw.join(hot.hint("shuffle_hash"), Seq("h"), "left_anti")
  }

  /** [[ngramJaccard]] without the presentation sort (r21): the cluster
    * fixpoints consume the pair SET — the global sort of the corpus-pair
    * relation bought them nothing (guide §2.4, "an orderBy used only to
    * make output deterministic"), and the cache/checkpoint boundaries
    * they put above it stopped the optimizer from ever removing it. */
  private[operators] def ngramJaccardPairs(spark: SparkSession, dir: String,
                                           maxDf: Int = 64): DataFrame = {
    // shingles arrive as 60-bit longs: every downstream shuffle/join
    // moves 8-byte keys instead of ~20-byte strings, and the set
    // semantics are unchanged (within-pair collision odds ~1e-13)
    // localCheckpoint, not Caches.cached (r22): the checkpoint's
    // row-format blocks scan cheaper for the self-join's two readers
    // than the columnar cache (same-JVM A/B of exactly this change +
    // the counts cache below: 1.10×, tools/ab_r22b.jsonl), and the
    // anti-join runs exactly once either way. Same MEMORY_AND_DISK
    // footprint at any scale. The checkpoint hides the index build from
    // the final plan, so PlanAudit pins the LeftAnti/no-broadcast shape
    // on [[ngramIndexProbe]] instead.
    val sh = ngramIndexProbe(spark, dir, maxDf).localCheckpoint()
    // per-doc set sizes are corpus-sized (one row per document): both
    // attaches below co-shuffle on the doc key — never a broadcast
    // build side that scales with the corpus. Cached (r22): the relation
    // is consumed twice (doc_a and doc_b attach) and Catalyst does not
    // reuse the structurally-identical aggregate subtrees, so the
    // uncached form scanned and aggregated the shingle relation twice.
    val counts = Caches.cached(sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh")))
    val inter = sh.as("x").join(sh.as("y").hint("shuffle_hash"),
        col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(counts.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a")
        .hint("shuffle_hash"), "doc_a")
      .join(counts.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b")
        .hint("shuffle_hash"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
  }

  /** MinHash + banded LSH near-dup pairs, verified with exact Jaccard.
    * 16 permutation minhashes over shingle base-hashes; 8 bands × 2 rows.
    * For the planted near-dup population (j ≈ 0.97) the per-pair miss
    * probability is (1 - j²)⁸ ≈ 3e-10, so the verified output equals the
    * exact-Jaccard answer — which is exactly what the oracle checks.
    * Candidate generation shuffles on band keys (tiny); only candidates
    * pay the exact-verification join. This is the scale path: signatures
    * are 16 longs per doc regardless of doc length. */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame = {
    // one cached pass of 8-byte hashed shingles feeds signatures,
    // candidate verification, and set sizes
    val sh = Caches.cached(shingleTable(spark, dir))
    val hashed = sh.withColumn("h0", pmod(col("h"), lit(P)))
    val sigCols = (0 until 16).map { i =>
      min(pmod(col("h0") * lit(31L * i + 7L) + lit(17L * i + 3L), lit(P))).as(s"s$i")
    } :+ count(lit(1)).as("n_sh") // signature + set size in one shuffle
    val sigs = Caches.cached(hashed.groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*))
    val bands = sigs.select(col("doc_id"),
      explode(array((0 until 8).map(b =>
        concat_ws("_", lit(b), col(s"s${2 * b}"), col(s"s${2 * b + 1}"))): _*)).as("band"))
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    verifiedJaccard(cand, sh, sigs.select(col("doc_id"), col("n_sh")))
  }

  /** Per-document LSH band keys as a single STATELESS expression — the
    * same 16 permutation minhashes and 8×2 banding as [[minhashLsh]]'s
    * signature aggregation, but folded per row with array HOFs so a
    * STREAMING projection can compute it without a shuffle (a streaming
    * groupBy-min would be an update-mode aggregate and could not feed
    * the append-mode candidate operator downstream). Value-identity
    * with the batch band table is spec-pinned (StreamingLshSpec).
    * Null for documents too short to shingle (shingles() yields an
    * EMPTY array for those, so the guard is on size, not nullity —
    * an empty-array min is null and concat_ws would silently skip it,
    * colliding every short doc into the same degenerate buckets);
    * callers must filter, matching the batch operator, where short
    * docs produce zero shingle rows and zero bands. */
  private[graft] def bandsExpr(text: Column): Column = {
    val hs = transform(shingles(tokens(text), 3),
      s => pmod(baseHash60(s), lit(P)))
    val sig = (0 until 16).map(i =>
      array_min(transform(hs, h0 =>
        pmod(h0 * lit(31L * i + 7L) + lit(17L * i + 3L), lit(P)))))
    when(size(hs) > 0,
      array((0 until 8).map(b =>
        concat_ws("_", lit(b), sig(2 * b), sig(2 * b + 1))): _*))
  }

  /** Exact-Jaccard verification of a candidate pair relation against the
    * corpus shingle store — the tail shared by the batch [[minhashLsh]]
    * and the streaming twin's rollup (graft.streaming.DedupStream), so
    * the two surfaces cannot drift. `counts` carries (doc_id, n_sh). */
  private[graft] def verifiedJaccard(cand: DataFrame, sh: DataFrame,
      counts: DataFrame): DataFrame = {
    // exact verification restricted to candidates, joined on hashed keys
    val inter = cand
      .join(sh.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sh.as("b"), col("doc_b") === col("b.doc_id") && col("a.h") === col("b.h"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    inter
      .join(counts.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(counts.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .orderBy("doc_a", "doc_b")
  }

  /** Near-dup CLUSTER formation — connected components over the exact
    * n-gram Jaccard pair relation: each document that appears in a
    * near-dup pair is labeled with the minimum doc_id of its connected
    * component (the canonical survivor a dedup pipeline keeps).
    *
    * Algorithm: iterative min-label propagation to a fixpoint — per
    * round, every node takes the min of its own label and its neighbors'
    * labels; one shuffle per round, keyed on node id. Rounds needed =
    * component diameter, and near-dup components are star-like (diameter
    * ≤ ~3) because near-duplicate similarity is nearly transitive at
    * j ≥ 0.5 — so 2-4 rounds at any corpus size. For adversarial long-
    * chain graphs use [[nearDupClustersStar]] (alternating large-star/
    * small-star, O(log n) rounds, identical relation); propagation is
    * kept as the default because its round structure mirrors the
    * recursive-SQL oracle most directly. The rounds run under
    * [[Fixpoint]]: on the driver when the edge list fits its tail, else
    * as Spark rounds whose driver reads only one aggregate per round. */
  def nearDupClusters(spark: SparkSession, dir: String): DataFrame =
    propagationComponents(ngramJaccardPairs(spark, dir).select(col("doc_a"), col("doc_b")))
      .orderBy("doc_id")

  /** [[nearDupClusters]]' fixpoint over an explicit undirected pair
    * relation (doc_a, doc_b), without the presentation sort. */
  private[graft] def propagationComponents(pairs: DataFrame): DataFrame =
    Fixpoint.run("label_propagation", pairs.sparkSession) { fp =>
      // one materialized pass of the pair pipeline, counted: the symmetric
      // edge list (2 rows of (src, dst) per pair) is the loop's state
      val (p, np) = fp.cut(pairs)
      fp.collectPairs(p, 2 * np, 2 * Fixpoint.FieldBytes) match {
        case Some(g) => propagateOnDriver(fp, g)
        case None => propagateOnSpark(fp, p)
      }
    }

  /** Label propagation finished on the driver: the component pass gives
    * every node its component minimum, the labels the rounds settle on.
    * The Spark rounds settle after `depth` rounds — the seed covers one
    * hop, each round one more, and the round after the last change
    * confirms it (at least one round) — so past [[Fixpoint.MaxRounds]]
    * this path fails exactly where they do. */
  private def propagateOnDriver(fp: Fixpoint, g: Fixpoint.Indexed): DataFrame = {
    val t0 = System.nanoTime()
    val (label, depth) = g.components
    val rounds = math.max(depth, 1)
    fp.record(rounds, "driver", g.n, t0)
    require(rounds <= Fixpoint.MaxRounds,
      s"${fp.loop} did not converge in ${Fixpoint.MaxRounds} rounds")
    componentFrame(fp, g, label)
  }

  private def propagateOnSpark(fp: Fixpoint, p: DataFrame): DataFrame = {
    val edges = fp.checkpoint(
      p.unionByName(p.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
        .toDF("src", "dst"))
    // seed = identity labels with one propagation round applied for free
    // (min of self and direct neighbors) — saves a full join+agg round.
    // Rounds checkpoint rather than cache: each round's plan embeds the
    // previous round's, so caching alone would let the logical tree grow
    // exponentially with rounds (see starComponentsCore).
    val seed = fp.checkpoint(edges.groupBy(col("src").as("node"))
      .agg(min(col("dst")).as("mn"))
      .select(col("node"), least(col("node"), col("mn")).as("label")))
    // labels only ever DECREASE per node, so the total sum strictly
    // decreases iff any label changed — one aggregate per round (which
    // also materializes the round's checkpoint) instead of a
    // change-detection join
    def sumAndRows(df: DataFrame): (Long, Long) = {
      val r = df.agg(sum(col("label")), count(lit(1))).head()
      (if (r.isNullAt(0)) 0L else r.getLong(0), r.getLong(1))
    }
    val (seedSum, nodes) = sumAndRows(seed)
    // AQE stays on in the scope: the balanced A/B measured AQE-off flat
    // here (1.01×, tools/ab_r22_aqe.jsonl) — see IterLoop's note.
    val (labels, _) = fp.onSpark((seed, seedSum), Fixpoint.MaxRounds, converging = true,
        partitionRows = Some(nodes))(s => Seq(s._1)) { case ((labels, curSum), _) =>
      val nbrMin = edges.join(labels, col("src") === col("node"))
        .groupBy(col("dst")).agg(min(col("label")).as("nbr_label"))
      val next = fp.checkpoint(labels.join(nbrMin, col("node") === col("dst"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label")))
      val (nextSum, rows) = sumAndRows(next)
      Fixpoint.Step((next, nextSum), rows, done = nextSum == curSum)
    }
    labels.select(col("node").as("doc_id"), col("label").as("cluster_id"))
  }

  /** (doc_id, cluster_id) rows of a driver component labeling. */
  private def componentFrame(fp: Fixpoint, g: Fixpoint.Indexed, label: Array[Int]): DataFrame =
    Fixpoint.frame(fp.session, StructType(Seq(
        StructField("doc_id", LongType), StructField("cluster_id", LongType))),
      (0 until g.n).map(v => Row(g.ids(v), g.ids(label(v)))))

  /** Near-dup clusters via alternating LARGE-STAR / SMALL-STAR edge
    * contraction — the adversarial-graph variant of [[nearDupClusters]],
    * computing the identical component-min labeling of the exact-Jaccard
    * pair graph. The difference is round complexity: min-label
    * propagation needs O(diameter) shuffle rounds (fine for star-like
    * near-dup graphs, degenerate on chains), star contraction O(log n)
    * (public algorithm: Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC'14).
    *
    * large-star hangs every node's LARGER neighbors onto the smallest
    * node it can see; small-star re-hangs the smaller-or-equal ones.
    * Both preserve connectivity, never emit self-loops, and keep edges
    * canonically (bigger, smaller); the joint fixpoint is a forest of
    * stars rooted at the component minima. Each half-round is one
    * groupBy + one join keyed on node id on the Spark path, and
    * convergence is an EXACT set-equality check (count + except), not a
    * heuristic; small edge sets finish on the driver ([[Fixpoint]]). */
  def nearDupClustersStar(spark: SparkSession, dir: String): DataFrame =
    starComponents(ngramJaccardPairs(spark, dir).select(col("doc_a"), col("doc_b")))

  /** Component-min labeling (doc_id, cluster_id) of an undirected edge
    * list (doc_a, doc_b); every node incident to an edge is labeled.
    * Public: usable over any pair relation, not just the Jaccard graph. */
  def starComponents(pairs: DataFrame): DataFrame =
    starComponentsCore(pairs).orderBy("doc_id")

  /** [[starComponents]] without the presentation sort — the composition
    * seam for consumers that join or re-sort the labeling themselves
    * (knn components, exemplars); see [[ngramJaccardPairs]].
    *
    * NO seed distinct (r22): every production caller feeds unique
    * canonical pairs (groupBy outputs or mutualized top-k edges), so the
    * distinct was a full no-op exchange + hash-dedup of the edge relation
    * — dropped at a measured 1.11× on the fixpoint (same-JVM A/B both
    * orders, outputs asserted identical: tools/ab_r22c2.jsonl). Safe
    * even for a hypothetical duplicate-feeding caller: round 1's
    * largeStar ends in distinct() and re-establishes the invariant, the
    * forest probe cannot fire on a duplicated round (a dup u fails the
    * exactly-once test), and the fallback convergence check
    * compares SETS (count equality gates an except) — only the round-0
    * count would shift, never the labeling. */
  private[graft] def starComponentsCore(pairs: DataFrame): DataFrame =
    Fixpoint.run("star_contraction", pairs.sparkSession) { fp =>
      val (seed, seedCount) =
        fp.cut(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
      // self-loops leave the Spark rounds at largeStar's filter, and a
      // node with nothing else leaves the answer with them
      fp.collectPairs(seed.filter(!(col("u") <=> col("v"))), seedCount,
          2 * Fixpoint.FieldBytes) match {
        case Some(g) => starOnDriver(fp, g)
        case None => starOnSpark(fp, seed, seedCount)
      }
    }

  // r22 NEGATIVE RESULT, kept as shipped: two restructures of the star
  // rounds were built and rejected on a same-JVM adjacent A/B
  // (tools/ab_r22_star.jsonl -- order-cancelled geomean 1.10-1.16x
  // SLOWER across three reps in both orders): (a) dropping largeStar's
  // distinct (smallStar is duplicate-insensitive, so the distinct is
  // "only" a sharing barrier -- but without it each half-star's two
  // references re-execute the child chain, because the partial-agg
  // exchange and the join-probe exchange are not canonically equal and
  // ReuseExchange cannot dedupe them; an explicit repartition as the
  // shared exchange still lost), and (b) shuffle_hash hints + AQE
  // disabled in the loop scope -- AQE's runtime broadcast conversion of
  // the tiny per-round mins relations beats every static co-shuffle plan
  // at bench scale, and at corpus scale AQE makes the same call from real
  // sizes, so there is nothing to pin statically. The loop therefore
  // KEEPS AQE and the r20 formulation (the balanced AQE A/B in
  // tools/ab_r22_aqe.jsonl confirmed AQE-on across the loop family — see
  // IterLoop's note).
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      .toDF("n", "nbr")
    val mins = sym.groupBy("n").agg(min("nbr").as("mn"))
    sym.join(mins, "n")
      .filter(col("nbr") > col("n"))
      .select(col("nbr").as("u"), least(col("n"), col("mn")).as("v"))
      .distinct()
  }

  private def smallStar(e: DataFrame): DataFrame = {
    val mins = e.groupBy("u").agg(min("v").as("m"))
    val j = e.join(mins, "u")
    j.select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
      .unionByName(j.select(col("u"), col("m").as("v")))
      .distinct()
  }

  // Star-forest probe (r22, guide §1.2 — the fixpoint tail is per-job
  // fixed overhead, not data): a canonical (u > v) edge set is a star
  // forest rooted at its minima iff every u appears EXACTLY once and no
  // node appears as both a u and a v. Such a set is a FIXPOINT of
  // smallStar∘largeStar — largeStar keeps exactly the root-side rows
  // (member rows fail nbr > n since v < u) and re-emits (u, least(v, mn))
  // = (u, v); smallStar's per-u min is u's single v, so both branches
  // re-emit F — so once `next` is structurally a star forest, every later
  // round returns it verbatim and the comparison-based check would only
  // observe that after ONE MORE full identity round. Detecting
  // forest-ness directly stops that round early with byte-identical
  // output. The comparison stays as the fallback gate, so termination
  // does not DEPEND on the converse direction of the theorem (Kiveris et
  // al.: all fixpoints are such forests); a hypothetical non-forest
  // fixpoint converges exactly as before.
  // ONE aggregation pass returns (edge count, forest-ness) together — the
  // edge count is the per-node sum of u-occurrences (each edge
  // contributes exactly one) — so the round schedules a single action
  // that materializes the lazy checkpoint, counts, and probes at once.
  // An empty edge set aggregates to nulls → (0, forest), correct: the
  // empty set is trivially a fixpoint.
  private def countAndForest(e: DataFrame): (Long, Boolean) = {
    val st = e.select(explode(array(
        struct(col("u").as("nd"), lit(1L).as("cu")),
        struct(col("v").as("nd"), lit(0L).as("cu")))).as("x"))
      .select(col("x.nd"), col("x.cu"))
      .groupBy("nd").agg(sum("cu").as("cu"), count(lit(1)).as("ct"))
      .agg(sum("cu").as("edges"),
        max(when(col("cu") > 1L || (col("cu") === 1L && col("ct") > 1L), 1L)
          .otherwise(0L)).as("viol"))
      .head()
    (if (st.isNullAt(0)) 0L else st.getLong(0),
      st.isNullAt(1) || st.getLong(1) == 0L)
  }

  /** Star contraction finished on the driver: the component pass labels
    * every node with its component minimum, the star forest's roots. It
    * has no rounds, so no round cap: the Spark rounds' cap is a safety
    * bound that O(log n)-round contraction does not reach. */
  private def starOnDriver(fp: Fixpoint, g: Fixpoint.Indexed): DataFrame = {
    val t0 = System.nanoTime()
    val (label, _) = g.components
    fp.record(1, "driver", g.n, t0)
    componentFrame(fp, g, label)
  }

  // The rounds run over EDGE-sized two-column frames that only shrink,
  // so they plan under a partition count derived from the measured edge
  // count. Each round's lazy checkpoint is materialized by its one
  // countAndForest action (r22: one scheduled job per round where eager
  // checkpoint + count + probe scheduled three).
  private def starOnSpark(fp: Fixpoint, seed: DataFrame, seedCount: Long): DataFrame = {
    val (cur, _) = fp.onSpark((seed, seedCount), Fixpoint.MaxRounds, converging = true,
        partitionRows = Some(seedCount))(s => Seq(s._1)) { case ((cur, curCount), _) =>
      val next = fp.checkpoint(smallStar(largeStar(cur)))
      val (nextCount, isForest) = countAndForest(next)
      Fixpoint.Step((next, nextCount), nextCount,
        done = isForest || (nextCount == curCount && next.except(cur).isEmpty))
    }
    // the final checkpointed edge set backs the returned frame
    val members = cur.select(col("u").as("doc_id"), col("v").as("cluster_id"))
    val roots = cur.select(col("v")).distinct()
      .select(col("v").as("doc_id"), col("v").as("cluster_id"))
    members.unionByName(roots)
  }

  /** SimHash near-dup pairs: 60-bit sketch from per-shingle base hashes,
    * candidates blocked on four 15-bit chunks (pigeonhole: any pair with
    * hamming ≤ 3 must agree on a full chunk; pairs at hamming 4-6 are
    * reported when they also share a chunk — the oracle replicates the
    * same pipeline, so both sides compute the identical relation). */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    val hashed = shingleTable(spark, dir)
    val bitSums = (0 until 60).map { j =>
      sum(shiftright(col("h"), j).bitwiseAND(lit(1L)) * 2 - 1).as(s"b$j")
    }
    val sums = hashed.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val simhashCol = (0 until 60).map { j =>
      when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    // checkpoint the n-row sketch relation (r22): the chunk self-join
    // below references it twice, and Catalyst does not reuse the
    // structurally-identical aggregate subtrees — the uncached form ran
    // the 60-column bit-sum aggregation over the corpus-scale shingle
    // relation once PER SIDE (dedup_simhash_before.txt: 6 HashAggregates,
    // two full agg pyramids). 16 bytes per document at any scale.
    val simh = sums.select(col("doc_id"), simhashCol.as("simhash")).localCheckpoint()
    val chunks = simh.select(col("doc_id"), col("simhash"),
        explode(array((0 until 4).map(c => struct(lit(c).as("c"),
          shiftright(col("simhash"), 15 * c).bitwiseAND(lit(32767L)).as("ck"))): _*)).as("ch"))
      .select(col("doc_id"), col("simhash"), col("ch.c"), col("ch.ck"))
    chunks.as("x").join(chunks.as("y"),
        col("x.c") === col("y.c") && col("x.ck") === col("y.ck") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 6)
      .orderBy("doc_a", "doc_b")
  }

  /** Embedding near-dup pairs: integer-quantized cosine within coarse
    * blocks (the `label` column stands in for an IVF cluster assignment).
    * Quantizing components to round(x·10⁶) makes the dot product exact
    * 64-bit integer math — bit-identical across engines and partition
    * orders; the only float ops (sqrt, divide) run on identical inputs.
    * Block-local pairing bounds the pair space to Σ|block|² — at scale
    * blocks come from a clustering step, keeping blocks ~constant-sized. */
  def embeddingNearDup(spark: SparkSession, dir: String): DataFrame =
    blockPairs(Caches.cached(quantized(spark, dir)), "label")

  /** Block-local pair scoring shared by the embedding near-dup family:
    * emit every same-block pair (vec_a < vec_b) with exact quantized
    * cosine ≥ 0.35. Both sides CO-SHUFFLE on (block, salt) — never a
    * corpus-sized broadcast, which is an OOM the first time the corpus
    * outgrows one executor. The block key alone is low-cardinality here
    * (10 toy blocks → ≤10 busy tasks), so the probe side scatters on a
    * deterministic salt of vec_id and the build side replicates into all
    * `Salt` slots: same pair set, Salt× the key space, full parallelism.
    * At real scale nlist ∝ √n makes the block key itself well-distributed
    * and AQE skew-join splits any residual hot list; the salt then just
    * caps the per-task pair quadrat. Build side is hinted shuffle_hash:
    * per (block, salt) key it holds 1/Salt of the block, so the hash map
    * stays small and neither side is sorted. */
  private def blockPairs(flat: DataFrame, key: String): DataFrame =
    saltedBlockCosines(flat, key)
      .filter(col("cosine") >= 0.35)
      .orderBy("vec_a", "vec_b")

  /** All block-local scored pairs (vec_a < vec_b), salted and unsorted —
    * the shared pair engine of [[blockPairs]] (which thresholds for the
    * near-dup relation) and [[SimilarityOps.knnGraph]] (which ranks, so
    * it must see every same-block pair). */
  private[operators] def saltedBlockCosines(flat: DataFrame, key: String): DataFrame = {
    val salt = 8
    val build = flat.withColumn("_salt", pmod(col("vec_id"), lit(salt)))
    val probe = flat.withColumn("_salt", explode(sequence(lit(0L), lit(salt - 1L))))
    probe.as("a").join(build.as("b").hint("shuffle_hash"),
        col("a." + key) === col("b." + key) && col("a._salt") === col("b._salt") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        col("a." + key).as(key), dotCosine("a", "b").as("cosine"))
  }

  /** Embedding near-dup WITHOUT a pre-existing blocking label — the
    * clustering step [[embeddingNearDup]] assumes done. Coarse Voronoi
    * blocking from a LEARNED quantizer: [[KMeans.fit]] trains
    * deterministic fixed-iteration Lloyd's centroids (init: vectors
    * 10..10+nlist with nlist = ⌊√n⌋, [[KMeans.autoNlist]] — ~√n lists of
    * ~√n vectors bound the same-list pair space at n^1.5), every vector
    * joins its max-cosine list, and only same-list pairs pay the exact
    * cosine. The blocking is nprobe=1, so cross-list near-dups are
    * missed — the standard recall/cost trade, and the oracle replays the
    * identical training + assignment so the gate is exact. Shuffle
    * shape: two broadcast-assign + co-shuffled-update rounds for the
    * quantizer, then one self-join co-shuffled on the list id. */
  def embeddingNearDupAuto(spark: SparkSession, dir: String): DataFrame = {
    val q = Caches.cached(quantized(spark, dir))
    // corpus count for the √n list-count rule: parquet metadata, no scan
    val n = Tables.load(spark, dir, "embeddings").count()
    val (asg, _) = KMeans.fitSized(q, n, nlist = KMeans.autoNlist(n))
    // the assignment is corpus-LENGTH (one row per vector) even though
    // it is narrow, so attaching it must co-shuffle on vec_id — Catalyst
    // would happily broadcast it at toy scale and OOM at real scale
    val blocked = q.join(asg.hint("shuffle_hash"), "vec_id")
    blockPairs(blocked, "cl")
  }

  /** The quantization expression itself — the ONE definition of
    * round(x·10⁶) that the batch frames and the streaming moments twin
    * must share byte-for-byte (the streaming-equals-batch contract is
    * exact integer equality of the moments). */
  private[graft] def quantizeExpr: org.apache.spark.sql.Column =
    transform(col("embedding"),
      x => round(x.cast("double") * 1000000).cast("long"))

  /** vec_id, label, qv (quantized), nrm — shared by dedup + similarity.
    * NOT spread (r21): several consumers filter on vec_id (KMeans seed
    * rows, the recall gates' eval query set) and a repartition above the
    * scan would block that pushdown; the quantize HOFs are cheap next to
    * the pair work every consumer does afterwards (measured: spreading
    * here regressed sim_ivf_topk/dedup_embedding_auto ~2×). */
  private[graft] def quantized(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings").select(
      col("vec_id"), col("label"), quantizeExpr.as("qv"))
      .withColumn("nrm", aggregate(transform(col("qv"), x => x * x), lit(0L), _ + _))

  val Dim = 64

  /** Exact cosine of two quantized vectors from their natural
    * `Array[Long]` columns, via the native codegen'd
    * [[graft.functions.LongArrayDot]] expression. History: rounds 1-6
    * flattened vectors to one column per dimension because Spark's
    * higher-order array functions are interpreted — measured 2.2-2.7×
    * SLOWER than this native loop on the sf1 pair workloads (and 64×
    * the column width through every shuffle/cache); the flattening
    * workaround is gone. Callers must feed frames whose `qv` descends
    * from a cache/checkpoint barrier so the quantizing `transform`
    * isn't re-inlined per consumer. */
  private[operators] def dotCosine(a: String, b: String) = {
    val dot = graft.functions.VectorFunctions.dotLong(col(s"$a.qv"), col(s"$b.qv"))
    dot.cast("double") / sqrt(col(s"$a.nrm").cast("double")) / sqrt(col(s"$b.nrm").cast("double"))
  }

  /** Exact cosine of two quantized vectors (aliases `a`, `b`). */
  private[operators] def cosineCol(a: String, b: String) = {
    val dot = aggregate(
      zip_with(col(s"$a.qv"), col(s"$b.qv"), _ * _), lit(0L), _ + _)
    dot.cast("double") / sqrt(col(s"$a.nrm").cast("double")) / sqrt(col(s"$b.nrm").cast("double"))
  }
}
