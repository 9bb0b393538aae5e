package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scale-point generator: synthesizes an N× copy of an existing testdata
  * directory so the bench suite can measure each operator's COST CURVE
  * (sf0.1 → sf1) before a real cluster does. Usage:
  *
  *   runMain graft.ScaleGen [srcDir] [outDir] [copies]
  *
  * Replication preserves the statistical shape rather than just
  * concatenating rows:
  *  - fact/dimension keys are remapped per copy (stride 10M, far above
  *    every source key), so foreign-key fan-outs, group sizes, and join
  *    selectivities stay EXACTLY those of the source scale;
  *  - `events` copies get fresh user_ids — scaling adds users, it does
  *    not deepen per-user histories (which would distort window costs);
  *  - `documents` copies suffix EVERY word with a copy-specific marker,
  *    so copies are NOT near-duplicates of each other and the corpus
  *    duplicate DENSITY stays realistic (verbatim copies would multiply
  *    every near-dup cluster by copies²), while two docs in a copy share
  *    a word-k-shingle exactly when their sources do — per-shingle
  *    document frequencies, the quantity that drives inverted-index join
  *    fan-out, keep the source distribution. (An earlier interleaving
  *    scheme collided copy shingles on source BIGRAMS and inflated
  *    dedup_ngram_jaccard's scaling to ×104; suffixing measures ×13.)
  *    Copy 0 is the source corpus verbatim, so planted near-dup pairs
  *    survive;
  *  - `embeddings` copies get a per-copy ORTHOGONAL transform of their
  *    vectors ([[perturbEmbedding]]: a signed coordinate permutation) and
  *    per-copy labels, so copies are NOT near-duplicates of each other
  *    (verbatim copies would put N exact duplicates of every vector in
  *    one block and grow the block-local pair space — the exact quantity
  *    the embedding dedup family is benched on — ∝ N² instead of ∝ N)
  *    while within a copy every pairwise quantized dot product and norm
  *    is EXACTLY the source's, so near-dup density and per-block pair
  *    counts keep the source distribution. Copy 0 is verbatim, so ANN
  *    queries (vec_id < 10) and k-means seeds stay the original vectors;
  *  - `region`/`nation` are genuine dimensions and stay fixed, as in
  *    TPC-H itself.
  *
  * Everything is deterministic — no RNG — so a scale point is
  * reproducible bit-for-bit.
  */
object ScaleGen {
  private val Stride = 10000000L

  /** Per-copy orthogonal vector transform: e'_i = sign(i,k) · e_{(i+7k) mod 64}
    * with sign(i,k) = 1 − 2·((k >> (i mod 4)) & 1) — a signed coordinate
    * permutation, distinct for every copy k < 64 (gcd(7,64)=1 keeps the
    * shifts distinct) and the identity for k = 0. Orthogonality means the
    * transform preserves every within-copy inner product and norm; because
    * the engine quantizes PER COMPONENT (round(x·10⁶), odd-symmetric:
    * round(−x) = −round(x)), the quantized transformed vectors are exactly
    * the signed permutation of the quantized sources, so within-copy
    * integer dot products and norms — hence the near-dup relation and ANN
    * ranking inside a copy — are bit-identical to the source corpus.
    * Across copies the permutations differ, so a vector and its copies
    * sit at random-level cosine (|E| ~ 1/√64) instead of exactly 1.0 —
    * decorrelated, not near-duplicates (asserted by ScaleGenSpec). */
  private[graft] def perturbEmbedding(emb: Column, k: Column): Column = {
    val kInt = k.cast("int")
    transform(sequence(lit(0), lit(63)), i => {
      val src = element_at(emb, (pmod(i + lit(7) * kInt, lit(64)) + lit(1)).cast("int"))
      val bit = call_function("shiftright", kInt, pmod(i, lit(4)).cast("int"))
        .bitwiseAND(lit(1))
      ((lit(1) - lit(2) * bit).cast("float") * src).cast("float")
    })
  }

  def main(args: Array[String]): Unit = {
    val spark = Tables.session("scale-gen")
    run(spark,
      args.lift(0).getOrElse("/root/testdata/sf0.1"),
      args.lift(1).getOrElse("target/sf1"),
      args.lift(2).map(_.toInt).getOrElse(10))
    spark.stop()
  }

  /** Write a `copies`× scale point of `src` to `out` (see object doc for
    * the replication scheme). Separate from [[main]] so specs can run it
    * on the shared test session. */
  def run(spark: org.apache.spark.sql.SparkSession, src: String, out: String,
          copies: Int): Unit = {
    // Collision-free key stride, derived from the DATA: the smallest
    // power of 10 (≥ the historical 10⁷, so first-decade outputs are
    // byte-identical to earlier rounds) strictly above every key in the
    // source. A FIXED stride collides the moment ScaleGen is applied to
    // its own output — sf1 ids reach 9·10⁷, so sf1→sf10 under stride 10⁷
    // merged id 10⁷+0·s with id 0+1·s into one doc_id carrying two
    // documents' shingles, which the sf10 cost-curve gate caught as a
    // zero Jaccard denominator. One power-of-10 stride shared by ALL key
    // columns keeps cross-table references (orderkey/custkey/partkey) in
    // lockstep. Driver reads one max per table — catalog-sized.
    val keyed = Seq(
      "customer" -> Seq("c_custkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "part" -> Seq("p_partkey"),
      "supplier" -> Seq("s_suppkey"),
      "events" -> Seq("event_id", "user_id"),
      "embeddings" -> Seq("vec_id"),
      "documents" -> Seq("doc_id"))
    val maxKey: Long = keyed.map { case (n, ks) =>
      val maxes = ks.map(k => max(col(k).cast("long")))
      val top = if (maxes.size == 1) maxes.head else greatest(maxes: _*)
      Tables.load(spark, src, n).agg(top.as("m")).head().getLong(0)
    }.max
    val stride = Iterator.iterate(Stride)(_ * 10).dropWhile(_ <= maxKey).next()
    require(stride.toDouble * copies < Long.MaxValue.toDouble, "stride overflow")

    def replicated(name: String, keys: String*) = {
      val df = Tables.load(spark, src, name)
        .withColumn("_k", explode(sequence(lit(0L), lit(copies - 1L))))
      keys.foldLeft(df)((d, c) => d.withColumn(c, col(c) + col("_k") * stride))
    }

    Seq("region", "nation").foreach { n =>
      Tables.load(spark, src, n).write.mode("overwrite").parquet(s"$out/$n.parquet")
    }
    Seq(
      "customer" -> Seq("c_custkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "part" -> Seq("p_partkey"),
      "supplier" -> Seq("s_suppkey"),
      "events" -> Seq("event_id", "user_id")
    ).foreach { case (n, ks) =>
      replicated(n, ks: _*).drop("_k").write.mode("overwrite").parquet(s"$out/$n.parquet")
    }
    require(copies <= 64, "embedding permutations are distinct only for copies <= 64")
    replicated("embeddings", "vec_id")
      .withColumn("embedding", perturbEmbedding(col("embedding"), col("_k")))
      // fresh label universe per copy: a clustering of an N× corpus yields
      // ~N× more blocks of the SOURCE size, not N× bigger blocks — same
      // rationale as fresh user_ids on events
      .withColumn("label", (col("label") + col("_k") * 100).cast("int"))
      .drop("_k")
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    replicated("documents", "doc_id")
      .withColumn("text",
        when(col("_k") === 0, col("text")).otherwise(
          concat_ws(" ", transform(split(col("text"), "\\s+"),
            w => concat(w, lit("zq"), col("_k"))))))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("_k")
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    println(s"[scale-gen] wrote ${copies}x of $src to $out")
  }
}
