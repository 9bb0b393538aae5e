package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Shared text / hashing primitives used by the text-analysis and dedup
  * operator families.
  *
  * Engine-portability discipline: every hash is derived from `md5` (stable
  * across engines and JVMs) rather than `hash()`/`xxhash64` (whose seeds are
  * engine-private), and every score is computed in exact integer arithmetic
  * before a final, deterministic float division. This keeps results
  * reproducible across cluster re-runs AND hash-comparable against an
  * external oracle — the distributed analogue of the reference's
  * byte-stable single-threaded output (SURVEY.md §1.4).
  */
object Texty {

  /** Tokenize on whitespace; empty-string-safe. */
  def tokens(text: Column): Column =
    filter(split(trim(text), "\\s+"), t => length(t) > 0)

  /** Distinct word k-shingles ("n-grams of tokens") of a token array. */
  def shingles(toks: Column, k: Int): Column =
    when(size(toks) >= k,
      array_distinct(transform(sequence(lit(0), size(toks) - k),
        i => concat_ws(" ", (1 to k).map(j => element_at(toks, i + j)): _*))))
      .otherwise(array().cast("array<string>"))

  /** 60-bit stable base hash of a string: first 15 hex chars of md5.
    * (15 chars keeps the value positive in a signed 64-bit long on every
    * engine; `conv` parses unsigned.) */
  def baseHash60(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** SQL fragment equivalent of [[baseHash60]] for the DuckDB oracle. */
  def baseHash60Sql(expr: String): String =
    s"(('0x' || substr(md5($expr), 1, 15))::BIGINT)"
}

/** Text-analysis operators over the `documents` table (extension surface —
  * BASELINE.json north star; these are the operations an LLM training-data
  * pipeline runs at 100 TB).
  *
  * All are single-pass: tokenize → explode → aggregate, with the token
  * explosion the only row-multiplying step. At scale the explode is
  * embarrassingly parallel and the re-aggregation keys on doc_id, which is
  * the table's natural partitioning — no skew, no broadcast needed.
  */
object TextOps {
  import Texty._

  /** Top-3 distinctive terms per document — TF-IDF with a LINEAR inverse
    * document frequency: score = (tf · 10⁶) div df, descending, ties to
    * the lexicographically smaller term. The textbook log-idf is
    * deliberately replaced by the tf/df ratio because the ranking must be
    * engine-replayable bit-for-bit and libm's `log` differs in final ulps
    * across engines; the ratio keeps everything in exact integers while
    * preserving the "frequent here, rare elsewhere" ordering intent.
    *
    * Shuffle shape at scale: tf = one (doc, term)-keyed aggregate; df =
    * one term-keyed aggregate OVER the tf frame (already deduped per
    * doc, so the df aggregate moves ≤ one row per (doc, term), not one
    * per occurrence); the tf⋈df attach co-shuffles on term — df is
    * vocabulary-sized and unbounded, so it is hinted shuffle_hash rather
    * than trusted to a broadcast that OOMs on a 100 TB vocabulary; the
    * final top-k is a per-doc window over ≤ |doc vocabulary| rows. */
  def distinctiveTerms(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(Tables.load(spark, dir, "documents"))
    val tf = docs.select(col("doc_id"), explode(Texty.tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .transform(graft.Caches.cached(_)) // read twice: df aggregate + attach join
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term").asc)
    tf.join(df.hint("shuffle_hash"), "term")
      .withColumn("score", expr("(tf * 1000000) div df"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("score"), col("rnk"))
      .orderBy("doc_id", "rnk")
  }

  /** Per-document token statistics (token counting — north-star op;
    * whitespace tokenizer per the reference's string-keyed row model). */
  def tokenStats(spark: SparkSession, dir: String): DataFrame = {
    // NOT spread (r21 re-measure): Tables.spread pays off where the
    // per-row scan work is heavy (md5 shingling, regex segmentation —
    // see the call sites below); here one tokenize pass is light enough
    // that the round-robin exchange cost exceeded the single-core saving
    // (0.25 → 0.47 s at sf0.1, reproduced twice) — same verdict as
    // langId's A/B
    val docs = Tables.load(spark, dir, "documents")
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        countDistinct(col("tok")).as("n_distinct"),
        sum(length(col("tok"))).as("sum_tok_len"))
      .select(
        col("doc_id"), col("n_tokens"), col("n_distinct"),
        (col("sum_tok_len").cast("double") / col("n_tokens")).as("avg_token_len"),
        (col("n_distinct").cast("double") / col("n_tokens")).as("type_token_ratio"))
      .orderBy("doc_id")
  }

  /** Quality scoring: length + stopword-ratio heuristics (north-star op;
    * analogous to the reference's validation-pass row scoring,
    * ccmm/gtex/parsers/util.py:52-99). Integer counts → one final double
    * formula, so the score is bit-deterministic. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(Tables.load(spark, dir, "documents"))
    val stop = Seq("the", "a")
    docs.select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "lang")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("tok").isin(stop: _*), 1L).otherwise(0L)).as("n_stopwords"))
      .select(
        col("doc_id"), col("lang"), col("n_tokens"), col("n_stopwords"),
        (col("n_stopwords").cast("double") / col("n_tokens")).as("stop_ratio"),
        (least(col("n_tokens").cast("double") / lit(100.0), lit(1.0)) *
          (lit(1.0) - col("n_stopwords").cast("double") / col("n_tokens"))).as("quality"))
      .withColumn("quality_class",
        when(col("quality") >= 0.7, "high")
          .when(col("quality") >= 0.4, "mid")
          .otherwise("low"))
      .orderBy("doc_id")
  }

  /** Language identification via corpus-derived unigram profiles
    * (north-star op). Trains per-(lang, token) occurrence counts from the
    * corpus itself, scores each document against every language profile in
    * exact integer arithmetic, picks argmax with a lexicographic tiebreak.
    * Two shuffles: token-frequency build and the doc×lang score
    * aggregation keyed by doc_id. The profile attach CO-SHUFFLES on token
    * (same discipline as [[distinctiveTerms]]): the profile is
    * (lang × corpus vocabulary) counts, and a 100 TB corpus's vocabulary
    * is unbounded — broadcasting it is an executor OOM, so it is hinted
    * shuffle_hash and PlanAudit machine-asserts no BroadcastExchange.
    * Per-key build rows are ≤ n_languages, so the shuffled join's build
    * side stays tiny even on stopword-class hot tokens. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    // not spread: the token relation is evaluated twice (profile build +
    // doc-token counts), and the A/B showed the doubled repartition
    // consistently losing to the single-task tokenize here
    val docs = Tables.load(spark, dir, "documents")
    val tok = docs
      .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("tok"))
    val profile = tok.groupBy(col("lang").as("p_lang"), col("tok").as("p_tok"))
      .agg(count(lit(1)).as("p_cnt"))
    val docTok = tok.groupBy(col("doc_id"), col("lang"), col("tok"))
      .agg(count(lit(1)).as("d_cnt"))
    val scored = docTok
      .join(profile.hint("shuffle_hash"), col("tok") === col("p_tok"))
      .groupBy(col("doc_id"), col("lang"), col("p_lang"))
      .agg(sum(col("d_cnt") * col("p_cnt")).as("score"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("p_lang").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("doc_id"), col("lang"), col("p_lang").as("predicted"), col("score"),
        when(col("lang") === col("p_lang"), 1L).otherwise(0L).as("correct"))
      .orderBy("doc_id")
  }

  /** Subword ("BPE-ish") token counting (north-star op): alongside the
    * whitespace count, a regex segmentation into letter-runs, digit-runs,
    * and single symbols — the shape of a byte-pair-encoding pre-tokenizer.
    * The alternation's branches are disjoint character classes, so the
    * count is engine-independent. One narrow projection, no shuffle. */
  def bpeTokenStats(spark: SparkSession, dir: String): DataFrame = {
    // the regex segmentation is the hot row expression — spread the scan
    val docs = Tables.spread(Tables.load(spark, dir, "documents"))
    val subword = "[a-z]+|[0-9]+|[^a-z0-9\\s]"
    docs.select(
      col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_ws_tokens"),
      size(regexp_extract_all(lower(col("text")), lit(subword), lit(0))).cast("long").as("n_subword_tokens"))
      .withColumn("subword_ratio",
        col("n_subword_tokens").cast("double") / col("n_ws_tokens"))
      .orderBy("doc_id")
  }

  /** Document fingerprinting (north-star op): stable md5 content hash of the
    * whitespace-normalized text plus a 60-bit numeric fingerprint — the key
    * that exact dedup groups on. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(Tables.load(spark, dir, "documents"))
    val norm = concat_ws(" ", tokens(col("text")))
    docs.select(
      col("doc_id"),
      md5(norm).as("fp_md5"),
      Texty.baseHash60(norm).as("fp_long"))
      .orderBy("doc_id")
  }

  /** Corpus cleaning (north-star composition): the keep/drop decision a
    * training pipeline applies before anything else — drop exact
    * duplicates (keep the canonical group minimum), drop languages off
    * the [[FilterLangs]] whitelist, drop documents of quality under
    * [[FilterMinQuality]] — with per-reason tallies
    * so the filtering is auditable. Decision order is fixed
    * (duplicate → language → quality) so every document lands in exactly
    * one bucket. Composes [[DedupOps.exact]] and [[qualityScore]]: two
    * doc-keyed aggregations joined on doc_id — the corpus never shuffles
    * on anything but its natural key. */
  def corpusFilter(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents").select(col("doc_id"), col("lang"))
    val canonical = DedupOps.exact(spark, dir).select(col("doc_id"), col("is_canonical"))
    val quality = qualityScore(spark, dir).select(col("doc_id"), col("quality"))
    // anchor on the full document set: quality is LEFT-joined because a
    // zero-token document has no quality row (the tokenizer emits
    // nothing) — those docs bucket under drop_quality rather than
    // silently vanishing from the tallies
    docs.join(canonical, "doc_id")
      .join(quality, Seq("doc_id"), "left")
      .withColumn("status",
        when(col("is_canonical") === 0, "drop_duplicate")
          .when(!col("lang").isin(FilterLangs: _*), "drop_lang")
          .when(col("quality").isNull || col("quality") < FilterMinQuality, "drop_quality")
          .otherwise("kept"))
      .groupBy("status").agg(count(lit(1)).as("n_docs"))
      .orderBy("status")
  }

  private[graft] val FilterLangs: Seq[String] = Seq("de", "en", "es", "fr")
  private[graft] val FilterMinQuality: Double = 0.4

  /** Winnowing fingerprints (north-star op — the ROLLING-hash document
    * fingerprint): hash every char k-gram ([[WinnowK]]) of the normalized
    * text, slide a w-wide window ([[WinnowW]]) over the hash sequence,
    * and keep each window's minimum — the classic winnowing scheme whose
    * fingerprint set is position-robust (any shared substring of length
    * ≥ k+w-1 guarantees a shared fingerprint). One explode (k-grams) +
    * one doc-keyed window + distinct: all shuffles key on doc_id, the
    * natural partitioning.
    * Emitted row-per-fingerprint so overlap joins compose directly with
    * the inverted-index dedup pattern. */
  def winnowFingerprint(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val norm = lower(concat_ws(" ", tokens(col("text"))))
    // the cache is a required barrier (same trap as the shingle path):
    // without it projection collapse inlines the whole tokenize+lower
    // chain into the transform lambda, which higher-order functions
    // re-evaluate PER ELEMENT — O(len²) per document. The repartition
    // moves the ~1-doc-per-row frame onto doc_id BEFORE the k-gram
    // explode, so the per-doc rolling window below runs without ever
    // shuffling the exploded (×len) gram rows.
    // repartition the RAW scan first (it was below the projection until
    // r21): with the tokenizing/lowering projection ABOVE the exchange,
    // the normalization runs fanned out across the shuffle's partitions
    // instead of inside the single-split scan task
    val d = docs.repartition(col("doc_id"))
      .select(col("doc_id"), norm.as("nt"))
      .withColumn("ng", length(col("nt")) - lit(WinnowK - 1))
      .filter(col("ng") >= WinnowW) // need at least one full window
      .transform(graft.Caches.cached(_))
    val grams = d.select(col("doc_id"), col("ng"),
      posexplode(expr(s"transform(sequence(1, length(nt) - ${WinnowK - 1})," +
        s" i -> substring(nt, i, $WinnowK))")).as(Seq("pos0", "gram")))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos0").rowsBetween(0, WinnowW - 1)
    grams
      .select(col("doc_id"), col("ng"), col("pos0"),
        Texty.baseHash60(col("gram")).as("h"))
      .withColumn("mn", min(col("h")).over(win))
      .filter(col("pos0") <= col("ng") - WinnowW) // full windows only (pos0 is 0-based)
      .select(col("doc_id"), col("mn").as("fingerprint")).distinct()
      .orderBy("doc_id", "fingerprint")
  }

  private[graft] val WinnowK: Int = 8
  private[graft] val WinnowW: Int = 4

  /** Sequence packing (north-star op): assign documents to fixed
    * token-budget ([[PackBudget]]) training sequences. Documents are
    * ordered deterministically within each language stratum and cut into
    * sequences wherever the running token total crosses the budget —
    * `seq_id = (cumsum - n_tokens) div budget`, the streaming-friendly
    * first-fit-in-order policy (greedy bin packing is inherently
    * sequential; in-order cutting is what distributed packers actually
    * run). The window is PARTITIONED BY lang — never a partition-less
    * global window — so state per task is one stratum, and strata pack
    * independently exactly as a sharded packer would. */
  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(Tables.load(spark, dir, "documents"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("doc_id")
    docs.select(col("doc_id"), col("lang"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("seq_id",
        ((col("cum_tokens") - col("n_tokens")) / lit(PackBudget)).cast("long"))
      .orderBy("lang", "doc_id")
  }

  private[graft] val PackBudget: Long = 2048L

  /** Eval-set decontamination (north-star op): the overlap check a
    * training pipeline runs before anything ships — flag every corpus
    * document that shares a word-3-shingle with a held-out evaluation
    * document, so benchmark answers can't leak into training data.
    *
    * Scale shape: the eval index is BROADCAST — deliberately the opposite
    * call from [[langId]]'s profile. A language profile grows with corpus
    * vocabulary (unbounded at 100 TB), but a production eval set is a
    * FIXED benchmark suite — its shingle index is a few hundred MB
    * however big the training corpus gets, so broadcasting it turns
    * decontamination into a map-side pass over the corpus: the only
    * shuffle is the final doc_id-keyed aggregate (the table's natural
    * partitioning), and the corpus-sized shingle frame never shuffles on
    * shingle hash at all.
    *
    * HONESTY CAVEAT on the fixture: the `doc_id % EvalMod == 0` hold-out
    * used here (so the DuckDB oracle can replay the split) is 1/EvalMod
    * of the CORPUS — it grows with corpus size, so the broadcast bound
    * above does NOT hold for this stand-in eval set at 100 TB. The
    * production deployment swaps the modular filter for the real
    * benchmark table (bounded by construction); if the eval side ever
    * were corpus-proportional, the right plan flips to the langId
    * co-shuffle shape instead. */
  def decontaminate(spark: SparkSession, dir: String): DataFrame =
    decontaminateFrom(Tables.spread(Tables.load(spark, dir, "documents")))

  private[graft] val EvalMod: Long = 20L

  def decontaminateFrom(docs: DataFrame): DataFrame = {
    // cache the tokenized column BEFORE the shingle lambda: the barrier
    // stops projection collapse from inlining the split into the
    // per-element transform (which re-tokenizes per shingle — O(len²)
    // per doc; same trap as winnowFingerprint / DedupOps.shingleTable)
    val toks = graft.Caches.cached(
      docs.select(col("doc_id"), tokens(col("text")).as("toks")))
    // shingles() is per-doc distinct, so (doc_id, h) is unique pre-join
    val sh = toks
      .select(col("doc_id"), explode(shingles(col("toks"), 3)).as("sh"))
      .select(col("doc_id"), Texty.baseHash60(col("sh")).as("h"))
      .transform(graft.Caches.cached(_)) // read twice: eval index + corpus side
    val evalIdx = sh.filter(pmod(col("doc_id"), lit(EvalMod)) === 0)
      .select(col("h"), col("doc_id").as("eval_doc_id"))
    val corpus = sh.filter(pmod(col("doc_id"), lit(EvalMod)) =!= 0)
    corpus.join(broadcast(evalIdx), Seq("h"), "left")
      .groupBy("doc_id")
      .agg(
        countDistinct(col("h")).as("n_shingles"),
        countDistinct(when(col("eval_doc_id").isNotNull, col("h"))).as("n_hit_shingles"),
        countDistinct(col("eval_doc_id")).as("n_eval_docs"))
      .withColumn("contamination_ppm", expr("n_hit_shingles * 1000000 div n_shingles"))
      .withColumn("contaminated", (col("n_hit_shingles") > 0).cast("long"))
      .orderBy("doc_id")
  }

  /** Repetition scoring (north-star op): the Gopher-style repetition
    * signals a quality filter thresholds on — per document and n-gram
    * order n ∈ {2, 3}: total n-grams, the most frequent n-gram's share,
    * and the share of n-gram occurrences that are repeats (count > 1).
    * Shares are exact-integer parts-per-million (`· 10⁶ div total`), the
    * same engine-replayable discipline as [[distinctiveTerms]] — boiler-
    * plate-heavy spam pages score high and a threshold drops them.
    *
    * Both orders ride ONE explode (structs tagged with n), then two
    * aggregations keyed (doc_id, n, gram) → (doc_id, n) — doc-keyed
    * like the rest of the family, no skew (a gram key exists only
    * within its document). */
  def repetition(spark: SparkSession, dir: String): DataFrame =
    repetitionFrom(Tables.spread(Tables.load(spark, dir, "documents")))

  def repetitionFrom(docs: DataFrame): DataFrame = {
    // NON-distinct n-grams: repetition is exactly what array_distinct erases
    def grams(toks: Column, k: Int): Column =
      when(size(toks) >= k,
        transform(sequence(lit(0), size(toks) - k),
          i => concat_ws(" ", (1 to k).map(j => element_at(toks, i + j)): _*)))
        .otherwise(array().cast("array<string>"))
    // cache the tokenized column BEFORE the gram lambdas (projection-
    // collapse barrier — see decontaminateFrom)
    val toks = graft.Caches.cached(
      docs.select(col("doc_id"), tokens(col("text")).as("toks")))
    val tagged = toks.select(col("doc_id"),
        explode(concat(
          transform(grams(col("toks"), 2), g => struct(lit(2).as("n"), g.as("gram"))),
          transform(grams(col("toks"), 3), g => struct(lit(3).as("n"), g.as("gram"))))).as("g"))
      .select(col("doc_id"), col("g.n").as("n"), col("g.gram").as("gram"))
    tagged.groupBy("doc_id", "n", "gram").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id", "n")
      .agg(
        sum(col("cnt")).as("n_grams"),
        max(col("cnt")).as("top_cnt"),
        sum(when(col("cnt") > 1, col("cnt")).otherwise(0L)).as("dup_cnt"))
      .select(col("doc_id"), col("n").cast("long").as("n"), col("n_grams"),
        expr("top_cnt * 1000000 div n_grams").as("top_ppm"),
        expr("dup_cnt * 1000000 div n_grams").as("dup_ppm"))
      .orderBy("doc_id", "n")
  }

  /** Corpus mixture planning (north-star op): the step UPSTREAM of
    * [[stratifiedSample]] — derive the per-stratum sampling rates from a
    * token budget instead of receiving them. Per (lang, source) stratum:
    * document count, token count, and the keep rate
    * `min(1, budget/actual)` in exact integer ppm (the proportional-cap
    * allocation corpus mixtures use: strata under budget keep
    * everything, strata over budget downsample to the cap), plus the
    * planned post-sampling token count. Shuffle shape at scale: token
    * counts are a pure projection (`size(tokens)` — no explode), then
    * ONE aggregate on the (lang, source) key space, which is
    * catalog-sized, not corpus-sized; everything after is arithmetic on
    * ≤ |langs|·|sources| rows. The rate column feeds stratifiedSample's
    * hash gate directly. */
  def mixturePlan(spark: SparkSession, dir: String): DataFrame =
    // not spread (r21 re-measure): size(tokens()) is one light pass and
    // the fan-out exchange measured as a net loss (0.21 → 0.39 s at
    // sf0.1, reproduced twice)
    mixturePlanFrom(Tables.load(spark, dir, "documents"), PlanBudgetTokens)

  private[graft] val PlanBudgetTokens: Long = 5000L
  private[graft] val ApplyBudgetTokens: Long = 200L

  def mixturePlanFrom(docs: DataFrame, budgetTokens: Long): DataFrame = {
    docs.select(col("lang"), col("source"),
        size(tokens(col("text"))).cast("long").as("nt"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"))
      // greatest(1, ·): a stratum of only empty documents has zero
      // tokens — keep it whole (rate 1e6, planned 0) instead of letting
      // ANSI mode throw on the division
      .withColumn("rate_ppm",
        least(lit(1000000L),
          expr(s"${budgetTokens * 1000000L}L div greatest(1L, n_tokens)")))
      .withColumn("planned_tokens", expr("n_tokens * rate_ppm div 1000000"))
      .orderBy("lang", "source")
  }

  /** Apply a mixture plan to the corpus — the composition that closes the
    * planner→sampler loop: [[mixturePlan]]'s per-(lang, source) rate_ppm
    * is attached to every document and the keep decision is
    * [[stratifiedSample]]'s deterministic hash gate,
    * `hash60(doc_id) mod 1e6 < rate_ppm` — exact integers end to end, no
    * rand(), reproducible on any engine and partitioning.
    *
    * Shuffle shape at scale: the plan is catalog-sized BY CONSTRUCTION
    * (≤ |langs|·|sources| rows — it cannot grow with the corpus), so the
    * attach is an explicit `broadcast()`: the corpus side stays a pure
    * scan → project → map-side join → filter with ZERO data-sized
    * shuffles. Deriving the plan costs one (lang, source)-keyed aggregate
    * over a 3-column pruned scan — the planner's own audited shape.
    *
    * The budget ([[ApplyBudgetTokens]], 200 tokens) sits BELOW the
    * typical stratum of the synthetic corpus so most strata genuinely
    * downsample — a budget no stratum exceeds would leave the gate
    * untested. */
  def mixtureApply(spark: SparkSession, dir: String): DataFrame = {
    // not spread (r21 re-measure, same basis as mixturePlan): the corpus
    // branch is a 3-column projection and the plan branch one light
    // tokenize pass — the exchange lost 0.43 → 0.60 s at sf0.1
    val docs = Tables.load(spark, dir, "documents")
    val plan = mixturePlanFrom(docs, ApplyBudgetTokens).select("lang", "source", "rate_ppm")
    docs.select(col("doc_id"), col("lang"), col("source"))
      .join(broadcast(plan), Seq("lang", "source"))
      .filter(pmod(Texty.baseHash60(col("doc_id").cast("string")), lit(1000000L))
        < col("rate_ppm"))
      .select(col("doc_id"), col("lang"), col("source"), col("rate_ppm"))
      .orderBy("doc_id")
  }

  /** Cross-source contamination matrix (north-star op): before mixing
    * corpora, a training-data pipeline measures how much each pair of
    * sources overlaps — for every ordered source pair (source_a <
    * source_b), the number of distinct document pairs sharing at least
    * one word-8-shingle ([[OverlapK]]) and the number of distinct shared shingle
    * hashes. High off-diagonal mass means two "independent" sources are
    * actually mirrors of each other and mixing weights must account for
    * it.
    *
    * Shuffle shape at scale: every exchange — df-aggregate, hot-list
    * anti-join, self-join — keys on the shingle hash. Document frequency
    * comes from a groupBy — NOT a window count over the h partition:
    * partial aggregation absorbs hot keys map-side, where a window would
    * buffer (and spill) a boilerplate shingle's entire posting list
    * inside one task. The df > `maxDf` ([[OverlapMaxDf]]) keys become a
    * hot-list that is anti-joined away co-shuffled (the hot set is
    * corpus-dependent and unbounded, so it is hinted shuffle_hash, never
    * broadcast; the probe side streams).
    * The cap bounds per-key pair space at maxDf² and total pair output
    * at O(#shingles · maxDf) — without it a single boilerplate 8-gram
    * shared by a million documents would emit 10¹² pairs. The
    * truncation undercounts overlap carried ONLY by ultra-common
    * shingles; at k=8 words those are boilerplate (headers, license
    * blurbs) whose exclusion is standard practice and usually desired.
    * The cap lives in the oracle SQL too, so the gate verifies the
    * truncated semantics, not an idealized one. The output matrix is
    * ≤ |sources|² rows — driver-safe by construction. */
  def crossSourceOverlap(spark: SparkSession, dir: String): DataFrame =
    crossSourceOverlapFrom(Tables.spread(Tables.load(spark, dir, "documents")), OverlapMaxDf)

  private[graft] val OverlapK: Int = 8
  private[graft] val OverlapMaxDf: Int = 64

  def crossSourceOverlapFrom(docs: DataFrame, maxDf: Int): DataFrame = {
    // cache the tokenized column BEFORE the shingle lambda (projection-
    // collapse barrier — see decontaminateFrom)
    val toks = graft.Caches.cached(
      docs.select(col("doc_id"), col("source"), tokens(col("text")).as("toks")))
    // shingles() is per-doc distinct, so (doc_id, h) is unique and the
    // groupBy count below is exactly the document frequency
    val sh = toks
      .select(col("doc_id"), col("source"),
        explode(shingles(col("toks"), OverlapK)).as("sh"))
      .select(col("doc_id"), col("source"), Texty.baseHash60(col("sh")).as("h"))
      .transform(graft.Caches.cached(_)) // read twice: df aggregate + index
    // hot-list exclusion: partial-aggregated count (map-side combine
    // absorbs hot keys), then a co-shuffled anti-join that STREAMS the
    // probe side — never a window that buffers a hot posting list in one
    // task, never a broadcast of the unbounded hot set
    val hot = sh.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select("h")
    // localCheckpoint, not Caches.cached (r22): the checkpoint's
    // row-format blocks scan cheaper for the self-join's two readers than
    // the columnar cache (the same change A/B'd at 1.10× on the
    // ngram-Jaccard twin of this pipeline, tools/ab_r22b.jsonl; footprint
    // unchanged). It does not carry the anti join's partitioning: its
    // scan reports UnknownPartitioning, and both self-join sides
    // re-exchange on h
    val pruned = sh.join(hot.hint("shuffle_hash"), Seq("h"), "left_anti")
      .localCheckpoint() // read twice: both sides of the self-join
    // the index is corpus-sized: co-shuffle on h rather than letting AQE
    // broadcast it at toy SF — the same discipline as distinctiveTerms'
    // df attach
    pruned.as("a").join(pruned.as("b").hint("shuffle_hash"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(
        countDistinct(col("a.doc_id"), col("b.doc_id")).as("n_doc_pairs"),
        countDistinct(col("a.h")).as("n_shared_shingles"))
      .orderBy("source_a", "source_b")
  }

  /** Chunk-level exact dedup — the C4/RefinedWeb "line dedup" move at
    * chunk granularity (the corpus has no newlines, so the unit is
    * consecutive non-overlapping [[ChunkTokens]]-token windows, last
    * partial chunk included): a chunk instance survives iff it is the
    * GLOBAL first occurrence of its text, first = lexicographic min
    * (doc_id, chunk_idx); every later copy — within a doc or across the
    * corpus — is dropped, and each doc is reassembled from its surviving
    * chunks in order.
    *
    * 100 TB shape: the explode is bounded (n_tokens / ChunkTokens rows
    * per doc); first-wins is ONE groupBy on the 60-bit chunk hash whose
    * min(struct) combines map-side, so a boilerplate chunk with millions
    * of copies still ships one candidate per map partition; the winner
    * attach co-shuffles on the same hash (build side = 1 row per hash —
    * hinted shuffle_hash, never broadcast: winners are corpus-sized);
    * reassembly keys on doc_id, the table's natural partitioning. No
    * corpus-wide window, no self-join — pair space never materializes,
    * which is what makes chunk dedup cheaper than document near-dup. */
  def chunkDedup(spark: SparkSession, dir: String): DataFrame =
    chunkDedupFrom(Tables.spread(Tables.load(spark, dir, "documents")), ChunkTokens)

  private[graft] val ChunkTokens: Int = 16

  def chunkDedupFrom(docs: DataFrame, chunkTokens: Int): DataFrame = {
    val chunks = docs
      .select(col("doc_id"), Texty.tokens(col("text")).as("ws"))
      .filter(size(col("ws")) > 0)
      .select(col("doc_id"),
        posexplode(transform(
          expr(s"sequence(0, CAST((size(ws) - 1) DIV $chunkTokens AS INT))"),
          i => array_join(slice(col("ws"), i * chunkTokens + 1, lit(chunkTokens)), " "))))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
        col("col").as("chunk"),
        Texty.baseHash60(col("col")).as("h"))
    val winners = chunks.groupBy("h")
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("w"))
      .select(col("h"), col("w.doc_id").as("w_doc"), col("w.chunk_idx").as("w_idx"))
    chunks.join(winners.hint("shuffle_hash"), "h")
      .withColumn("kept",
        col("doc_id") === col("w_doc") && col("chunk_idx") === col("w_idx"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        array_join(array_sort(collect_list(when(col("kept"),
          struct(col("chunk_idx"), col("chunk"))))).getField("chunk"), " ")
          .as("dedup_text"))
      .orderBy("doc_id")
  }

  /** Deterministic corpus shuffle with a GLOBAL position — how you
    * shuffle 100 TB of training data without the classic scale-killer (a
    * partition-less `row_number` window that funnels the corpus through
    * one task). Two-pass distributed total-order rank:
    *
    *  1. shuffle key k = 60-bit md5 of the doc id (seeded with
    *     [[ShuffleSeed]] — re-keying the seed is a fresh epoch
    *     permutation); bucket = fixed-width
    *     range of the hash domain via pure-integer range mapping
    *     `((k >> 20) · nb) >> 40` — monotone in k, balanced by hash
    *     uniformity, no sampling pass and no nondeterministic
    *     RangePartitioner. The bucket count nb is DERIVED FROM THE
    *     CORPUS COUNT (a parquet-metadata count, no scan):
    *     nb = min(⌈n/4096⌉, 65536) — ~4 k rows per rank window at
    *     measurable scale so a ScaleGen decade shows flat per-bucket
    *     populations, capped at 64 Ki buckets so the offsets table
    *     stays catalog-sized; past the cap per-bucket size grows as
    *     n/65536 (≈1.5 M rows at 10¹¹ docs — a bounded per-task sort,
    *     vs the corpus/128 funnel of the fixed 128-bucket first cut
    *     that r9/r10 flagged as a scale-killer);
    *  2. per-bucket counts (tiny aggregate) → cumulative offsets — the
    *     only global window runs over ≤ 65536 catalog-sized rows —
    *     broadcast back; position = bucket offset + (row_number within
    *     bucket ordered by (k, doc_id)).
    *
    * The result equals the single-node `row_number() OVER (ORDER BY k,
    * doc_id)` bit-for-bit (the oracle runs exactly that, and re-derives
    * nb with the same integer arithmetic) while every data-sized step
    * stays partition-parallel. */
  def corpusShuffle(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.rowCount(spark, dir, "documents")
    val docs = Tables.spread(Tables.load(spark, dir, "documents")) // md5 keying: the hot row step
    val nb = math.min((n + 4095L) / 4096L, 65536L).max(1L)
    val keyed = docs.select(col("doc_id"),
        Texty.baseHash60(concat(lit(ShuffleSeed + ":"), col("doc_id").cast("string"))).as("k"))
      .withColumn("bucket", shiftright(shiftright(col("k"), 20) * lit(nb), 40))
    val offsets = keyed.groupBy("bucket").agg(count(lit(1)).as("bn"))
      .withColumn("off",
        coalesce(sum(col("bn")).over(
          Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("bucket"), col("off"))
    keyed.join(broadcast(offsets), "bucket")
      .withColumn("position",
        col("off") + row_number().over(
          Window.partitionBy("bucket").orderBy("k", "doc_id")) - 1)
      .select(col("position"), col("doc_id"), col("k").as("shuffle_key"),
        col("bucket"))
      .orderBy("position")
  }

  private[graft] val ShuffleSeed: String = "epoch0"
  private[graft] val SampleRates: Map[String, Double] = Map("en" -> 0.4)

  /** Deterministic per-language stratified sampling (north-star op): a
    * training-data pipeline downsamples over-represented strata (e.g.
    * keep 40% of English, all of everything else). The keep decision is
    * `hash60(doc_id) mod 1e6 < rate·1e6` — a pure projection: ONE scan,
    * ZERO shuffles, identical result on any engine and any partitioning
    * (no `rand()`, whose draw order is partition-dependent), and the
    * sample is reproducible across reruns — the property lineage
    * tracking needs. Rates ride in a literal map ([[SampleRates]],
    * broadcast-equivalent); unlisted languages default to 1.0. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val rateCol = coalesce(
      element_at(map(SampleRates.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*),
        col("lang")),
      lit(1.0))
    docs.select(col("doc_id"), col("lang"),
        (pmod(Texty.baseHash60(col("doc_id").cast("string")), lit(1000000L)) <
          rateCol * lit(1000000L)).as("kept"))
      .filter(col("kept"))
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")
  }

  /** Per-document self-information quality score — the CCNet-style LM
    * perplexity gate (Wenzek et al. 2020, public) collapsed to its
    * unigram core and QUANTIZED TO WHOLE BITS so the contract is exact
    * across engines: a token's information is
    * `bitlen(N) - bitlen(cf)` (= floor-log2 of N/cf up to ±1), where
    * bitlen is `length(bin(count))` — an integer both Spark and DuckDB
    * compute identically, with no float log anywhere (the same
    * cross-engine-exactness motive as distinctiveTerms' linear idf and
    * the covariance digit strings). Rare-token-dense documents score
    * high; boilerplate scores low. The class thresholds compare exact
    * integers (sum vs 2n / n), so the only double in the output is the
    * final mean. Shuffles: one corpus-frequency aggregate, one per-doc
    * tf aggregate, a tf⋈cf attach CO-SHUFFLED on the token (a 100 TB
    * vocabulary is unbounded — never a broadcast build side), one
    * per-doc roll-up. The 1-row total broadcasts. */
  def selfInformation(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(Tables.load(spark, dir, "documents"))
    val tok = graft.Caches.cached(
      docs.select(col("doc_id"), explode(Texty.tokens(col("text"))).as("tok")))
    val tf = tok.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val cf = tok.groupBy("tok").agg(count(lit(1)).as("cf"))
    val total = tok.agg(count(lit(1)).as("n_total"))
    val scored = tf.join(cf.hint("shuffle_hash"), "tok")
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("tf"),
        (length(bin(col("n_total"))) - length(bin(col("cf")))).cast("long").as("bits"))
    scored.groupBy("doc_id")
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("tf") * col("bits")).as("sum_rarity_bits"))
      .select(col("doc_id"), col("n_tokens"), col("sum_rarity_bits"),
        (col("sum_rarity_bits").cast("double") / col("n_tokens")).as("mean_rarity_bits"),
        when(col("sum_rarity_bits") >= col("n_tokens") * 2, "rare")
          .when(col("sum_rarity_bits") >= col("n_tokens"), "mixed")
          .otherwise("common").as("rarity_class"))
      .orderBy("doc_id")
  }

  /** Head size for [[vocabCoverage]] — ONE graft-visible constant shared
    * with the DuckDB twin (Oracles.textVocabCoverage interpolates it), so
    * the two engines cannot silently diverge the way a free `k` parameter
    * against a hard-coded oracle literal could (r13 advice). */
  private[graft] val VocabCoverageK: Int = 32

  /** Zipf head coverage — the tokenizer/mixture-planning statistic: how
    * much of the corpus the top-K tokens cover. One vocabulary-sized
    * aggregate, then a DISTRIBUTED top-K (orderBy+limit — TakeOrdered,
    * never a global window over the unbounded 100 TB vocabulary), and
    * the running coverage is a window over the K surviving rows only.
    * Coverage is exact integer ppm (cum·1e6 floor-div total), ties
    * break lexicographically. */
  def vocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(Tables.load(spark, dir, "documents"))
    val tok = graft.Caches.cached(
      docs.select(explode(Texty.tokens(col("text"))).as("tok")))
    val cf = tok.groupBy("tok").agg(count(lit(1)).as("cf"))
    val total = tok.agg(count(lit(1)).as("n_total"))
    val head = cf.orderBy(col("cf").desc, col("tok").asc).limit(VocabCoverageK)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cf").desc, col("tok").asc)
    head
      .withColumn("rnk", row_number().over(w).cast("long"))
      .withColumn("cum_cf", sum(col("cf")).over(w))
      .crossJoin(broadcast(total))
      .select(col("rnk"), col("tok").as("term"), col("cf"), col("cum_cf"),
        // DECIMAL(38,0) keeps cum·1e6 exact past ~9.2e12 corpus tokens
        // (long arithmetic would wrap silently where the DuckDB twin
        // errors); IntegralDivide on decimals is an exact floor
        expr("CAST(cum_cf AS DECIMAL(38,0)) * 1000000 DIV n_total").as("coverage_ppm"))
      .orderBy("rnk")
  }
}
